"""The ANN serving surface: one layout, its declared builders, and the
session warm-up.

The serving layout is the declared v25 layout (similarity.V25_Q): 32
trained spherical-k-means cells probed 8 at a time, so a query reads
the same 25% of the index as the 8-cell calibration queries (v5/v19)
and the recall gain over them is quantizer capacity, not extra bytes
(measured by v24's ncells axis and gated in test_serving_default).
Batch serving is the declared builders themselves — ``ann_topk`` is
v25, ``ivfpq_topk`` is v26, ``filtered_ann_topk`` is v29 — so what a
serving session returns is exactly what the driver attests.  The
streaming tiers (streaming/ann.py, streaming/pq_ann.py) take the same
layout's cells and centroids from ``serving_cells_probes`` and
``serving_centroids``.

``warm_session_index`` builds every session-index artifact up front.  A
serving session (the online ANN path, a dashboard issuing the declared
queries, the driver's correctness sweep) otherwise pays each index
build inside whichever query touches it first.  One call materializes
the shared feeds — gated corpus, LSH signature table, IVF cells,
exact-eval ground truth, shingle/MinHash/SimHash tables — so every
later query runs at its warm cost.  It is deliberately an explicit
call: nothing in the engine warms implicitly, so batch-only sessions
never pay for artifacts they don't use.  It returns {artifact:
row_count} — the counts are the materializing actions, and non-zero
counts double as a cheap ingest sanity check.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from .operators.similarity import V25_NPROBE, V25_Q, _cells_probes, v25, v26, v29

SERVING_Q = V25_Q
SERVING_NPROBE = V25_NPROBE
SERVING_NCELLS = SERVING_Q.ncells

ann_topk = v25
ivfpq_topk = v26
filtered_ann_topk = v29


def serving_cells_probes(spark: SparkSession, sf_dir: str):
    """(e, cells, probes) of the serving layout at SERVING_NPROBE."""
    return _cells_probes(spark, sf_dir, SERVING_Q, SERVING_NPROBE)


def serving_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The serving layout's centroid table collected as the closure
    constant the streaming tiers take ((cid, vector) sorted by cid —
    n_cells x dim, a few KB)."""
    rows = SERVING_Q.centroids(spark, sf_dir).orderBy("cid").collect()
    return [(r["cid"], list(r["ce"])) for r in rows]


def warm_session_index(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    from .operators.dedup import (
        _max_df,
        minhash_sig_index,
        shingle_index,
        simhash_code_index,
    )
    from .operators.similarity import (
        N_CELLS,
        N_PROBE,
        SEED_Q,
        SIG_PLANES,
        TRAINED_Q,
        V12_NQ,
        _emb,
        _exact_topk,
        _exact_topk_v12,
        _pq_index,
        _rpq_index,
        _sig,
    )

    counts: dict[str, int] = {}
    counts["emb"] = _emb(spark, sf_dir).count()
    counts[f"sig{SIG_PLANES}"] = _sig(spark, sf_dir, SIG_PLANES).count()
    _, cells, probes = _cells_probes(spark, sf_dir, SEED_Q, N_PROBE)
    counts["ivf_cells"] = cells.count()
    counts["ivf_probes"] = probes.count()
    _, _, probes_w = _cells_probes(spark, sf_dir, SEED_Q, N_PROBE, V12_NQ)
    counts["ivf_probes_eval"] = probes_w.count()
    _, _, probes_sweep = _cells_probes(spark, sf_dir, SEED_Q, N_CELLS, V12_NQ)
    counts["ivf_probes_sweep"] = probes_sweep.count()
    _, tcells, tprobes = _cells_probes(spark, sf_dir, TRAINED_Q, N_PROBE)
    counts["tivf_cells"] = tcells.count()
    counts["tivf_probes"] = tprobes.count()
    # the serving layout — what ann_topk/ivfpq_topk and the streaming
    # tiers actually serve
    _, scells, sprobes = serving_cells_probes(spark, sf_dir)
    counts[f"tivf{SERVING_NCELLS}_cells"] = scells.count()
    counts[f"tivf{SERVING_NCELLS}_probes"] = sprobes.count()
    _, _, tprobes_w = _cells_probes(spark, sf_dir, TRAINED_Q, N_PROBE, V12_NQ)
    counts["tivf_probes_eval"] = tprobes_w.count()
    # full-probe sweep table for v22 — warmed exactly like the seed
    # quantizer's (ivf_probes_sweep for v18), so the two fused sweeps
    # bench under the same warm-index methodology
    _, _, tprobes_sweep = _cells_probes(spark, sf_dir, TRAINED_Q, N_CELLS, V12_NQ)
    counts["tivf_probes_sweep"] = tprobes_sweep.count()
    _, _, pq_codes = _pq_index(spark, sf_dir)
    counts["pq_codes"] = pq_codes.count()
    counts["rpq_codes"] = _rpq_index(spark, sf_dir)[2].count()
    counts["trpq_codes"] = _rpq_index(spark, sf_dir, quant=TRAINED_Q)[2].count()
    counts["exact_topk"] = _exact_topk(spark, sf_dir).count()
    counts["exact_topk_v12"] = _exact_topk_v12(spark, sf_dir).count()
    counts["shingles"] = shingle_index(spark, sf_dir).count()
    counts["mh_sig16"] = minhash_sig_index(spark, sf_dir).count()
    counts["simhash16"] = simhash_code_index(spark, sf_dir).count()
    counts["simhash64"] = simhash_code_index(spark, sf_dir, wide=True).count()
    _max_df(spark, sf_dir)  # scalar stat; cached, nothing to count
    return counts
