"""Serving warm-up: build every session-index artifact up front.

A serving session (the online ANN path in streaming/ann.py, a dashboard
issuing the declared queries, the driver's correctness sweep) otherwise
pays each index build inside whichever query touches it first.  One call
here materializes the shared feeds — gated corpus, LSH signature table,
IVF cells, exact-eval ground truth, shingle/MinHash/SimHash tables — so
every later query runs at its warm cost.  This is the session twin of a
lake pipeline's "build the index tables, then open the query endpoint"
startup, and it is deliberately an explicit call: nothing in the engine
warms implicitly, so batch-only sessions never pay for artifacts they
don't use.

Returns {artifact: row_count} — the counts are the materializing actions,
and non-zero counts double as a cheap ingest sanity check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# The coarse quantizer every serving surface uses unless the caller
# explicitly asks for the seed layout.  "trained" = spherical-k-means
# cells — the r10 measurement chain's pick (v20: 2-probe cell
# membership recall 0.35 -> 0.51; v21: composed IVFADC recall@5
# 0.27 -> 0.38 at identical nprobe/bytes/shortlist; v22: trained@1
# nprobe matches seed@2, halving the index bytes read per query).  The
# seed layout stays first-class as the calibration baseline (v5/v13 and
# their oracles are unchanged); flipping this constant back is the
# entire rollback.
DEFAULT_QUANTIZER = "trained"

# The serving CELL COUNT (r11/r12/r13 verdict chain, acting on what v24
# measures each round): ncells is the knob that grows with the corpus at
# 100 TB (FAISS sizes it ~sqrt(N)), and each v24 extension has measured
# finer cells buying recall at CONSTANT scan fraction.  8 -> 16 (r12
# flip): membership recall 0.500 -> 0.520 (sf0.01), 0.448 -> 0.572
# (sf0.001).  16 -> 32 (r13 flip): membership 0.520 -> 0.608 (sf0.01),
# 0.572 -> 0.600 (sf0.001); composed v21-shape IVFADC recall@5
# 0.408 -> 0.460 (sf0.01) and 0.400 -> 0.404 (sf0.001) at the same 25%
# scan (test-gated strictly-no-worse in test_serving_default.py).
# SERVING_NPROBE holds the scan fraction at the 8-cell default's
# nprobe/ncells = 2/8: a serving query still reads 25% of the index —
# the recall gain is pure quantizer capacity, not extra bytes.  The
# declared queries v19/v21 stay on the 8-cell layout as calibration
# baselines with unchanged oracles; rolling back = SERVING_NCELLS = 16
# here + V25_NCELLS = 16 in similarity.py.
SERVING_NCELLS = 32
SERVING_NPROBE = SERVING_NCELLS // 4  # = the calibration scan fraction

# The corpus-adaptive capacity rule (r15, acting on the banked r14
# ncells_axis receipts).  At 100 TB ncells is the knob that must GROW
# with the corpus (FAISS sizes it ~sqrt(N)); a fixed 32 is right for the
# declared eval corpora (500-2000 vectors: sqrt(N) = 22-45, so 64 cells
# starves) and wrong for a grown one (the 20k-vector synth corpus
# measured membership recall 0.584/0.656/0.728/0.796 at 16/32/64/128
# cells, constant 25% scan, with the composed v21-shape IVFADC
# strictly-no-worse gate PASSING for 64-vs-32 — SCALE_SLOPE.json
# ncells_axis).  The rule flips only through gate-validated steps:
# - floor = SERVING_NCELLS (32): gate-measured strictly-no-worse on
#   every declared corpus (the r12/r13 flip chain), never size down;
# - 64 engages at n_vectors >= 64^2 (the sqrt-N support bound) — the
#   composed 64-vs-32 gate receipt is banked;
# - deeper layouts (128: membership recall rises, composed gate banked
#   r15) engage the same way, each step requiring its own composed
#   receipt before joining the ladder.
SERVING_NCELLS_LADDER = (32, 64, 128)


def serving_ncells_for(n_vectors: int) -> int:
    """The serving cell count for a corpus of ``n_vectors``: the deepest
    gate-validated ladder entry c with c*c <= n_vectors (sqrt-N support),
    floored at the declared SERVING_NCELLS.  Declared corpora (500-2000
    vectors) size to exactly SERVING_NCELLS, so the declared v25-v29
    contract and its oracles are unchanged by construction."""
    best = SERVING_NCELLS
    for c in SERVING_NCELLS_LADDER:
        if c * c <= n_vectors:
            best = c
    return best


def serving_seeds_for(n_vectors: int) -> tuple:
    """The seed pool for :func:`serving_ncells_for`'s layout: the first
    ncells ids of the extended deterministic pool (declared
    TIVF_SEED_POOL first — so any layout's first 32 cells ARE the
    declared calibration construction — extended past 32 on the same
    deterministic stride the ncells_axis measurement used, every id
    < 500 so it exists at every SF and in every synth corpus)."""
    from .operators.similarity import TIVF_SEED_POOL

    n = serving_ncells_for(n_vectors)
    pool = list(TIVF_SEED_POOL)
    j = 0
    while len(pool) < n:
        cand = (j * 7 + 3) % 500
        if cand not in pool:
            pool.append(cand)
        j += 1
    return tuple(pool[:n])

# seed-quantizer ROLLBACK plans, one per tier: the trained default builds
# the parameterized serving plan directly (ann_topk/ivfpq_topk below), so
# these names are read ONLY on the DEFAULT_QUANTIZER='seed' branch
_ANN_SEED_QUERY = "v5_ivf_topk"
_IVFPQ_SEED_QUERY = "v13_ivfpq_topk"


def serving_seeds() -> tuple:
    """The DEFAULT quantizer's seed pool: the first SERVING_NCELLS ids of
    the deterministic TIVF_SEED_POOL (whose first 8 ARE the calibration
    layout's IVF_SEED_IDS — the v24 sweep's construction, so the 8-cell
    calibration rows stay directly comparable)."""
    from .operators.similarity import V25_POOL

    # raise, not assert: declared layout == dispatch layout must survive
    # python -O (r12 ADVICE — bare asserts vanish under optimized bytecode)
    if SERVING_NCELLS != len(V25_POOL):
        raise RuntimeError(
            f"serving layout drift: SERVING_NCELLS={SERVING_NCELLS} but the "
            f"declared v25 pool has {len(V25_POOL)} cells"
        )
    return V25_POOL


def serving_quantizer(name: str | None = None):
    """The ``name`` quantizer ("seed" or "trained"; default
    DEFAULT_QUANTIZER) at the serving layout — the single dispatch point
    batch plans, index builders and the streaming tiers share, so 'which
    cells does serving use' is answered in exactly one place."""
    from .operators.similarity import SEED_Q, Quantizer

    if (name or DEFAULT_QUANTIZER) == "trained":
        return Quantizer(serving_seeds(), trained=True)
    return SEED_Q


def serving_cells_probes(
    spark: SparkSession, sf_dir: str, max_probe: int | None = None, nq: int | None = None
):
    """(e, cells, probes) for the DEFAULT serving quantizer AND layout.
    ``max_probe`` defaults to SERVING_NPROBE (the constant-scan-fraction
    probe count)."""
    from .operators.similarity import N_QUERY_VECS, _cells_probes

    mp = SERVING_NPROBE if max_probe is None else max_probe
    q = N_QUERY_VECS if nq is None else nq
    return _cells_probes(spark, sf_dir, serving_quantizer(), mp, q)


def filtered_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FILTERED ANN serving default: label-predicate search at the
    serving layout with the per-predicate probe dispatch (v29 — v28's
    recall measurement acted on).  Each query's probe depth scales with
    its label slice's selectivity under a constant candidate budget,
    clamped to [SERVING_NPROBE, SERVING_NCELLS]; unselective predicates
    serve at exactly the fixed-nprobe v27 plan.  Row-equality pinned to
    the declared query v29 in test_serving_default."""
    from .operators.similarity import _probe_topk_plan

    return _probe_topk_plan(
        spark, sf_dir, serving_quantizer("trained"), SERVING_NPROBE, label_depth=True
    )


def serving_centroids(spark: SparkSession, sf_dir: str) -> list[tuple[int, list[float]]]:
    """The DEFAULT quantizer's centroid table collected as the
    broadcast-small closure constant the streaming tiers take
    ((cid, vector) sorted by cid — n_cells x dim, a few KB).  Streaming
    ann/pq_ann stay quantizer-agnostic operators; this is where a
    serving session gets 'the' centroids without naming a quantizer."""
    rows = serving_quantizer().centroids(spark, sf_dir).orderBy("cid").collect()
    return [(r["cid"], list(r["ce"])) for r in rows]


def ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The batch ANN serving default: cell-probe top-k with exact
    in-cell cosine over the DEFAULT quantizer at the SERVING layout
    (SERVING_NCELLS trained cells, SERVING_NPROBE probes — v19's plan
    shape at the v24-measured capacity; v19/v5 are the 8-cell
    calibration baselines)."""
    from .operators.relational import QUERIES
    from .operators.similarity import _probe_topk_plan

    if DEFAULT_QUANTIZER == "trained":
        return _probe_topk_plan(spark, sf_dir, serving_quantizer(), SERVING_NPROBE)
    return QUERIES[_ANN_SEED_QUERY].build(spark, sf_dir)


def ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The codes-only (IVFADC) serving default: SERVING-layout trained
    cells x raw PQ codes x exact shortlist re-rank (v21's plan shape at
    the v24-measured capacity; v21/v13 are the 8-cell calibration
    baselines)."""
    from .operators.relational import QUERIES
    from .operators.similarity import N_QUERY_VECS, _pq_topk_plan

    if DEFAULT_QUANTIZER == "trained":
        return _pq_topk_plan(
            spark, sf_dir, N_QUERY_VECS, quant=serving_quantizer(), nprobe=SERVING_NPROBE
        )
    return QUERIES[_IVFPQ_SEED_QUERY].build(spark, sf_dir)


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
        _cells_probes,
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
    # the SERVING layout (SERVING_NCELLS trained cells at the constant
    # scan fraction) — what ann_topk/ivfpq_topk and the streaming tiers
    # actually serve
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
