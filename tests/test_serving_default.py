"""The ANN serving DEFAULT is the trained quantizer at the SERVING layout
(r10 verdict item 2, r11 verdict item 2).

v20/v21 measured the trained spherical-k-means cells strictly better
than the seed cells at identical query cost (membership recall
0.35 -> 0.51, composed IVFADC recall@5 0.27 -> 0.38) — that flipped the
default quantizer in r11.  v24 then measured the ncells axis at CONSTANT
scan fraction (nprobe = ncells/4, every point reads 25% of the index):
membership recall 0.500 -> 0.520 (sf0.01) and 0.448 -> 0.572 (sf0.001)
moving 8 -> 16 cells — that flipped the serving LAYOUT to 16 cells in
r12 — and 0.520 -> 0.608 (sf0.01) / 0.572 -> 0.600 (sf0.001) moving
16 -> 32, with the composed v21-shape check agreeing (recall@5
0.408 -> 0.460 and 0.400 -> 0.404) — that flips the layout to 32 cells
in r13.  These tests pin every serving surface to
that layout and gate the flip with strictly-no-worse recall asserts, so
a silent drift back (or a layout change that loses recall) fails loudly.
The 8-cell queries (v19/v21) and seed-cell queries (v5/v13) stay
registered as calibration baselines with unchanged oracles.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fifteenmc_spark import serving
from fifteenmc_spark.operators.relational import QUERIES
from fifteenmc_spark.operators.similarity import (
    IVF_SEED_IDS,
    N_CELLS,
    N_PROBE,
    N_QUERY_VECS,
    SEED_Q,
    TIVF_SEED_POOL,
    TRAINED_Q,
    V25_POOL,
    V25_Q,
    V12_NQ,
    Quantizer,
    _cells_probes,
    _emb,
    _exact_topk_v12,
    _pq_topk_plan,
    _probe_topk_plan,
    _recall_agg,
)
from fifteenmc_spark.streaming.pq_ann import build_pq_serving_index


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_serving_default_is_trained_at_32_cells():
    assert serving.SERVING_NCELLS == 32
    assert len(serving.SERVING_Q.seeds) == serving.SERVING_NCELLS
    # the first 8 seed ids ARE the calibration layout's, so the 8-cell
    # rows stay directly comparable (the v24 sweep's construction)
    assert serving.SERVING_Q.seeds[:8] == IVF_SEED_IDS
    # constant scan fraction: serving reads the same 25% of the index per
    # query as the 8-cell calibration default (N_PROBE / N_CELLS)
    assert serving.SERVING_NPROBE / serving.SERVING_NCELLS == N_PROBE / N_CELLS


def test_quantizer_keys_name_the_existing_index_entries():
    # the session-index keys a quantizer derives are the ones the seed,
    # trained and serving layouts have always used, so a warmed session
    # serves the same entries
    assert SEED_Q.key_prefix == "ivf_"
    assert TRAINED_Q.key_prefix == "tivf_"
    assert Quantizer(V25_POOL, trained=True).key_prefix == "tivf_c32_"
    assert Quantizer(TIVF_SEED_POOL[:8], trained=True) == TRAINED_Q


def test_quantizer_rejects_layouts_without_an_index(spark, sf_small):
    # ValueError, not assert, so the guards hold under python -O: the
    # seed quantizer is the IVF_SEED_IDS layout only, and residual codes
    # exist for the default 8-cell pool only
    with pytest.raises(ValueError, match="trained=True"):
        Quantizer(TIVF_SEED_POOL[:16])
    with pytest.raises(ValueError, match="residual codes"):
        _pq_topk_plan(
            spark, sf_small, residual=True, quant=Quantizer(TIVF_SEED_POOL[:16], trained=True)
        )


def test_rejected_residual_request_registers_no_index_entry(spark, sf_small):
    # a layout without residual codes is rejected before the coarse
    # stage runs: the failed request leaves no centroid, score, cell or
    # probe entry behind in the session index (12 cells: a pool no
    # declared query or serving path builds)
    from fifteenmc_spark.operators import session_index as SI

    before = set(SI._SESSION_INDEX)
    with pytest.raises(ValueError, match="residual codes"):
        _pq_topk_plan(
            spark, sf_small, V12_NQ, Quantizer(TIVF_SEED_POOL[:12], trained=True), residual=True
        )
    assert set(SI._SESSION_INDEX) == before


def test_ann_topk_default_pins_to_v25(spark, sf_small):
    # the serving default IS the declared (driver-attested) query v25 —
    # the dispatch point and the registry cannot drift apart silently
    got = _rows(serving.ann_topk(spark, sf_small))
    assert got and got == _rows(QUERIES["v25_serving_tivf_topk"].build(spark, sf_small))
    assert got == _rows(
        _probe_topk_plan(spark, sf_small, serving.SERVING_Q, serving.SERVING_NPROBE)
    )
    # the layout flip is real: the serving default no longer equals the
    # 8-cell calibration query (whose oracle is unchanged)
    assert got != _rows(QUERIES["v19_tivf_topk"].build(spark, sf_small))


def test_ivfpq_topk_default_pins_to_v26(spark, sf_small):
    got = _rows(serving.ivfpq_topk(spark, sf_small))
    assert got and got == _rows(QUERIES["v26_serving_ivfpq_topk"].build(spark, sf_small))
    assert got == _rows(
        _pq_topk_plan(
            spark,
            sf_small,
            N_QUERY_VECS,
            quant=serving.SERVING_Q,
            nprobe=serving.SERVING_NPROBE,
        )
    )
    assert got != _rows(QUERIES["v21_tivfpq_topk"].build(spark, sf_small))


def test_serving_centroids_are_the_serving_layout_trained_table(spark, sf_small):
    cents = dict(serving.serving_centroids(spark, sf_small))
    assert sorted(cents) == sorted(V25_POOL)  # the layout's seed-initialized cids
    seeds = {
        r["vec_id"]: list(r["embedding"])
        for r in _emb(spark, sf_small)
        .where(_emb(spark, sf_small)["vec_id"].isin(*V25_POOL))
        .collect()
    }
    # Lloyd training moved at least one centroid off its seed vector —
    # the default really serves the TRAINED table
    assert any(cents[c] != seeds[c] for c in cents)


def test_serving_cells_probes_default_equals_serving_layout_trained_index(spark, sf_small):
    _, dcells, dprobes = serving.serving_cells_probes(spark, sf_small)
    _, tcells, tprobes = _cells_probes(
        spark, sf_small, Quantizer(V25_POOL, trained=True), serving.SERVING_NPROBE
    )
    assert _rows(dcells) == _rows(tcells)
    assert _rows(dprobes) == _rows(tprobes)


def test_pq_serving_index_default_is_the_serving_layout(spark, sf_small):
    # the serving quantizer IS the declared v25 layout (one declaration)
    assert serving.SERVING_Q is V25_Q
    dstatic, _ = build_pq_serving_index(spark, sf_small, serving.SERVING_Q)
    # well over the prior 16-cell layout's count actually serves (the
    # capacity is real, not nominal)
    assert dstatic.select("cell").distinct().count() > 16
    # and the dispatch is real: the explicit seed layout assigns at
    # least one vector to a different cell on this corpus
    sstatic, _ = build_pq_serving_index(spark, sf_small, SEED_Q)
    assert _rows(sstatic.select("vec_id", "cell")) != _rows(dstatic.select("vec_id", "cell"))


def test_seed_cells_remain_the_calibration_baseline(spark, sf_small):
    # flipping the default did NOT change the seed index or its queries:
    # the explicit seed layout still equals v5's cell table
    _, scells, _ = _cells_probes(spark, sf_small, SEED_Q, N_PROBE)
    sstatic, _ = build_pq_serving_index(spark, sf_small, SEED_Q)
    assert _rows(sstatic.select("vec_id", "cell")) == _rows(scells)


def _mean_recall(df) -> float:
    return float(df.agg(F.avg("recall")).first()[0])


def test_serving_layout_composed_recall_no_worse_at_equal_scan(spark, sf_small):
    """The flip gate (v21-shape composed-recall row at the new layout):
    trained-IVFADC recall@5 at the SERVING layout must be no worse than
    at the 8-cell calibration default AND at the prior 16-cell layout —
    all three read the SAME 25% of the index per query, so any gain is
    pure quantizer capacity.  Measured at the r13 flip to 32 cells:
    0.400 -> 0.404 (sf0.001), 0.408 -> 0.460 (sf0.01) vs the 16-cell
    prior."""
    exact = _exact_topk_v12(spark, sf_small).select("qid", "vec_id")
    base8 = _mean_recall(
        _recall_agg(exact, _pq_topk_plan(spark, sf_small, V12_NQ, quant=TRAINED_Q))
    )
    prior16 = _mean_recall(
        _recall_agg(
            exact,
            _pq_topk_plan(
                spark, sf_small, V12_NQ, nprobe=4,
                quant=Quantizer(TIVF_SEED_POOL[:16], trained=True),
            ),
        )
    )
    new = _mean_recall(
        _recall_agg(
            exact,
            _pq_topk_plan(
                spark,
                sf_small,
                V12_NQ,
                quant=serving.SERVING_Q,
                nprobe=serving.SERVING_NPROBE,
            ),
        )
    )
    assert new >= base8, (new, base8)
    assert new >= prior16, (new, prior16)


def test_serving_layout_membership_recall_no_worse_at_equal_scan(spark, sf_small):
    """v20-shape gate at the new layout: cell-membership recall of the
    serving 32-cell index at nprobe 8 vs both the 8-cell calibration
    default (nprobe 2) and the prior 16-cell layout (nprobe 4) — equal
    scan fraction throughout.  This is v24's ncells rows, pinned as a
    serving invariant rather than a sweep observation."""
    exact = _exact_topk_v12(spark, sf_small).select("qid", "vec_id")

    def membership(ncells: int, npb: int):
        _, cells, probes = _cells_probes(
            spark, sf_small, Quantizer(TIVF_SEED_POOL[:ncells], trained=True), npb, V12_NQ
        )
        hit = cells.join(
            F.broadcast(probes.select("qid", "cell")), ["cell"]
        ).select("qid", "vec_id")
        return _mean_recall(_recall_agg(exact, hit))

    new = membership(serving.SERVING_NCELLS, serving.SERVING_NPROBE)
    assert new >= membership(8, N_PROBE)
    assert new >= membership(16, 4)


def test_filtered_ann_topk_default_pins_to_v29(spark, sf_small):
    # the filtered serving default IS the declared query v29 — the
    # dispatch point and the registry cannot drift apart silently
    got = _rows(serving.filtered_ann_topk(spark, sf_small))
    assert got and got == _rows(QUERIES["v29_adaptive_filtered_topk"].build(spark, sf_small))


def test_filtered_probe_dispatch_bounds_and_liveness(spark, sf_small):
    # the per-label probe count stays inside [SERVING_NPROBE, ncells]
    # (never below the layout's scan, never past the whole index), and
    # on this corpus (10 labels x ~50 vectors) the budget rule actually
    # FIRES — at least one label probes deeper than the fixed default
    from fifteenmc_spark.operators.similarity import _emb, _label_nprobe

    full = _emb(spark, sf_small).select("vec_id", "embedding", "label")
    rows = _label_nprobe(full, serving.SERVING_NCELLS, serving.SERVING_NPROBE).collect()
    assert rows
    assert all(
        serving.SERVING_NPROBE <= r["npl"] <= serving.SERVING_NCELLS for r in rows
    )
    assert any(r["npl"] > serving.SERVING_NPROBE for r in rows)


def test_filtered_dispatch_recall_no_worse_than_fixed_nprobe(spark, sf_small):
    """The v29 gate (the v20/v24 discipline on the predicate axis):
    filtered recall@5 against the EXACT filtered truth, per-predicate
    dispatch vs the fixed serving nprobe, over the wide V12_NQ query
    set.  Monotone-safe by construction (a deeper probe list only grows
    the exact-re-ranked candidate set) — measured anyway so a rule
    change that loses recall fails loudly."""
    from fifteenmc_spark.operators.similarity import V25_Q, _emb, cosine

    full = _emb(spark, sf_small).select("vec_id", "embedding", "label")
    qv = full.where(F.col("vec_id") < V12_NQ).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    from pyspark.sql import Window

    wrank = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    exact = (
        F.broadcast(qv)
        .join(full, (full.label == qv.qlabel) & (full.vec_id != qv.qid))
        .select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
        .select("qid", "vec_id", F.row_number().over(wrank).alias("rnk"))
        .where(F.col("rnk") <= 5)
        .select("qid", "vec_id")
    )
    fixed = _probe_topk_plan(
        spark, sf_small, V25_Q, serving.SERVING_NPROBE, nq=V12_NQ, label_depth=True
    )
    # the fixed-nprobe comparator: clamp the budget away so every label
    # serves at exactly the serving nprobe (v27's plan over V12_NQ)
    import fifteenmc_spark.operators.similarity as S

    old = S.FILTERED_SHORTLIST_MULT
    S.FILTERED_SHORTLIST_MULT = 0
    try:
        base = _probe_topk_plan(
            spark, sf_small, V25_Q, serving.SERVING_NPROBE, nq=V12_NQ, label_depth=True
        )
        r_base = _mean_recall(_recall_agg(exact, base.select("qid", "vec_id")))
    finally:
        S.FILTERED_SHORTLIST_MULT = old
    r_new = _mean_recall(_recall_agg(exact, fixed.select("qid", "vec_id")))
    assert r_new >= r_base, (r_new, r_base)
