"""Session-index contract: identity per (session, sf_dir, key), eviction
of dead sessions, and the prefix-slice equivalences the shared signature
tables rely on (the oracle suite pins every consumer's END result; these
pin the sharing mechanism itself, so a cache bug can't hide behind a
query that happens not to exercise it)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.operators import session_index as SI
from fifteenmc_spark.operators.dedup import (
    N_MINHASH,
    minhash_sig_index,
    minhash_signatures,
    shingle_rows,
)
from fifteenmc_spark.operators.similarity import _emb, _sig, lsh_bucket_table


def test_session_cached_identity_eviction_and_none(spark, sf_small):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3)

    a = SI.session_cached(spark, sf_small, "t_identity", build)
    b = SI.session_cached(spark, sf_small, "t_identity", build)
    assert a is b and calls["n"] == 1
    # distinct sf_dir → distinct entry
    c = SI.session_cached(spark, sf_small + "/other", "t_identity", build)
    assert c is not a and calls["n"] == 2
    # None is a legitimate cached value (index stats), not a rebuild signal
    none_calls = {"n": 0}

    def build_none():
        none_calls["n"] += 1
        return None

    assert SI.session_cached(spark, sf_small, "t_none", build_none) is None
    assert SI.session_cached(spark, sf_small, "t_none", build_none) is None
    assert none_calls["n"] == 1
    # entries from a dead session are dropped on the next live insert
    app = spark.sparkContext.applicationId
    SI._SESSION_INDEX[("dead-app", sf_small, "stale")] = spark.range(1)
    SI.session_cached(spark, sf_small, "t_evict", build)
    assert ("dead-app", sf_small, "stale") not in SI._SESSION_INDEX
    assert (app, sf_small, "t_identity") in SI._SESSION_INDEX


def test_minhash_sig_index_slice_matches_direct(spark, sf_small):
    # seed j's affine map is width-independent, so the n-column slice of
    # the cached 16-wide table must equal a direct n-wide computation
    sliced = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(N_MINHASH))
        for r in minhash_sig_index(spark, sf_small, N_MINHASH).collect()
    }
    direct = {
        r["doc_id"]: tuple(r[f"mh{j}"] for j in range(N_MINHASH))
        for r in minhash_signatures(
            shingle_rows(spark, sf_small), n=N_MINHASH
        ).collect()
    }
    assert sliced == direct and len(sliced) > 0


def test_lsh_sig_slice_matches_direct(spark, sf_small):
    # low-n-bits slice of the 16-plane signature == direct n-plane buckets
    e = _emb(spark, sf_small)
    sliced = {r["vec_id"]: r["bucket"] for r in _sig(spark, sf_small, 8).collect()}
    direct = {r["vec_id"]: r["bucket"] for r in lsh_bucket_table(e, 8).collect()}
    assert sliced == direct and len(sliced) > 0
    # ...and the wider-than-index calibration falls through to a direct build
    wide = _sig(spark, sf_small, 20)
    assert wide.select(F.max("bucket")).first()[0] < (1 << 20)


def test_emb_dispatch_checkpoints_only_small_scans(spark, sf_small, tmp_path_factory):
    """_emb's measured dispatch: a single-file (toy) scan pins the gated
    corpus behind a checkpoint (Scan ExistingRDD once materialized-able),
    while a scan already partitioned at >= defaultParallelism passes the
    gated scan through UNCHECKPOINTED — at 100 TB the corpus must never
    materialize to executor storage; the validity gate stays a filter
    over the live scan."""
    from fifteenmc_spark.io import read_table
    from fifteenmc_spark.operators.similarity import _emb

    # toy branch: the testdata parquet is one file -> few partitions
    toy = _emb(spark, sf_small)
    toy_plan = toy._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in toy_plan or "ExistingRDD" in toy_plan

    # scale branch: spread the same table over >= defaultParallelism files
    par = spark.sparkContext.defaultParallelism
    big_dir = str(tmp_path_factory.mktemp("emb_many_files"))
    read_table(spark, sf_small, "embeddings").repartition(par).write.mode(
        "overwrite"
    ).parquet(big_dir + "/embeddings.parquet")
    big = _emb(spark, big_dir)
    big_plan = big._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" not in big_plan and "ExistingRDD" not in big_plan
    assert "Filter" in big_plan  # the validity gate rides the live scan
    # and no repartition exchange was injected above the scan
    phys = big._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in phys


def test_warm_session_index_materializes_all_artifacts(spark, sf_small):
    from fifteenmc_spark.serving import warm_session_index

    counts = warm_session_index(spark, sf_small)
    assert set(counts) == {
        "emb", "sig16", "ivf_cells", "ivf_probes", "ivf_probes_eval",
        "ivf_probes_sweep", "tivf_cells", "tivf_probes", "tivf_probes_eval",
        "tivf_probes_sweep", "tivf32_cells", "tivf32_probes",
        "exact_topk", "exact_topk_v12", "pq_codes",
        "rpq_codes", "trpq_codes", "shingles", "mh_sig16", "simhash16",
        "simhash64",
    }
    assert all(n > 0 for n in counts.values()), counts
    # every artifact (plus the max-df stat) is now resident in the cache
    app = spark.sparkContext.applicationId
    keys = {k[2] for k in SI._SESSION_INDEX if k[0] == app and k[1] == sf_small}
    assert {"emb", "sig16", "ivf_scored", "ivf_cells", "exact_topk",
            "exact_topk_v12", "shingles", "mh_sig16", "simhash16",
            "simhash64", "df_stats_64", "pq_codewords", "pq_codes",
            "rpq_codewords", "rpq_codes", "trpq_codewords", "trpq_codes",
            "tivf_cents", "tivf_scored", "tivf_cells",
            "tivf_cents_c32", "tivf_c32_scored", "tivf_c32_cells"} <= keys


def test_pq_training_strictly_improves_recall(spark, sf_small):
    # The Lloyd-trained codebook (PQ_ITERS steps over the deterministic
    # sample) must recover strictly more of the exact top-k than the raw
    # seed-vector init it starts from — the r8 verdict's acceptance bar
    # for replacing the untrained codebook.  Measured over the v12 eval
    # set (V12_NQ queries x TOP_K slots) so the delta is signal, not
    # 3-query noise; at this SF the measured gap is ~86 -> ~107 of 250.
    from fifteenmc_spark.operators.similarity import (
        PQ_ITERS,
        V12_NQ,
        _exact_topk_v12,
        _pq_topk_plan,
    )

    exact = {
        (r.qid, r.vec_id)
        for r in _exact_topk_v12(spark, sf_small).select("qid", "vec_id").collect()
    }
    hits = {}
    for iters in (0, PQ_ITERS):
        got = {
            (r.qid, r.vec_id)
            for r in _pq_topk_plan(spark, sf_small, V12_NQ, iters=iters)
            .select("qid", "vec_id")
            .collect()
        }
        hits[iters] = len(exact & got)
    assert hits[PQ_ITERS] > hits[0], hits


def test_encoding_adjudication_tightness_predicts_winner(spark, sf_small):
    # v13 ships RAW PQ codes and v16 the textbook residual encoding; the
    # dispatch between them is MEASURED, not assumed.  The geometry: for
    # unit vectors ||x - c||^2 = 2 - 2*cos(x, c), so residuals are only
    # smaller than the vectors (and residual quantization only wins) when
    # the mean cosine to the assigned centroid exceeds 0.5.  This corpus
    # sits far below (~0.19), so the tightness stat must predict raw
    # winning the composed-recall eval — both sides from the queries'
    # real plans (measured at this SF: raw 78 vs residual 72 of 250;
    # independent numpy replication: recon MSE 0.62 raw vs 0.80 residual).
    from fifteenmc_spark.operators.similarity import (
        IVF_SEED_IDS,
        SEED_Q,
        V12_NQ,
        _emb,
        _exact_topk_v12,
        _pq_topk_plan,
        cosine,
    )

    e = _emb(spark, sf_small).select("vec_id", "embedding")
    cents = e.where(F.col("vec_id").isin(*IVF_SEED_IDS)).select(
        F.col("embedding").alias("ce")
    )
    tightness = (
        e.crossJoin(F.broadcast(cents))
        .select("vec_id", cosine(F.col("embedding"), F.col("ce")).alias("sim"))
        .groupBy("vec_id")
        .agg(F.max("sim").alias("mx"))
        .agg(F.avg("mx"))
        .first()[0]
    )
    assert tightness < 0.5, tightness  # loose cells -> raw must win
    exact = {
        (r.qid, r.vec_id)
        for r in _exact_topk_v12(spark, sf_small).select("qid", "vec_id").collect()
    }
    hits = {}
    for residual in (False, True):
        got = {
            (r.qid, r.vec_id)
            for r in _pq_topk_plan(spark, sf_small, V12_NQ, SEED_Q, residual=residual)
            .select("qid", "vec_id")
            .collect()
        }
        hits["residual" if residual else "raw"] = len(exact & got)
    assert hits["raw"] > hits["residual"], (tightness, hits)


def test_encoding_readjudication_over_trained_cells_is_a_tie(spark, sf_small):
    # v23 re-runs the raw-vs-residual adjudication on the TRAINED cells
    # (the serving default's layout).  MEASURED: the sign flips across
    # SFs (residual +5 hits of 250 here, raw +2 of 250 at sf0.1) with
    # trained tightness 0.20-0.23 still far below the 0.5 threshold — a
    # statistical tie, so serving stays raw-over-trained (v21, the
    # simpler index).  This gate encodes the adjudication's validity
    # bounds rather than a winner: tightness below threshold AND neither
    # encoding decisively ahead (>15% more hits).  If residual starts
    # decisively winning — a tighter corpus, a retrained quantizer —
    # this fails and forces the serving re-adjudication v23's docstring
    # describes.
    from fifteenmc_spark.operators.similarity import (
        TRAINED_Q,
        V12_NQ,
        _exact_topk_v12,
        _pq_topk_plan,
        _emb,
        cosine,
    )

    e = _emb(spark, sf_small).select("vec_id", "embedding")
    cw = TRAINED_Q.centroids(spark, sf_small).select("ce")
    tightness = (
        e.crossJoin(F.broadcast(cw))
        .select("vec_id", cosine(F.col("embedding"), F.col("ce")).alias("sim"))
        .groupBy("vec_id")
        .agg(F.max("sim").alias("mx"))
        .agg(F.avg("mx"))
        .first()[0]
    )
    assert tightness < 0.5, tightness  # below the decisive-residual regime
    exact = {
        (r.qid, r.vec_id)
        for r in _exact_topk_v12(spark, sf_small).select("qid", "vec_id").collect()
    }
    hits = {}
    for residual in (False, True):
        got = {
            (r.qid, r.vec_id)
            for r in _pq_topk_plan(
                spark, sf_small, V12_NQ, residual=residual, quant=TRAINED_Q
            )
            .select("qid", "vec_id")
            .collect()
        }
        hits["residual" if residual else "raw"] = len(exact & got)
    assert hits["residual"] <= hits["raw"] * 1.15, (tightness, hits)
    assert hits["raw"] <= hits["residual"] * 1.15, (tightness, hits)


def test_ncells_sweep_8_point_pins_to_v20_trained_row(spark, sf_small):
    # v24's seed pool nests: its first 8 ids ARE IVF_SEED_IDS, so the
    # ncells=8 point (nprobe 8/4 = 2 = N_PROBE) must reproduce v20's
    # trained-quantizer row exactly — the cross-query invariant that
    # keeps the sweep honest about measuring the SERVING quantizer at
    # its own operating point
    from fifteenmc_spark.operators.relational import QUERIES

    v24 = {
        (r["qid"], r["n_topk"], r["n_recovered"], r["recall"])
        for r in QUERIES["v24_ncells_sweep"].build(spark, sf_small).collect()
        if r["ncells"] == 8
    }
    v20 = {
        (r["qid"], r["n_topk"], r["n_recovered"], r["recall"])
        for r in QUERIES["v20_tivf_recall"].build(spark, sf_small).collect()
        if r["quantizer"] == "trained"
    }
    assert v24 and v24 == v20


def test_spherical_lloyd_strictly_improves_cell_tightness(spark, sf_small):
    # the spherical-k-means objective: corpus mean max-cosine to the
    # assigned centroid must strictly rise from the seed init to the
    # trained centroids (0.185 -> ~0.23 measured at sf0.01) — the direct
    # objective check behind v20's membership-recall gate
    from fifteenmc_spark.operators.similarity import (
        TIVF_ITERS,
        _emb,
        _tivf_centroids_plan,
        cosine,
    )

    e = _emb(spark, sf_small).select("vec_id", "embedding")

    def tightness(cw):
        return (
            e.crossJoin(F.broadcast(cw.select(F.col("cwe"))))
            .select("vec_id", cosine(F.col("embedding"), F.col("cwe")).alias("sim"))
            .groupBy("vec_id")
            .agg(F.max("sim").alias("mx"))
            .agg(F.avg("mx"))
            .first()[0]
        )

    t0 = tightness(_tivf_centroids_plan(spark, sf_small, 0))
    t2 = tightness(_tivf_centroids_plan(spark, sf_small, TIVF_ITERS))
    assert t2 > t0, (t0, t2)


def test_coarse_quantizer_training_strictly_improves_membership_recall(spark, sf_small):
    # The spherical-Lloyd-trained coarse quantizer (v19/v20) must put
    # strictly more true neighbors inside the probed cells than the seed
    # quantizer it starts from — the acceptance bar for the engine fix to
    # the bottleneck v18 measured (composed recall loss = coarse-filter
    # loss).  Measured over v20's own output (both quantizers' real
    # cell/probe tables): 107 -> 112 of 250 at this SF, 88 -> 125 at
    # sf0.01.
    from fifteenmc_spark.operators.relational import QUERIES

    rows = QUERIES["v20_tivf_recall"].build(spark, sf_small).collect()
    rec = {}
    for r in rows:
        rec[r.quantizer] = rec.get(r.quantizer, 0) + r.n_recovered
    assert rec["trained"] > rec["seed"], rec


def test_trained_cells_strictly_improve_composed_recall(spark, sf_small):
    # v21 (trained cells x PQ ADC) must recover strictly more of the
    # exact top-k than v13's seed-cell composition at the same nprobe,
    # bytes-per-entry, and shortlist — the round's measurement chain
    # composing: better cells (v20) are the lever v18 identified, and
    # the gain must survive the full serving plan (ADC shortlist + exact
    # re-rank), not just cell membership.  Measured: 67 -> 95 of 250 at
    # sf0.01 (0.27 -> 0.38), numpy-replicated before building.
    from fifteenmc_spark.operators.similarity import (
        SEED_Q,
        TRAINED_Q,
        V12_NQ,
        _exact_topk_v12,
        _pq_topk_plan,
    )

    exact = {
        (r.qid, r.vec_id)
        for r in _exact_topk_v12(spark, sf_small).select("qid", "vec_id").collect()
    }
    hits = {}
    for name, quant in (("seed", SEED_Q), ("trained", TRAINED_Q)):
        got = {
            (r.qid, r.vec_id)
            for r in _pq_topk_plan(spark, sf_small, V12_NQ, quant=quant)
            .select("qid", "vec_id")
            .collect()
        }
        hits[name] = len(exact & got)
    assert hits["trained"] > hits["seed"], hits


def test_nprobe_sweep_reproduces_standalone_evals(spark, sf_small):
    # The fused v18 sweep must be EXACT, not approximately fused: its
    # nprobe=N_PROBE line is v14 (the standalone composed eval) and its
    # nprobe=N_CELLS line is v12 (PQ-only — probing every cell disables
    # the coarse filter by construction), per query.  This is the gate
    # that the one-window-pass shortlist reconstruction equals the real
    # per-nprobe shortlist + re-rank plans.
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import N_CELLS, N_PROBE

    sweep = {
        (r.qid, r.nprobe): r.n_recovered
        for r in QUERIES["v18_ivfpq_nprobe_sweep"].build(spark, sf_small).collect()
    }
    v14 = {
        r.qid: r.n_recovered
        for r in QUERIES["v14_ivfpq_recall"].build(spark, sf_small).collect()
    }
    v12 = {
        r.qid: r.n_recovered
        for r in QUERIES["v12_pq_recall"].build(spark, sf_small).collect()
    }
    assert all(sweep[(q, N_PROBE)] == n for q, n in v14.items())
    assert all(sweep[(q, N_CELLS)] == n for q, n in v12.items())


@pytest.mark.parametrize("sweep_query,trained", [
    ("v18_ivfpq_nprobe_sweep", False),
    ("v22_tivf_nprobe_sweep", True),
])
def test_nprobe_sweep_matches_standalone_plan_at_every_point(spark, sf_small, sweep_query, trained):
    # ...and not just at the endpoints: at EVERY swept nprobe the fused
    # reconstruction's recovered set equals the real standalone composed
    # plan (probes->cand->ADC->shortlist->re-rank) run at that nprobe —
    # the interior points (1 and 4) are where a fusion bug that respects
    # the endpoints would hide.  Parametrized over both quantizers.
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import (
        PROBE_SWEEP,
        V12_NQ,
        Quantizer,
        _exact_topk_v12,
        _pq_topk_plan,
    )

    exact = {
        (r.qid, r.vec_id)
        for r in _exact_topk_v12(spark, sf_small).select("qid", "vec_id").collect()
    }
    sweep = {
        (r.qid, r.nprobe): r.n_recovered
        for r in QUERIES[sweep_query].build(spark, sf_small).collect()
    }
    for p in PROBE_SWEEP:
        got = {
            (r.qid, r.vec_id)
            for r in _pq_topk_plan(
                spark, sf_small, V12_NQ, quant=Quantizer(trained=trained), nprobe=p
            )
            .select("qid", "vec_id")
            .collect()
        }
        standalone: dict = {}
        for qid, vec_id in got & exact:
            standalone[qid] = standalone.get(qid, 0) + 1
        for qid in {q for q, _ in exact}:
            assert sweep[(qid, p)] == standalone.get(qid, 0), (p, qid)


def test_sweeps_share_the_full_probe_ceiling(spark, sf_small):
    # probing EVERY cell disables the coarse filter regardless of which
    # quantizer ranked the cells, so v18@N_CELLS, v22@N_CELLS and v12's
    # PQ-only recall must agree per query — the cross-quantizer invariant
    # that pins both sweeps to the same ceiling
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import N_CELLS

    v12 = {
        r.qid: r.n_recovered
        for r in QUERIES["v12_pq_recall"].build(spark, sf_small).collect()
    }
    for name in ("v18_ivfpq_nprobe_sweep", "v22_tivf_nprobe_sweep"):
        line = {
            r.qid: r.n_recovered
            for r in QUERIES[name].build(spark, sf_small).collect()
            if r.nprobe == N_CELLS
        }
        assert line == v12, name


def test_invalidate_evicts_sf_dir_entries(spark, sf_small, tmp_path):
    # direct: only the named sf_dir's entries drop
    SI.session_cached(spark, "/tmp/si_a", "k1", lambda: 1)
    SI.session_cached(spark, "/tmp/si_b", "k1", lambda: 2)
    assert SI.invalidate("/tmp/si_a") == 1
    app = spark.sparkContext.applicationId
    assert (app, "/tmp/si_a", "k1") not in SI._SESSION_INDEX
    assert (app, "/tmp/si_b", "k1") in SI._SESSION_INDEX
    # via the parquet sink: rewriting a table INTO a cached sf_dir evicts
    # that dir's entries, so consumers rebuild from the new data instead
    # of serving the stale checkpoint (the r8 ADVICE staleness hazard)
    from fifteenmc_spark.io import read_table, write_parquet

    d = str(tmp_path)
    write_parquet(spark.range(3).toDF("doc_id"), d + "/documents.parquet")
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return read_table(spark, d, "documents").count()

    assert SI.session_cached(spark, d, "n_docs", build) == 3
    write_parquet(spark.range(5).toDF("doc_id"), d + "/documents.parquet")
    assert SI.session_cached(spark, d, "n_docs", build) == 5
    assert calls["n"] == 2
    SI.invalidate()  # leave no test residue for other cases


def test_session_cache_keys_normalize_sf_dir_spellings(spark, tmp_path, monkeypatch):
    # session_cached and invalidate key on abspath(sf_dir): a trailing
    # slash or a relative spelling must hit (and be evicted from) the
    # SAME entry as io.write_parquet's dirname(abspath(...)) invalidation
    # — the r9 ADVICE hazard was write_parquet silently failing to evict
    # an entry cached under a differently-spelled dir
    d = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return calls["n"]

    assert SI.session_cached(spark, d, "k", build) == 1
    assert SI.session_cached(spark, d + "/", "k", build) == 1  # same entry
    monkeypatch.chdir(os.path.dirname(d))
    rel = os.path.basename(d)
    assert SI.session_cached(spark, rel, "k", build) == 1  # same entry
    assert SI.invalidate(rel + "/") == 1  # evicts the abspath-keyed entry
    assert SI.session_cached(spark, d, "k", build) == 2  # rebuilt
    SI.invalidate()


def test_session_cache_keys_leave_uri_schemes_intact(spark, tmp_path, monkeypatch):
    # a file: URI keys as its local absolute path, so an entry opened as
    # file:///x is evicted by a rewrite of /x (write_zorder_layout,
    # write_parquet); any other scheme-qualified path keys as written,
    # never joined onto the working directory
    d = str(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return calls["n"]

    assert SI.session_cached(spark, "file://" + d, "k", build) == 1
    assert SI.session_cached(spark, "file:" + d + "/", "k", build) == 1  # same entry
    assert SI.session_cached(spark, d, "k", build) == 1  # same entry
    assert SI.invalidate(d) == 1
    assert SI.session_cached(spark, "file://" + d, "k", build) == 2  # rebuilt

    remote = "s3a://bucket/sf0.1"
    assert SI.session_cached(spark, remote, "k", build) == 3
    monkeypatch.chdir(d)
    assert SI.session_cached(spark, remote + "/", "k", build) == 3  # same entry
    app = spark.sparkContext.applicationId
    assert (app, remote, "k") in SI._SESSION_INDEX
    assert SI.invalidate(remote) == 1

    # write_parquet evicts the entries of a dir cached under its file: URI
    from fifteenmc_spark.io import write_parquet

    assert SI.session_cached(spark, "file://" + d, "k", build) == 2  # still cached
    write_parquet(spark.range(3).toDF("doc_id"), "file://" + d + "/documents.parquet")
    assert SI.session_cached(spark, d, "k", build) == 4  # rebuilt
    SI.invalidate()


def test_pq_lloyd_step_never_increases_sample_mse(spark, sf_small):
    # Lloyd's algorithm guarantee: each assign+recenter step is
    # non-increasing in the training sample's quantization MSE (exact
    # for unrounded means; the 6-digit mean rounding can perturb by at
    # most ~1e-6 per dim, covered by eps).  This pins the training loop
    # as an actual descent method, independent of the recall outcome.
    import numpy as np

    from fifteenmc_spark.operators.similarity import (
        PQ_ITERS,
        PQ_M,
        PQ_SUB,
        PQ_TRAIN_MOD,
        PQ_TRAIN_REM,
        _emb,
        _pq_codebook_plan,
    )

    samp = (
        _emb(spark, sf_small)
        .where(F.col("vec_id") % PQ_TRAIN_MOD == PQ_TRAIN_REM)
        .select("embedding")
        .collect()
    )
    X = np.array([r["embedding"] for r in samp], dtype=np.float64)
    assert len(X) >= 16  # sample big enough to move all codewords

    def sample_mse(iters):
        cw = _pq_codebook_plan(spark, sf_small, iters).collect()
        books = {}
        for r in cw:
            books.setdefault(r["m"], []).append(np.array(r["cwe"], dtype=np.float64))
        total = 0.0
        for m in range(PQ_M):
            sub = X[:, m * PQ_SUB : (m + 1) * PQ_SUB]
            C = np.stack(books[m])
            d2 = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1)
            total += d2.min(axis=1).sum()
        return total / (len(X) * PQ_M)

    mses = [sample_mse(i) for i in range(PQ_ITERS + 1)]
    eps = 1e-3  # headroom for the 6-digit codeword rounding
    assert all(b <= a + eps for a, b in zip(mses, mses[1:])), mses
    # ...and the first step strictly improves on this corpus
    assert mses[1] < mses[0], mses
