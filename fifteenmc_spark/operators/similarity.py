"""Similarity search over the `embeddings` table (array<float>, dim 64).

Two paths, mirroring what a 100 TB vector pipeline needs:

- v1 brute-force cosine top-k: exact baseline.  Query vectors are broadcast
  (they are few); the corpus streams — one scan, no shuffle of the corpus,
  per-partition partial top-k via window rank after a broadcast nested-loop
  join.  At cluster scale the corpus side stays partitioned and only the
  k×|queries| winners move.
- v2 LSH (random-hyperplane) bucketing: signatures computed scan-side from
  deterministic integer hyperplanes; candidates = same-bucket pairs, then
  exact cosine re-rank.  The bucket key is the shuffle key, turning O(n²)
  into per-bucket work — the IVF/LSH "scale path".

Every recall eval builds only its result rows and shares one back half:
one exact ground truth per engine (_exact_topk_plan / _exact_sql — v1's
plan, the 3-query truth of v6 and v9, the V12_NQ eval set's, and v28's
label-filtered one) and one recall aggregate (_recall_agg /
_stacked_recall_sql).  Result-set evals feed it top-k rows: v12 and v14
unstacked (_recall_agg_sql on the oracle side), v17 and v23 stacked by
encoding, v18 and v22 (the fused sweep's hits) by nprobe, and v28 (v27
against the filtered truth, n_topk named n_truth).  Cell-membership
evals feed it the exact neighbours whose cell is probed (_probed /
_probed_sql): v9 by nprobe, and through _membership_recall_plan /
_membership_recall_sql v20 by quantizer and v24 by ncells.  v6 keeps
its fused prefix-bucket plan, one exchange cheaper than the shared tail.

All dot products accumulate in DOUBLE on both engines (Spark: one numpy
einsum per Arrow batch — see cosine(); DuckDB: list_dot_product on
DOUBLE[]).  Accumulation order differs only within float ulps, well inside
the 4-decimal rounded compare; the validity gate's self-dot stays on the
NULL-tolerant aggregate() left fold (it must see ragged/NULL arrays).
"""

from __future__ import annotations

import dataclasses

import numpy as np
import pandas as pd
from pyspark.sql import Column, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..io import read_table
from .dedup import _CLUSTER_LABELS, _closure_cte
from .relational import QUERIES, _register
from .session_index import session_cached as _session_cached


# ---------------------------------------------------------------------------
# session index (see session_index.py for the cache discipline): the
# similarity entries are the gated corpus, the 16-plane LSH signature
# table (plus its vector-joined serving layout), the IVF score/cell/
# probe tables, and the exact top-k ground truth the eval queries
# (v6/v9) measure recall against.  All are tiny relative to the corpus
# (signatures: one int per vector; IVF scores: n_cells doubles per
# vector; exact top-k: k rows per query vector) — the ONE deliberately-
# unbounded artifact, the gated corpus itself, is checkpointed only
# under a measured size dispatch (see _emb).
# ---------------------------------------------------------------------------


def _emb(spark, sf_dir):
    """Validity-gated embeddings corpus, session-cached (see the session
    index note above).  Every similarity query sees only vectors that can
    participate in cosine math (valid_embeddings).

    Measured dispatch on the SCAN's partition count — the same pattern as
    the x5 max-df dispatch:
    - few partitions (< defaultParallelism) ⇒ the corpus is small (parquet
      splits at maxPartitionBytes, so partition count tracks bytes): pin
      the gated table with a lazy localCheckpoint so the scan + gate HOF
      run once per session instead of once per consumer (measured at
      sf0.1: the v-suite dropped ~45% from this alone).
    - many partitions ⇒ corpus scale: pass the gated scan through
      UNCHECKPOINTED.  Materializing a 100 TB corpus to executor-local
      storage is not an index build; the gate is a pushed-down-adjacent
      filter and re-scanning is the cheap, correct choice.  Derived
      index tables (signatures/IVF scores) stay session-cached — they
      are bytes per vector, not the vectors.

    A previous revision unconditionally ``.repartition(cores, "vec_id")``
    here — a full exchange of the corpus before any kernel runs, wrong at
    scale (the scan is already partitioned) and measurably wrong at toy
    scale too (32 micro-partition tasks per stage cost more than the one
    Arrow batch they replace).  The BLAS kernels batch per Arrow chunk,
    so a single-partition toy corpus is one matmul, not a serialization
    problem."""

    def build():
        scan = read_table(spark, sf_dir, "embeddings")
        gated = valid_embeddings(scan)
        # max(par, 2) so a single-core session (defaultParallelism == 1,
        # scan in 1 partition) still pins its toy corpus — strict
        # '< par' left 1 < 1 false and re-ran scan+gate per consumer
        # (r8 ADVICE).  The scale branch is unchanged everywhere else:
        # a corpus split into >= cores partitions passes through
        # uncheckpointed (plan-gated in test_emb_dispatch_*).
        if scan.rdd.getNumPartitions() < max(spark.sparkContext.defaultParallelism, 2):
            return gated.localCheckpoint(eager=False)
        return gated

    return _session_cached(spark, sf_dir, "emb", build)

N_QUERY_VECS = 3  # vec_id < 3 are the demo query vectors
TOP_K = 5


def dot_double(a, b) -> Column:
    """Index-order double-precision dot product of two array<float> columns
    — F.zip_with products, then a left-fold sum (deterministic order)."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, p: acc + p)


def norm2(a) -> Column:
    return F.sqrt(dot_double(a, a))


_cosine_batch = None  # built lazily: pandas_udf needs an active session


def cosine(a, b) -> Column:
    """Arrow-batched cosine: one einsum per batch instead of three
    interpreted zip_with/aggregate folds per row (measured the verify
    stage of v7 at 0.8 s for 22k pairs on the fold form).  Assumes
    uniform-dimension non-NULL arrays — all call sites sit AFTER the
    valid_embeddings gate, which filters NULL/ragged/zero-norm vectors
    at the scan (the gate itself stays on the NULL-tolerant HOF fold).
    float64 accumulation differs from the oracle's left-to-right term
    order only within ulps — well inside the 4-decimal compare."""
    global _cosine_batch
    if _cosine_batch is None:

        @pandas_udf("double")
        def _f(a: pd.Series, b: pd.Series) -> pd.Series:
            if len(a) == 0:
                return pd.Series([], dtype="float64")
            A = np.vstack(a.to_numpy()).astype(np.float64)
            B = np.vstack(b.to_numpy()).astype(np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.sqrt(np.einsum("ij,ij->i", A, A)) * np.sqrt(
                np.einsum("ij,ij->i", B, B)
            )
            return pd.Series(num / den)

        # asNondeterministic is a plan barrier, not a semantic claim: the
        # kernel IS deterministic, but a deterministic UDF lets Catalyst
        # push a sim-threshold filter through the projection and evaluate
        # the kernel twice (observed on v3/v7: two ArrowEvalPython nodes
        # for one cosine).  Nondeterministic expressions are never pushed
        # through, so the filter references the projected column and the
        # kernel runs once.  All call sites use cosine in projections
        # only (never join conditions/aggregates, where nondeterministic
        # expressions are rejected).
        _cosine_batch = _f.asNondeterministic()
    return _cosine_batch(a, b)


_COS_SQL = (
    "list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"
    " / (SQRT(list_dot_product(CAST({a} AS DOUBLE[]), CAST({a} AS DOUBLE[])))"
    " * SQRT(list_dot_product(CAST({b} AS DOUBLE[]), CAST({b} AS DOUBLE[]))))"
)


# ---------------------------------------------------------------------------
# validity gate: the embeddings-table data contract
# ---------------------------------------------------------------------------
EMB_DIM = 64  # contract dimension of the embeddings table (TESTDATA.md)


def valid_vector(c: Column) -> Column:
    """True for a vector that can participate in cosine math: non-NULL,
    the contract dimension, no NULL elements, and a finite
    strictly-positive squared norm.  In Spark a NULL element or NULL
    array makes the self-dot NULL, so `ss > 0` alone excludes those rows;
    the explicit isNotNull/size conjuncts keep the predicate readable and
    let Catalyst push the cheap checks ahead of the HOF."""
    ss = dot_double(c, c)
    return c.isNotNull() & (F.size(c) == EMB_DIM) & ~F.isnan(ss) & (ss < float("inf")) & (ss > 0)


def valid_embeddings(df):
    """Rows whose ``embedding`` is a :func:`valid_vector`.  A real ingest
    WILL contain violations (NULL rows, truncated arrays, zero vectors
    from failed encoders) and an ungated cosine either crashes (ANSI
    divide-by-zero on a zero norm) or poisons every score downstream
    with NaN/NULL — gating at the scan keeps the pushed-down filter next
    to the read.  The streaming tiers gate their query vectors with the
    same predicate."""
    return df.where(valid_vector(F.col("embedding")))


_DOT_SELF = "list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))"
# CASE (not WHERE conjuncts) because DuckDB does not guarantee conjunct
# order and list_dot_product RAISES on NULL lists / NULL elements rather
# than returning NULL.
_VALID_EMB_SQL = f"""SELECT * FROM embeddings
      WHERE CASE WHEN embedding IS NULL THEN FALSE
                 WHEN LEN(embedding) <> {EMB_DIM} THEN FALSE
                 WHEN LEN(list_filter(embedding, x -> x IS NULL)) > 0 THEN FALSE
                 ELSE isfinite({_DOT_SELF}) AND {_DOT_SELF} > 0 END"""


def _gate_oracle(sql: str) -> str:
    """Mirror the valid_embeddings gate into an oracle string: prepend a
    `ve` CTE and point EVERY reference to the raw table at it — FROM,
    JOIN, and comma-list forms alike (a `JOIN embeddings ea` that kept
    scanning the raw table would bypass the gate silently the moment an
    oracle sourced candidate rows through the join instead of re-fetching
    already-gated vec_ids).  Asserts no raw reference survives the
    rewrite, so a future oracle spelling the table a new way fails loudly
    at registration instead of diverging quietly."""
    import re

    cte = f"ve AS ({_VALID_EMB_SQL})"
    # rewrite the query body FIRST so the gate CTE's own scan of the raw
    # table is not self-rewritten to `FROM ve`.  Only FROM/JOIN forms are
    # rewritten — a comma-list rule (`, embeddings`) would also hit a
    # select-list column or alias literally named `embeddings`, and the
    # trailing assert only catches UNDER-rewrites; so comma-list table
    # references are simply not allowed in similarity oracles, and one
    # that slips in fails the assert loudly at import time.
    body = re.sub(r"\b(FROM|JOIN)\s+embeddings\b", r"\1 ve", sql)
    leftover = re.search(r"\bembeddings\b", body)
    assert leftover is None, (
        "raw `embeddings` reference survived the validity-gate rewrite "
        "(comma-list table form? spell it as FROM/JOIN): "
        f"...{body[max(0, leftover.start() - 60):leftover.end() + 20]}..."
    )
    s = body.lstrip()
    if s.startswith("WITH RECURSIVE"):
        return body.replace("WITH RECURSIVE", f"WITH RECURSIVE {cte},", 1)
    if s.startswith("WITH"):
        return body.replace("WITH", f"WITH {cte},", 1)
    return f"WITH {cte}\n{body}"


# ---------------------------------------------------------------------------
# v1: brute-force cosine top-k (exact ANN baseline)
# ---------------------------------------------------------------------------
def _topk_tail(scored):
    """Top-k per query of a (qid, vec_id, sim) stream — rank by (sim
    desc, vec_id), keep TOP_K, round — the tail every exact-cosine
    search shares (v1 and the cell-probe searches)."""
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("vec_id"))
    return (
        scored.select("qid", "vec_id", "sim", F.row_number().over(w).alias("rnk"))
        .where(F.col("rnk") <= TOP_K)
        .select("qid", "vec_id", "rnk", F.round("sim", 4).alias("sim"))
        .orderBy("qid", "rnk")
    )


def _topk_tail_sql(src: str) -> str:
    """Oracle twin of _topk_tail over the (qid, vec_id, sim) CTE ``src``."""
    return f"""rr AS (
      SELECT qid, vec_id, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM {src})
    SELECT qid, vec_id, rnk, ROUND(sim, 4) AS sim
    FROM rr WHERE rnk <= {TOP_K} ORDER BY qid, rnk"""


@_register(
    "v1_cosine_topk",
    "Exact top-5 cosine neighbors for each query vector (vec_id < 3).  "
    "Query side broadcast; corpus side scans once; winners selected by a "
    "rank window partitioned by query.",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < {N_QUERY_VECS}),
    c AS (SELECT vec_id, embedding FROM embeddings),
    scored AS (
      SELECT q.qid, c.vec_id,
             {_COS_SQL.format(a="q.qe", b="c.embedding")} AS sim
      FROM q, c WHERE q.qid <> c.vec_id),
    {_topk_tail_sql("scored")}
    """,
    ("similarity", "ann", "pipeline"),
)
def v1(spark, sf_dir):
    # v1 itself recomputes the brute-force plan every call — it IS the
    # measured exact baseline; only the recall evals read the cached copy
    return _exact_topk_plan(spark, sf_dir)


def _exact_topk_plan(spark, sf_dir, nq: int = N_QUERY_VECS, by_label: bool = False):
    """Exact cosine top-k of the query vectors vec_id < ``nq``: v1's plan
    and the one ground truth of every recall eval — _exact_topk (v6, v9),
    _exact_topk_v12 (the V12_NQ eval set) and, with ``by_label`` (only
    candidates sharing the query's label), v28's uncached filtered
    truth."""
    e = _emb(spark, sf_dir)
    qcols = [F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")]
    cols = ["vec_id", "embedding"]
    if by_label:
        qcols.append(F.col("label").alias("qlabel"))
        cols.append("label")
    cand = (
        F.broadcast(e.where(F.col("vec_id") < nq).select(*qcols))
        .crossJoin(e.select(*cols))
        .where(F.col("qid") != F.col("vec_id"))
    )
    if by_label:
        cand = cand.where(F.col("label") == F.col("qlabel"))
    return _topk_tail(
        cand.select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )


def _exact_topk(spark, sf_dir):
    """Exact ground-truth top-k as a session-index artifact: the recall
    evals (v6, v9) measure against ONE materialization instead of each
    re-running the brute-force pass (the r7 bench showed v6 silently
    paying v1's full cost again).  k × |queries| rows."""
    return _session_cached(
        spark,
        sf_dir,
        "exact_topk",
        lambda: _exact_topk_plan(spark, sf_dir).localCheckpoint(eager=False),
    )


V12_NQ = 50  # eval query set — wide enough that recall deltas are signal,
# not 3-query noise (250 neighbor slots at k=5)


def _exact_topk_v12(spark, sf_dir):
    """Exact ground truth over the V12_NQ eval set, session-cached (k
    rows per eval query — the same artifact class as _exact_topk)."""
    return _session_cached(
        spark,
        sf_dir,
        "exact_topk_v12",
        lambda: _exact_topk_plan(spark, sf_dir, V12_NQ).localCheckpoint(eager=False),
    )


def _exact_sql(nq: int = V12_NQ, by_label: bool = False) -> str:
    """WITH fragment ending in ``exact`` (qid, vec_id): oracle twin of
    _exact_topk_plan over the query vectors vec_id < ``nq``."""
    lab, corpus_lab, on = ("", "", "")
    if by_label:
        lab, corpus_lab, on = ", label AS qlabel", ", label", " AND qv.qlabel = c.label"
    return f"""qv AS (SELECT vec_id AS qid, embedding AS qe{lab} FROM embeddings
                WHERE vec_id < {nq}),
    corpus AS (SELECT vec_id, embedding{corpus_lab} FROM embeddings),
    scored AS (
      SELECT qv.qid, c.vec_id,
             {_COS_SQL.format(a="qv.qe", b="c.embedding")} AS sim
      FROM qv, corpus c WHERE qv.qid <> c.vec_id{on}),
    exact AS (
      SELECT qid, vec_id FROM scored
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY sim DESC, vec_id) <= {TOP_K})"""


# ---------------------------------------------------------------------------
# the recall back half: every result-set and cell-membership recall eval
# (v9, v12, v14, v17, v18, v20, v22, v23, v24, v28) builds only its `got`
# rows and counts them against a ground truth here
# ---------------------------------------------------------------------------
def _recall_agg(exact, got, key: str | None = None, values=()):
    """(qid[, key], n_topk, n_recovered, recall): per-query recall of a
    (qid, vec_id) result set against the exact ground truth.  With
    ``key``, ``got`` carries that stack column and the exact side is
    exploded over its ``values``, so one join and one aggregate serve
    every stacked arm (encodings, quantizers, nprobe, ncells).

    The result side is BROADCAST explicitly (r15): ``got`` is a top-k
    result set, bounded at |eval queries| x k rows by construction, but
    Catalyst's size estimate propagated through the serving plan's
    windows/joins lands far above the auto-broadcast threshold, so the
    recall join planned as SortMergeJoin — two hashpartitioning(qid,
    vec_id) exchanges plus two sorts of subtrees whose real output is a
    few hundred rows.  Broadcast is legal for a LeftOuter build-right
    and removes both (plan: SortMergeJoin LeftOuter -> BroadcastHashJoin
    in every recall eval)."""
    stack = [key] if key else []
    if key:
        exact = exact.withColumn(key, F.explode(F.array(*[F.lit(v) for v in values])))
    g = got.select(*stack, "qid", "vec_id", F.lit(1).alias("hit"))
    return (
        exact.join(F.broadcast(g), [*stack, "qid", "vec_id"], "left")
        .groupBy("qid", *stack)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_topk"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_recovered"),
        )
        .select(
            "qid",
            *stack,
            "n_topk",
            "n_recovered",
            F.round(F.col("n_recovered") / F.col("n_topk"), 4).alias("recall"),
        )
    )


def _probed(exact, cells, probes):
    """(qid, vec_id, rn): the exact neighbours whose cell the query
    probes, at that cell's probe rank — the membership `got` of v9, v20
    and v24.  The k x |queries| ground truth is broadcast against the
    corpus-sized cells table (r15): bounded by construction, but the
    estimate through the checkpoint planned a SortMergeJoin — a shuffle
    of the WHOLE cells table."""
    return (
        F.broadcast(exact)
        .join(cells, "vec_id")
        .join(F.broadcast(probes), ["qid", "cell"])
        .select("qid", "vec_id", "rn")
    )


_RECALL_COLS_SQL = """CAST(COUNT(*) AS BIGINT) AS n_topk,
           CAST(SUM(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_recovered,
           ROUND(SUM(CASE WHEN g.vec_id IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS recall"""


def _stacked_recall_sql(key: str | None, arms, ctes) -> str:
    """Oracle twin of _recall_agg: per-query recall of the arms (value,
    query) — each a (qid, vec_id, ...) result — stacked under the column
    ``key``, or of one unstacked arm when ``key`` is None.  ``ctes`` are
    the WITH fragments the recall reads: the ground truth ``exact``
    (_exact_sql) and whatever the arm queries read."""
    tag = (lambda v: f"{v!r} AS {key}, ") if key else (lambda v: "")
    got = " UNION ALL ".join(f"SELECT {tag(v)}qid, vec_id FROM ({sql})" for v, sql in arms)
    cols, cross, on = "e.qid", "", ""
    if key:
        keys = " UNION ALL ".join(f"SELECT {v!r} AS {key}" for v, _ in arms)
        cols, on = f"e.qid, k.{key}", f"g.{key} = k.{key} AND "
        cross = f"\n    CROSS JOIN ({keys}) k\n   "
    with_ = ",\n    ".join(ctes)
    return f"""
    WITH {with_},
    got AS ({got})
    SELECT {cols}, {_RECALL_COLS_SQL}
    FROM exact e{cross} LEFT JOIN got g ON {on}g.qid = e.qid AND g.vec_id = e.vec_id
    GROUP BY {cols} ORDER BY {cols}
    """


def _recall_agg_sql(got: str) -> str:
    """_stacked_recall_sql of one unstacked result ``got`` over the
    V12_NQ eval set."""
    return _stacked_recall_sql(None, [(None, got)], [_exact_sql()])


def _probed_sql(tag: str = "", cond: str = "") -> str:
    """Oracle twin of _probed: the ``exact`` neighbours whose
    ``{tag}cells`` cell is among the query's ``{tag}probes``."""
    return f"""SELECT x.qid, x.vec_id FROM exact x
      JOIN {tag}cells cl ON cl.vec_id = x.vec_id
      JOIN {tag}probes p ON p.qid = x.qid AND p.cell = cl.cell{cond}"""


# ---------------------------------------------------------------------------
# v2: LSH random-hyperplane bucketing (the scale path)
# ---------------------------------------------------------------------------
# Default calibration — 8 planes → 256 buckets — is the ORACLE-CHECKED DEMO
# setting, not a corpus-size constant.  Sizing rule for real data: the
# per-bucket self-join is quadratic in bucket population, so pick
#   n_planes = ceil(log2(N / target_bucket_size))
# (buckets ≳ N / target_bucket_size; e.g. N=1e9 vectors, target 1k/bucket →
# 20 planes).  Recall at a given cosine threshold then comes from banding:
# run b independent plane-sets of r planes each and union candidates
# (P[collide] = 1-(1-p^r)^b with p = 1 - θ/π), exactly how x3 bands
# MinHash.  Every function below takes n_planes as a parameter; capped at
# 31 so the bucket code stays a signed int.
N_PLANES = 8


def _plane_coef(j: int, i: int) -> int:
    # Deterministic pseudo-hyperplane coefficient in [-3, 3].  The mixed
    # moduli matter: a single "% 7" family is a polynomial in j mod 7 and
    # therefore has PERIOD 7 in the plane index — planes 7..13 silently
    # duplicated planes 0..6, capping every multi-plane calibration at
    # 2^7 effective buckets (caught when banded v7 added zero recall over
    # v3).  The (i*j % 5) term breaks the period: joint period 35 > the
    # 31-plane cap, and all 31 coefficient vectors are pairwise distinct
    # (asserted in test_lsh_planes_distinct).
    return ((((i * 31 + j * 17 + 7) % 7) + ((i * j) % 5)) % 7) - 3


def _sig_bit_sql(j: int, emb: str) -> str:
    terms = " + ".join(
        f"CAST({emb}[{i + 1}] AS DOUBLE) * ({_plane_coef(j, i)})" for i in range(64)
    )
    return f"(CASE WHEN ({terms}) > 0 THEN {1 << j} ELSE 0 END)"


def lsh_bucket_table(e, n_planes: int = N_PLANES) -> "DataFrame":
    """(vec_id, bucket) for a whole embeddings frame as a ZERO-shuffle
    scan-side projection: an Arrow-batched pandas UDF computes all plane
    dots in ONE BLAS matmul per batch — (batch x 64) @ (64 x n_planes),
    coefficient matrix built from the same _plane_coef Python function
    the SQL oracle uses, so formula parity is by construction.  (Two
    Column forms were tried and retired: per-plane literal-term trees
    compile to ~4k-node codegen and dominate the query; zip_with +
    aggregate folds evaluate interpreted, outside whole-stage codegen.)

    This replaced a posexplode + n_planes-sum groupBy (whole-stage
    codegen, but 64 x n_planes pmod-chain evaluations per vector and one
    hash-aggregate exchange): the matmul form measured 2.4x faster at
    sf0.1 with identical buckets, and at 100 TB it streams the scan with
    no exchange at all — per-plane arithmetic moves from interpreted/
    codegen'd scalar ops to one vectorized BLAS call per Arrow batch
    (the documented exception to "UDFs are the slow path": genuinely
    dense linear algebra, same pattern as m2's batch kernel).

    Caveat (near-zero dots): the bit test is `dot > 0` on a float64 sum;
    numpy's pairwise accumulation order differs from the oracle SQL's
    left-to-right term order, so a dot within float ulps of 0 could flip
    sign and move that vector to the adjacent bucket — harmless for LSH
    recall (both buckets are equally valid for a boundary vector) but
    worth knowing when asserting bit-identical signatures across engines.
    The testdata corpus has no |dot| < 1e-6 cases (re-checked when this
    form was A/B'd in).  Input embeddings are validity-gated at the scan
    (_emb), so every array is non-null and 64-dim."""
    assert 1 <= n_planes <= 31
    coefs = np.array(
        [[_plane_coef(j, i) for j in range(n_planes)] for i in range(64)],
        dtype=np.float64,
    )
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf("int")
    def _bucket(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="int32")
        dots = np.vstack(emb.to_numpy()).astype(np.float64) @ coefs
        return pd.Series(((dots > 0).astype(np.int64) @ weights).astype(np.int32))

    return e.select("vec_id", _bucket("embedding").alias("bucket"))


SIG_PLANES = 16  # width of the session signature index (see _sig)


def _sig(spark, sf_dir, n_planes: int):
    """(vec_id, bucket) at any calibration ≤ SIG_PLANES, served from ONE
    session-cached 16-plane signature table: plane j's coefficients don't
    depend on the plane count, so the n-plane bucket IS the low n bits of
    the 16-plane bucket (the same prefix property v6's fused plan and
    v7's band slicing exploit).  One signature scan per session serves
    v2/v2_16/v3/v6/v7 instead of each query re-running the kernel; a
    wider-than-index calibration falls through to a direct computation."""
    if n_planes > SIG_PLANES:
        return lsh_bucket_table(_emb(spark, sf_dir), n_planes)
    s = _session_cached(
        spark,
        sf_dir,
        f"sig{SIG_PLANES}",
        lambda: lsh_bucket_table(_emb(spark, sf_dir), SIG_PLANES).localCheckpoint(
            eager=False
        ),
    )
    if n_planes == SIG_PLANES:
        return s
    mask = (1 << n_planes) - 1
    return s.select("vec_id", F.col("bucket").bitwiseAND(F.lit(mask)).alias("bucket"))


@_register(
    "v2_lsh_bucket",
    "Random-hyperplane LSH: 8-bit signature per vector from deterministic "
    "integer hyperplanes, plus per-bucket population — the partition key "
    "for bucketed ANN joins.  Signature is a scan-side projection; the "
    "only shuffle is the final per-bucket count.",
    f"""
    WITH sig AS (
      SELECT vec_id,
             CAST({" + ".join(_sig_bit_sql(j, "embedding") for j in range(N_PLANES))} AS INT) AS bucket
      FROM embeddings)
    SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
    FROM sig GROUP BY bucket ORDER BY bucket
    """,
    ("similarity", "lsh", "pipeline"),
)
def v2(spark, sf_dir):
    return lsh_bucket_counts(spark, sf_dir, N_PLANES)


def lsh_bucket_counts(spark, sf_dir, n_planes: int) -> "DataFrame":
    """v2 at any calibration: per-bucket population for an n_planes
    signature (see the sizing rule at N_PLANES), sliced from the session
    signature index (_sig)."""
    sig = _sig(spark, sf_dir, n_planes)
    return (
        sig.groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


@_register(
    "v2_lsh_bucket_16",
    "v2 at a second calibration (16 planes → 65536 buckets): the oracle "
    "pins that plane count is a true parameter, not baked-in — the sizing "
    "rule (n_planes = ceil(log2(N / target_bucket_size))) needs ~20+ "
    "planes at real corpus sizes.",
    f"""
    WITH sig AS (
      SELECT vec_id,
             CAST({" + ".join(_sig_bit_sql(j, "embedding") for j in range(16))} AS INT) AS bucket
      FROM embeddings)
    SELECT bucket, COUNT(*) AS n_vecs, MIN(vec_id) AS min_vec_id
    FROM sig GROUP BY bucket ORDER BY bucket
    """,
    ("similarity", "lsh", "pipeline", "calibration"),
)
def v2_16(spark, sf_dir):
    return lsh_bucket_counts(spark, sf_dir, 16)


# ---------------------------------------------------------------------------
# v3: embedding-cosine near-duplicate pairs via LSH buckets
# ---------------------------------------------------------------------------
# Demo threshold CALIBRATED TO THE TESTDATA: the synthetic embeddings'
# max pairwise cosine is ~0.60, so a production-style 0.85 cutoff can
# never fire and the verify stage would be permanently green-on-empty
# (as it silently was through r5).  0.45 yields a real pair set at both
# driver SFs; a production near-dup pass would raise this to 0.85+.
NEAR_DUP_COS = 0.45


@_register(
    "v3_embedding_near_dup",
    "Embedding near-dup pairs: same-LSH-bucket candidates re-ranked by "
    f"exact cosine >= {NEAR_DUP_COS} (testdata-calibrated — see the "
    "NEAR_DUP_COS note).  The join is per-bucket (never O(n²)); at 100 TB "
    "this is the embedding twin of MinHash-LSH text dedup.",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             CAST({" + ".join(_sig_bit_sql(j, "embedding") for j in range(N_PLANES))} AS INT) AS bucket
      FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_COS_SQL.format(a="a.embedding", b="b.embedding")} AS sim
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT vec_a, vec_b, ROUND(sim, 4) AS sim
    FROM pairs WHERE sim >= {NEAR_DUP_COS} ORDER BY vec_a, vec_b
    """,
    ("similarity", "dedup", "lsh", "pipeline"),
)
def v3(spark, sf_dir):
    return embedding_near_dup(spark, sf_dir, N_PLANES)


def embedding_near_dup(spark, sf_dir, n_planes: int) -> "DataFrame":
    """v3 at any calibration: same-bucket candidates re-ranked by exact
    cosine.  n_planes controls bucket count (2^n_planes) and therefore the
    per-bucket self-join cost — size it so N/2^n_planes stays around the
    target bucket population (see the sizing rule at N_PLANES).

    sf0.1 floor decomposition (r8, warm session index, best-of-3 per
    stage): bucket self-join alone 0.14 s, + Arrow cosine verify 0.33 s,
    + threshold filter 0.33 s, + presentational ORDER BY 0.58 s — four
    scheduled stages on the measured 0.09 s/action local-mode floor, so
    ≥0.4 s of the total is scheduling, not plan (the 11.5k-candidate
    kernel itself is ~0.2 s).  The in-process oracle runs the same query
    in 0.25 s; the plan — per-bucket join, one kernel eval, no corpus
    product — is the 100×-scale shape."""
    e = _emb(spark, sf_dir)
    # session-cached (embedding, bucket) join — the serving layout of an
    # LSH index (vector stored WITH its bucket key): both sides of the
    # self-join and the sort sampler read one materialization, and repeat
    # searches at a calibration skip the join entirely
    sig = _session_cached(
        spark,
        sf_dir,
        f"sig_emb{n_planes}",
        lambda: e.join(_sig(spark, sf_dir, n_planes), "vec_id").localCheckpoint(
            eager=False
        ),
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("vec_a"),
        F.col("b.vec_id").alias("vec_b"),
        cosine(F.col("a.embedding"), F.col("b.embedding")).alias("sim"),
    )
    return (
        pairs.where(F.col("sim") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim"))
        .orderBy("vec_a", "vec_b")
    )


# ---------------------------------------------------------------------------
# v4: per-label embedding statistics
# ---------------------------------------------------------------------------
@_register(
    "v4_embedding_stats",
    "Per-label corpus stats: count + mean L2 norm — the monitoring query "
    "for an embedding ingest pipeline.",
    """
    SELECT label, COUNT(*) AS n,
           ROUND(AVG(SQRT(list_dot_product(CAST(embedding AS DOUBLE[]),
                                           CAST(embedding AS DOUBLE[])))), 4) AS avg_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    ("similarity", "aggregate", "pipeline"),
)
def v4(spark, sf_dir):
    e = _emb(spark, sf_dir)
    return (
        e.groupBy("label")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.avg(norm2(F.col("embedding"))), 4).alias("avg_norm"))
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# v5: IVF (inverted-file) approximate top-k — the cell-probe scale path
# ---------------------------------------------------------------------------
N_CELLS = 8
# deterministic coarse-quantizer seeds: vectors present at every sf (>=500)
IVF_SEED_IDS = (7, 61, 113, 167, 229, 283, 337, 401)
N_PROBE = 2


@dataclasses.dataclass(frozen=True)
class Quantizer:
    """A coarse quantizer: the centroids that split the corpus into cells.

    ``seeds`` is the vec_id pool the centroids start from; ``trained``
    refines them by TIVF_ITERS spherical-Lloyd steps (v19), otherwise the
    seed vectors ARE the centroids (v5).  Everything the coarse stage
    varies on derives from these two fields — the centroid source on
    both engines, the session-index key prefix and the SQL CTE tag — so
    one stage definition serves every quantizer and a quantizer change
    is made in one place.  The seed quantizer exists for IVF_SEED_IDS
    only: its ``ivf_`` index keys name that one layout."""

    seeds: tuple = IVF_SEED_IDS
    trained: bool = False

    def __post_init__(self):
        # raise, not assert: must survive python -O
        if not self.trained and self.seeds != IVF_SEED_IDS:
            raise ValueError(
                "the seed quantizer is the IVF_SEED_IDS layout; a custom seed "
                "pool needs trained=True"
            )

    @property
    def ncells(self) -> int:
        return len(self.seeds)

    @property
    def _pool_sfx(self) -> str:
        return "" if self.seeds == IVF_SEED_IDS else f"_c{self.ncells}"

    @property
    def key_prefix(self) -> str:
        """Session-index key prefix of this quantizer's score/cell/probe
        tables (``ivf_``, ``tivf_``, ``tivf_c32_`` ...)."""
        return f"tivf{self._pool_sfx}_" if self.trained else "ivf_"

    @property
    def tag(self) -> str:
        """CTE-name prefix that keeps several quantizers apart in one
        oracle query (v20, v24)."""
        if not self.trained:
            return "s_"
        return f"c{self.ncells}_" if self._pool_sfx else "t_"

    def centroids(self, spark, sf_dir):
        """(cid, ce): the seed vectors, or the session-cached trained
        centroid table (shared by the batch index and the streaming
        serving tier, which collects it as its closure constant)."""
        if not self.trained:
            return _emb(spark, sf_dir).where(F.col("vec_id").isin(*self.seeds)).select(
                F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
            )
        cw = _session_cached(
            spark,
            sf_dir,
            f"tivf_cents{self._pool_sfx}",
            lambda: _tivf_centroids_plan(spark, sf_dir, TIVF_ITERS, self.seeds).localCheckpoint(
                eager=False
            ),
        )
        return cw.select("cid", F.col("cwe").alias("ce"))

    def centroid_sql(self, tag: str) -> str:
        """WITH fragment ending in ``{tag}cents`` (cid, ce) — the oracle
        twin of :meth:`centroids`."""
        if self.trained:
            return f"""{tag}xt AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS xe FROM embeddings),
    {_lloyd_sql(
        f"{tag}xt", "xe", self.seeds, TIVF_ITERS, _COS_SCORE_SQL, True, EMB_DIM, pre=f"{tag}t"
    )},
    {tag}cents AS (SELECT cid, cwe AS ce FROM {tag}tcw)"""
        return f"""{tag}cents AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
          WHERE vec_id IN {self.seeds})"""


SEED_Q = Quantizer()  # v5/v9/v13/v16/v18's cells — the calibration baseline
TRAINED_Q = Quantizer(trained=True)  # v19-v23's cells


def _cells_probes(spark, sf_dir, quant: Quantizer, max_probe: int, nq: int = N_QUERY_VECS):
    """The coarse stage of every IVF query: (e, cells, probes) for one
    quantizer.  ONE definition so a search and its recall eval always
    measure the same index — the centroids, the max-struct cell
    tie-break (sim desc, cid asc) and the probe ranking can never drift
    between queries or between quantizers.

    Scores every vector against the broadcast centroids; argmax by
    (sim desc, cid asc) via a max-struct aggregate — map-side combinable,
    the shuffle carries (vec_id, one struct), never the embeddings.

    The score table, the cell assignment and the probe list live in the
    session index (lazy localCheckpoints) under the quantizer's key
    prefix: they ARE the IVF index — |corpus| × n_cells doubles and
    |corpus| ints — and a search and its eval read the SAME
    materialization instead of each re-scoring the corpus (the r7
    bench's v5/v9 regression was exactly this pair of rebuilds).
    ``probes`` keeps the probe rank ``rn`` (1 = nearest cell) up to
    ``max_probe`` for the ``nq`` query vectors."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    cents = quant.centroids(spark, sf_dir)
    kp = quant.key_prefix

    def build_scored():
        return (
            e.crossJoin(F.broadcast(cents))
            .select("vec_id", "cid", cosine(F.col("embedding"), F.col("ce")).alias("sim"))
            .localCheckpoint(eager=False)
        )

    scored = _session_cached(spark, sf_dir, f"{kp}scored", build_scored)

    def build_cells():
        pick = F.max(
            F.struct(F.col("sim"), (-F.col("cid")).alias("neg"), F.col("cid").alias("cid"))
        )
        return (
            scored.groupBy("vec_id")
            .agg(pick.alias("m"))
            .select("vec_id", F.col("m.cid").alias("cell"))
            .localCheckpoint(eager=False)
        )

    cells = _session_cached(spark, sf_dir, f"{kp}cells", build_cells)

    def build_probes():
        wprobe = Window.partitionBy("vec_id").orderBy(F.col("sim").desc(), F.col("cid"))
        return (
            scored.where(F.col("vec_id") < nq)
            .select("vec_id", "cid", F.row_number().over(wprobe).alias("rn"))
            .where(F.col("rn") <= max_probe)
            .select(F.col("vec_id").alias("qid"), F.col("cid").alias("cell"), "rn")
            .localCheckpoint(eager=False)
        )

    sfx = "" if nq == N_QUERY_VECS else f"_q{nq}"
    probes = _session_cached(spark, sf_dir, f"{kp}probes{max_probe}{sfx}", build_probes)
    return e, cells, probes


def _coarse_sql(quant: Quantizer, nq: int, nprobe: int, tag: str = "") -> str:
    """WITH fragment mirroring _cells_probes: the centroid CTEs, then
    ``{tag}cells`` (vec_id, cell) and ``{tag}probes`` (qid, cell, rn) for
    query vectors vec_id < ``nq`` up to probe rank ``nprobe``.  One
    ROW_NUMBER ranking yields both: rank 1 is the cell, ranks <= nprobe
    the probes.  ``tag`` keeps several quantizers apart in one query."""
    return f"""{quant.centroid_sql(tag)},
    {tag}ivfranked AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_COS_SQL.format(a="e.embedding", b="c.ce")} DESC, c.cid) AS rn
      FROM embeddings e, {tag}cents c),
    {tag}cells AS (SELECT vec_id, cid AS cell FROM {tag}ivfranked WHERE rn = 1),
    {tag}probes AS (SELECT vec_id AS qid, cid AS cell, rn FROM {tag}ivfranked
                    WHERE vec_id < {nq} AND rn <= {nprobe})"""


def _probe_topk_plan(
    spark,
    sf_dir,
    quant: Quantizer,
    nprobe: int,
    nq: int = N_QUERY_VECS,
    label_filter: bool = False,
    label_depth: bool = False,
):
    """Cell-probe top-k with exact in-cell cosine — v5 (seed cells), v19
    (trained), v25 (the serving layout), v27 (``label_filter``: only
    candidates sharing the query's label) and v29 (``label_depth``,
    which implies the filter: each query probes npl(its label) cells,
    never fewer than ``nprobe`` — see _label_nprobe).  Centroids and
    probes broadcast, cells the partition key, so a query reads
    nprobe/ncells of the corpus; the label predicate lands on the
    candidate stream before the cosine, so its selectivity multiplies
    with the coarse filter instead of post-filtering a shortlist.

    sf0.1 floor decomposition (v5, r8, warm session index, best-of-3 per
    stage): probe→cell candidate join alone 0.13 s, + corpus/query joins
    + Arrow cosine 0.38 s, + rank window + ORDER BY 0.53 s — the
    1.5k-candidate kernel is milliseconds; the remainder is ~5 stages on
    the 0.09 s/action scheduling floor.  The plan (broadcast probes/
    centroids, cell-pruned candidates, no corpus product — plan-gated)
    is the shape that wins at 100×."""
    by_label = label_filter or label_depth
    e, cells, probes = _cells_probes(
        spark, sf_dir, quant, quant.ncells if label_depth else nprobe, nq
    )
    qcols = [F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")]
    if by_label:
        e = _emb(spark, sf_dir).select("vec_id", "embedding", "label")
        qcols.append(F.col("label").alias("qlabel"))
    qv = e.where(F.col("vec_id") < nq).select(*qcols)
    if label_depth:
        # probes were built to the FULL cell list once; each query keeps
        # rn <= npl(its label)
        npl = _label_nprobe(e, quant.ncells, nprobe)
        qv = qv.join(F.broadcast(npl), F.col("qlabel") == F.col("label")).drop("label")
        cand = (
            F.broadcast(probes)
            .join(F.broadcast(qv), "qid")
            .where(F.col("rn") <= F.col("npl"))
            .join(cells, "cell")
            .where(F.col("vec_id") != F.col("qid"))
            .join(e, "vec_id")
        )
    else:
        cand = (
            F.broadcast(probes.drop("rn"))
            .join(cells, "cell")
            .where(F.col("vec_id") != F.col("qid"))
            .join(e, "vec_id")
            .join(F.broadcast(qv), "qid")
        )
    if by_label:
        cand = cand.where(F.col("label") == F.col("qlabel"))
    return _topk_tail(
        cand.select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )


def _probe_topk_sql(
    quant: Quantizer,
    nprobe: int,
    nq: int = N_QUERY_VECS,
    label_filter: bool = False,
    label_depth: bool = False,
) -> str:
    """Oracle twin of _probe_topk_plan, CTE for CTE."""
    by_label = label_filter or label_depth
    ctes = [
        _coarse_sql(quant, nq, quant.ncells if label_depth else nprobe),
        f"""qv AS (SELECT vec_id AS qid, embedding AS qe{", label AS qlabel" if by_label else ""}
           FROM embeddings WHERE vec_id < {nq})""",
    ]
    probes = "probes"
    if label_depth:
        ctes += [
            _label_nprobe_sql(quant.ncells, nprobe),
            """dprobes AS (
      SELECT p.qid, p.cell FROM probes p
      JOIN qv ON qv.qid = p.qid
      JOIN np ON np.label = qv.qlabel
      WHERE p.rn <= np.npl)""",
        ]
        probes = "dprobes"
    ctes.append(
        f"""cand AS (
      SELECT p.qid, x.vec_id,
             {_COS_SQL.format(a="qv.qe", b="e.embedding")} AS sim
      FROM {probes} p
      JOIN cells x ON x.cell = p.cell AND x.vec_id <> p.qid
      JOIN embeddings e ON e.vec_id = x.vec_id
      JOIN qv ON qv.qid = p.qid{" AND e.label = qv.qlabel" if by_label else ""})"""
    )
    ctes.append(_topk_tail_sql("cand"))
    return "\n    WITH " + ",\n    ".join(ctes) + "\n    "


@_register(
    "v5_ivf_topk",
    "IVF approximate top-5: the corpus is coarse-quantized into 8 cells "
    "(nearest of 8 deterministic seed centroids by cosine, ties to the "
    "lower cell id); each query probes its 2 nearest cells and ranks "
    "exact cosine inside them only.  At 100 TB the cell id is the "
    "partition key — a query touches nprobe/ncells of the corpus instead "
    "of scanning it (v1 is the exact baseline; recall is tunable via "
    "nprobe).  Centroids broadcast; the cell assignment is a map-side "
    "max-struct aggregate, no window shuffle of the vectors.  r15 direct "
    "slope row (the r14 sweep had only the v-family proxy): Spark "
    "1.35/0.69/2.06 s vs DuckDB 0.15/0.30/0.63 at 1x/10x/100x-relative "
    "corpus points — exponents 0.20 vs 0.31, closing but ~3x at the 10x "
    "point.  The constant is the five-stage pipeline (assign, probe, "
    "candidate join, rank) paying ~4 small-stage floors; per-decade "
    "growth is flatter than the oracle's, and the SERVING tier "
    "(v25/v26: pre-assigned codes, broadcast centroids, no per-query "
    "assignment pass) is the declared scale path — v25 wins 5-10x at "
    "the 10x corpus point.  Measured refusal: fusing v5's stages would "
    "re-derive the serving layout per query, which is exactly what the "
    "serving tier exists to amortize.",
    _probe_topk_sql(SEED_Q, N_PROBE),
    ("similarity", "ann", "ivf", "pipeline"),
)
def v5(spark, sf_dir):
    return _probe_topk_plan(spark, sf_dir, SEED_Q, N_PROBE)


# ---------------------------------------------------------------------------
# v6: LSH recall evaluation (calibration feedback for the sizing rule)
# ---------------------------------------------------------------------------
RECALL_PLANE_SETS = (4, 8)


def _recall_sql(n_planes: int) -> str:
    sig = " + ".join(_sig_bit_sql(j, "embedding") for j in range(n_planes))
    return f"""
    SELECT x.qid, {n_planes} AS n_planes,
           CAST(COUNT(*) AS BIGINT) AS n_topk,
           CAST(SUM(CASE WHEN s.bucket = q.qbucket THEN 1 ELSE 0 END) AS BIGINT)
             AS n_recovered,
           ROUND(SUM(CASE WHEN s.bucket = q.qbucket THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 4) AS recall
    FROM ({QUERIES["v1_cosine_topk"].oracle}) x
    JOIN (SELECT vec_id, CAST({sig} AS INT) AS bucket FROM embeddings) s
      ON s.vec_id = x.vec_id
    JOIN (SELECT vec_id AS qid, CAST({sig} AS INT) AS qbucket FROM embeddings
          WHERE vec_id < {N_QUERY_VECS}) q
      ON q.qid = x.qid
    GROUP BY x.qid"""


@_register(
    "v6_lsh_recall",
    "ANN calibration eval: recall@k of LSH bucketing vs the exact v1 "
    f"top-k, at {RECALL_PLANE_SETS[0]} and {RECALL_PLANE_SETS[1]} planes "
    "side by side — the measured recall/cost tradeoff the N_PLANES sizing "
    "rule manages (fewer planes → bigger buckets → higher recall and "
    "higher candidate-join cost).  A 100 TB pipeline runs exactly this "
    "eval on a sample before fixing its production calibration.",
    " UNION ALL ".join(f"({_recall_sql(n)})" for n in RECALL_PLANE_SETS)
    + " ORDER BY qid, n_planes",
    ("similarity", "lsh", "eval", "calibration", "pipeline"),
)
def v6(spark, sf_dir):
    # Fused plan: plane j's coefficients don't depend on the plane count,
    # so the 4-plane bucket IS the low 4 bits of the 8-plane bucket — one
    # signature scan and ONE exact-top-k pass serve both calibrations
    # (vs. naively running lsh_recall per plane set = the brute-force v1
    # twice; measured 2.6 s → 1.3 s at sf0.1).
    lo, hi = RECALL_PLANE_SETS
    assert lo < hi, "prefix-bucket fusion needs an ascending plane pair"
    exact = _exact_topk(spark, sf_dir).select("qid", "vec_id")
    mask = (1 << lo) - 1
    sig = _sig(spark, sf_dir, hi).select(
        "vec_id",
        F.col("bucket").alias("b_hi"),
        F.col("bucket").bitwiseAND(F.lit(mask)).alias("b_lo"),
    )
    qb = sig.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("b_hi").alias("q_hi"),
        F.col("b_lo").alias("q_lo"),
    )
    agg = (
        exact.join(sig, "vec_id")
        .join(F.broadcast(qb), "qid")
        .groupBy("qid")
        .agg(
            F.count(F.lit(1)).alias("n_topk"),
            F.sum((F.col("b_lo") == F.col("q_lo")).cast("int")).alias("rec_lo"),
            F.sum((F.col("b_hi") == F.col("q_hi")).cast("int")).alias("rec_hi"),
        )
    )
    return (
        agg.select(
            "qid",
            "n_topk",
            F.expr(f"stack(2, {lo}, rec_lo, {hi}, rec_hi) AS (n_planes, n_recovered)"),
        )
        .select(
            "qid",
            F.col("n_planes").cast("int").alias("n_planes"),
            "n_topk",
            "n_recovered",
            F.round(F.col("n_recovered") / F.col("n_topk"), 4).alias("recall"),
        )
        .orderBy("qid", "n_planes")
    )


# ---------------------------------------------------------------------------
# v7: BANDED hyperplane LSH near-dup pairs (recall via multiple tables)
# ---------------------------------------------------------------------------
V7_TOTAL_PLANES = 16
V7_BANDS = 2  # 2 bands x 8 planes, sliced from ONE 16-plane signature


@_register(
    "v7_lsh_banded_near_dup",
    "v3 with BANDING: candidates collide in ANY of 2 independent 8-plane "
    "tables (P = 1-(1-p^8)^2 vs a single table's p^8 — the recall "
    "mechanism the v2 sizing rule defers to, here oracle-checked for "
    "embeddings exactly as x3 bands MinHash for text).  One 16-plane "
    "signature scan serves both bands by bit-slicing (band k = bits "
    "8k..8k+7), so banding costs one extra per-band shuffle, not an "
    "extra corpus scan; the same exact-cosine verify makes the output a "
    "higher-recall superset-in-expectation of v3's at identical "
    "precision.",
    f"""
    WITH sig AS (
      SELECT vec_id, embedding,
             CAST({" + ".join(_sig_bit_sql(j, "embedding") for j in range(V7_TOTAL_PLANES))} AS INT) AS code
      FROM embeddings),
    bands AS (
      {" UNION ALL ".join(
          f"SELECT vec_id, embedding, {band} AS band, "
          f"(code >> {(V7_TOTAL_PLANES // V7_BANDS) * band}) "
          f"& {(1 << (V7_TOTAL_PLANES // V7_BANDS)) - 1} AS bval FROM sig"
          for band in range(V7_BANDS)
      )}),
    cand AS (
      SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
      FROM bands a JOIN bands b ON a.band = b.band AND a.bval = b.bval
      WHERE a.vec_id < b.vec_id),
    pairs AS (
      SELECT c.vec_a, c.vec_b,
             {_COS_SQL.format(a="ea.embedding", b="eb.embedding")} AS sim
      FROM cand c
      JOIN embeddings ea ON ea.vec_id = c.vec_a
      JOIN embeddings eb ON eb.vec_id = c.vec_b)
    SELECT vec_a, vec_b, ROUND(sim, 4) AS sim
    FROM pairs WHERE sim >= {NEAR_DUP_COS} ORDER BY vec_a, vec_b
    """,
    ("similarity", "dedup", "lsh", "banding", "pipeline", "calibration"),
)
def v7(spark, sf_dir):
    r = V7_TOTAL_PLANES // V7_BANDS
    e = _emb(spark, sf_dir)
    # both band slices read the session signature index (already
    # checkpointed), so the union's branches never re-run the kernel
    sig = _sig(spark, sf_dir, V7_TOTAL_PLANES)
    mask = (1 << r) - 1
    parts = [
        sig.select(
            "vec_id",
            F.lit(band).alias("band"),
            F.shiftright("bucket", r * band).bitwiseAND(F.lit(mask)).alias("bval"),
        )
        for band in range(V7_BANDS)
    ]
    bands = parts[0]
    for p in parts[1:]:
        bands = bands.unionAll(p)  # slices of the cached sig: no checkpoint needed
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bval") == F.col("b.bval")))
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    ea = e.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("emb_a"))
    eb = e.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("emb_b"))
    pairs = (
        cand.join(ea, "vec_a")
        .join(eb, "vec_b")
        .select("vec_a", "vec_b", cosine(F.col("emb_a"), F.col("emb_b")).alias("sim"))
    )
    return (
        pairs.where(F.col("sim") >= NEAR_DUP_COS)
        .select("vec_a", "vec_b", F.round("sim", 4).alias("sim"))
        .orderBy("vec_a", "vec_b")
    )


def _pairs_v7(spark, sf_dir):
    """Session-cached v7 pair graph — the same pair-index artifact pattern
    as dedup._pair_graph (v7 itself still rebuilds its plan as a query);
    shared by v8 (cluster assignment) and v15 (the dedup apply)."""
    return _session_cached(
        spark,
        sf_dir,
        "pairs_v7",
        lambda: QUERIES["v7_lsh_banded_near_dup"]
        .build(spark, sf_dir)
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
        .localCheckpoint(eager=False),
    )


# ---------------------------------------------------------------------------
# v8: embedding near-dup cluster assignment (x7 over the v7 pair graph)
# ---------------------------------------------------------------------------
@_register(
    "v8_embedding_clusters",
    "Embedding near-dup CLUSTERS: connected components over the banded-LSH "
    "pair graph (v7) — the keep-one-per-cluster step for embedding dedup, "
    "exactly as x7 clusters the text pair sources (near_dup_clusters is "
    "pair-source-generic across both modalities).  Oracle: recursive-CTE "
    "transitive closure over the v7 oracle.",
    f"""
    {_closure_cte(
        "SELECT vec_a AS doc_a, vec_b AS doc_b FROM ("
        + QUERIES["v7_lsh_banded_near_dup"].oracle
        + ")"
    )}
    SELECT doc_id AS vec_id, cluster_id FROM ({_CLUSTER_LABELS}) ORDER BY vec_id
    """,
    ("similarity", "dedup", "clustering", "pipeline"),
)
def v8(spark, sf_dir):
    from .dedup import near_dup_clusters

    return (
        near_dup_clusters(_pairs_v7(spark, sf_dir))
        .select(F.col("doc_id").alias("vec_id"), "cluster_id")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# v9: IVF recall evaluation (nprobe sweep — the v6 twin for cell-probe ANN)
# ---------------------------------------------------------------------------
V9_MAX_PROBE = 2
V9_NPROBES = (1, V9_MAX_PROBE)


@_register(
    "v9_ivf_recall",
    "IVF calibration eval: recall@k of cell-probing vs the exact v1 top-k "
    f"at nprobe 1 and {V9_MAX_PROBE} side by side — how much of the true "
    "neighborhood each additional probed cell buys, against a scan "
    "fraction of nprobe/ncells.  One centroid-scoring pass yields cell "
    "assignments AND the probe ranking; an exact neighbour is recovered "
    "at every nprobe at or above the probe rank of its cell, so the "
    "probed neighbours exploded over the nprobe values feed the one "
    "shared recall aggregate.",
    _stacked_recall_sql(
        "nprobe",
        [(p, _probed_sql(cond=f" AND p.rn <= {p}")) for p in V9_NPROBES],
        [_exact_sql(N_QUERY_VECS), _coarse_sql(SEED_Q, N_QUERY_VECS, V9_MAX_PROBE)],
    ),
    ("similarity", "ann", "ivf", "eval", "calibration", "pipeline"),
)
def v9(spark, sf_dir):
    _, cells, probes = _cells_probes(spark, sf_dir, SEED_Q, V9_MAX_PROBE)
    exact = _exact_topk(spark, sf_dir).select("qid", "vec_id")
    got = (
        _probed(exact, cells, probes)
        .select("qid", "vec_id", "rn", F.explode(F.array(*map(F.lit, V9_NPROBES))).alias("nprobe"))
        .where(F.col("rn") <= F.col("nprobe"))
    )
    return _recall_agg(exact, got, "nprobe", V9_NPROBES).orderBy("qid", "nprobe")


# ---------------------------------------------------------------------------
# v10: embedding ingest validity monitor (the query BEFORE the gate)
# ---------------------------------------------------------------------------
@_register(
    "v10_embedding_validity",
    "Ingest-QA monitor over the RAW embeddings table: per-label counts of "
    "NULL embeddings, wrong-dimension arrays, NULL elements, zero/"
    "non-finite norms, and valid rows — the exact partition the "
    "valid_embeddings gate applies, reported instead of silently dropped.  "
    "A 100 TB vector pipeline runs this per ingest batch and alerts on "
    "any non-valid count; one scan, per-row CASE in codegen (the self-dot "
    "only evaluates on rows that pass the cheap shape checks), map-side "
    "combinable rollup.",
    f"""
    WITH c AS (
      SELECT label,
             CASE WHEN embedding IS NULL THEN 'null'
                  WHEN LEN(embedding) <> {EMB_DIM} THEN 'wrong_dim'
                  WHEN LEN(list_filter(embedding, x -> x IS NULL)) > 0 THEN 'null_elem'
                  WHEN NOT (isfinite({_DOT_SELF}) AND {_DOT_SELF} > 0) THEN 'bad_norm'
                  ELSE 'valid' END AS cat
      FROM embeddings)
    SELECT label, COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN cat = 'null' THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
           CAST(SUM(CASE WHEN cat = 'wrong_dim' THEN 1 ELSE 0 END) AS BIGINT) AS n_wrong_dim,
           CAST(SUM(CASE WHEN cat = 'null_elem' THEN 1 ELSE 0 END) AS BIGINT) AS n_null_elem,
           CAST(SUM(CASE WHEN cat = 'bad_norm' THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_norm,
           CAST(SUM(CASE WHEN cat = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid
    FROM c GROUP BY label ORDER BY label
    """,
    ("similarity", "monitoring", "validity", "pipeline"),
)
def v10(spark, sf_dir):
    # RAW scan on purpose — this is the one similarity query that must see
    # the rows the _emb gate excludes
    e = read_table(spark, sf_dir, "embeddings")
    ss = dot_double(F.col("embedding"), F.col("embedding"))
    cat = (
        F.when(F.col("embedding").isNull(), "null")
        .when(F.size("embedding") != EMB_DIM, "wrong_dim")
        .when(F.exists(F.col("embedding"), lambda x: x.isNull()), "null_elem")
        .when(~(~F.isnan(ss) & (ss < float("inf")) & (ss > 0)), "bad_norm")
        .otherwise("valid")
    )
    c = e.select("label", cat.alias("cat"))
    return (
        c.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            *[
                F.sum((F.col("cat") == k).cast("int")).cast("bigint").alias(f"n_{k}")
                for k in ("null", "wrong_dim", "null_elem", "bad_norm", "valid")
            ],
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# v11: product-quantization ANN (the 100 TB memory path)
# ---------------------------------------------------------------------------
PQ_M = 8  # sub-blocks per vector (32-bit codes; M=4's 16 bits measured
# too coarse to rank this corpus's ~0.33-cosine true neighbors above the
# ~0.0 background — recall@5 plateaued at ~0.18 trained or not)
PQ_SUB = EMB_DIM // PQ_M  # dims per sub-block (8)
# k-means INIT: 16 spread vec_ids, all valid at every shipped SF — the
# k-means++-style "init from data points" step, then PQ_ITERS Lloyd
# refinements train the actual codebook (r8 verdict: raw seed vectors
# alone give unusable quantization error at 100 TB)
PQ_SEED_IDS = (3, 11, 23, 37, 53, 71, 89, 107, 127, 149, 173, 197, 223, 251, 277, 307)
PQ_SHORTLIST = 20  # ADC candidates re-ranked exactly per query (4×k —
# measured recall@5 at 10 left ~0.1 on the table vs the re-rank's cost)
PQ_ITERS = 2  # Lloyd refinement steps — FIXED so the oracle unrolls the same
# deterministic training sample: vec_id % MOD == REM (~1/4 of the corpus).
# At 100 TB the mod-filter becomes hash-mod sampling to a fixed budget
# (~1M vectors) — k-means training cost must not scale with the corpus;
# everything downstream (assignment, ADC) is unchanged by how the sample
# is drawn, only determinism matters for the oracle.
PQ_TRAIN_MOD = 4
PQ_TRAIN_REM = 1


def _subs(df, arr: str, keep=("vec_id",), out: str = "sube"):
    """(*keep, m, ``out`` array<double>): the PQ_M sub-blocks of the array
    column ``arr`` of every row — the one sub-block definition, shared by
    corpus (raw codes), residual, centroid and query sub-blocks.
    Exploded scan-side, no self-join; the float→double cast is exact, so
    every dot product downstream sees the same values either way."""
    blocks = F.expr(
        f"transform(sequence(0, {PQ_M - 1}), "
        f"m -> struct(m AS m, slice({arr}, m * {PQ_SUB} + 1, {PQ_SUB}) AS {out}))"
    )
    return df.select(*keep, F.explode(blocks).alias("s")).select(
        *keep, F.col("s.m").alias("m"), F.col(f"s.{out}").cast("array<double>").alias(out)
    )


def _l2_score() -> Column:
    """Argmin-L2 score ||c||² − 2·v·c of a sub-block ``sube`` against a
    codeword ``cwe`` (cw_ss = ||c||²; the ||v||² term is constant under
    the argmin) — the assignment of PQ training and PQ encoding alike."""
    return F.col("cw_ss") - 2.0 * dot_double(F.col("sube"), F.col("cwe"))


def _lloyd_step(samp, cw, vec: str, score: Column, desc: bool, keys=()):
    """One Lloyd refinement of the codewords ``cw`` = (*keys, cid, cwe,
    ...) over the training rows ``samp`` = (vec_id, *keys, ``vec``
    array<double>): assign every row to its best codeword under
    ``score`` — ascending, or descending when ``desc`` (an explicit sort
    direction, never a negated score: NaN and NULL sort differently
    under negation), ties to the lower cid — then recompute each
    codeword as the per-dimension mean of its members.  ``keys`` splits
    the codewords into independent codebooks: ("m",) is one per PQ
    sub-block, () the coarse centroids.

    The mean is rounded to 6 digits through a 1e6-scaled BIGINT sum
    (integer-exact in any accumulation order) and ONE double division,
    so both engines carry bitwise-identical codewords across every
    iteration boundary — the property that keeps a compounding
    iterative training loop oracle-checkable.  Codewords that attract
    no rows keep their previous value (the standard empty-cluster
    rule)."""
    b = F.broadcast(cw)
    pairs = samp.join(b, list(keys)) if keys else samp.crossJoin(b)
    scored = pairs.select("vec_id", *keys, "cid", vec, score.alias("score"))
    order = F.col("score").desc() if desc else F.col("score")
    wpick = Window.partitionBy("vec_id", *keys).orderBy(order, "cid")
    assigned = (
        scored.withColumn("rn", F.row_number().over(wpick))
        .where(F.col("rn") == 1)
        .select(*keys, "cid", vec)
    )
    mn = (
        assigned.select(*keys, "cid", F.posexplode(vec).alias("j", "v"))
        .groupBy(*keys, "cid", "j")
        .agg(
            F.sum(F.round(F.col("v") * 1e6).cast("bigint")).alias("s6"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    nc = (
        mn.select(*keys, "cid", "j", (F.round(F.col("s6") / F.col("cnt")) / 1e6).alias("v"))
        .groupBy(*keys, "cid")
        .agg(F.array_sort(F.collect_list(F.struct("j", "v"))).alias("a"))
        .select(*keys, "cid", F.expr("transform(a, x -> x.v)").alias("nxt"))
    )
    return (
        cw.select(*keys, "cid", F.col("cwe").alias("prev"))
        .join(nc, [*keys, "cid"], "left")
        .select(*keys, "cid", F.coalesce("nxt", "prev").alias("cwe"))
    )


def _lloyd_plan(
    src, vec: str, seeds: tuple, iters: int, score: Column, desc=False, keys=(), norms=False
):
    """Codewords (cid, *keys, cwe[, cw_ss]) trained over ``src`` =
    (vec_id, *keys, ``vec`` array<double>): the ``seeds`` rows are the
    init (k-means++-style init from data points), refined by ``iters``
    _lloyd_step over the deterministic training sample (vec_id %
    PQ_TRAIN_MOD == PQ_TRAIN_REM).  The one trainer of the PQ codebooks
    (_codebook_plan: per-m argmin-L2, raw or residual sub-blocks) and of
    the trained coarse centroids (_tivf_centroids_plan: full vectors,
    argmax cosine).  ``norms`` carries cw_ss = ||c||², which the L2
    score reads.  iters=0 is the untrained init (kept callable so the
    training tests have their baseline)."""

    def finish(cw):
        return cw.withColumn("cw_ss", dot_double(F.col("cwe"), F.col("cwe"))) if norms else cw

    cw = finish(
        src.where(F.col("vec_id").isin(*seeds)).select(
            F.col("vec_id").alias("cid"), *keys, F.col(vec).alias("cwe")
        )
    )
    if iters:
        samp = (
            src.where(F.col("vec_id") % PQ_TRAIN_MOD == PQ_TRAIN_REM)
            # the sample feeds every iteration's assignment — pin it so
            # the corpus scan runs once, not once per Lloyd step
            .select("vec_id", *keys, vec).localCheckpoint(eager=False)
        )
        for _ in range(iters):
            cw = finish(_lloyd_step(samp, cw, vec, score, desc, keys))
    return cw


def _codebook_plan(subs, iters: int):
    """PQ codebook (m, cid, cwe, cw_ss) from a sub-block table ``subs`` =
    (vec_id, m, sube array<double>): one argmin-L2 Lloyd codebook per
    sub-block from the PQ_SEED_IDS init.  Source-agnostic on purpose —
    v11 trains it on raw sub-blocks, the residual IVFADC index
    (_rpq_index) on (x − centroid(cell(x))) sub-blocks."""
    return _lloyd_plan(subs, "sube", PQ_SEED_IDS, iters, _l2_score(), keys=("m",), norms=True)


def _pq_codebook_plan(spark, sf_dir, iters: int):
    """v11's codebook: seed-vector RAW sub-blocks refined by ``iters``
    Lloyd steps over the deterministic training sample."""
    return _codebook_plan(_subs(_emb(spark, sf_dir).select("vec_id", "embedding"), "embedding"), iters)


def _assign_codes(subs, cw, keep=()):
    """(vec_id, *keep, m, code, cw_ss6): every sub-block's argmin-L2
    codeword — the one encoding of raw and residual sub-blocks.  A
    min-struct aggregate tie-broken by cid: map-side combinable, the
    shuffle carries (vec_id, m, struct), never the vectors.  cw_ss6 (the
    chosen codeword's ||c||² scaled to BIGINT at 6 digits) rides along so
    ADC can rebuild the reconstruction norm with an integer-exact,
    accumulation-order-free sum (the _isum4 discipline — a 4-addend
    double sum would be engine-order-dependent)."""
    scored = subs.join(F.broadcast(cw), "m").select(
        "vec_id", *keep, "m", "cid", "cw_ss", _l2_score().alias("score")
    )
    pick = F.min(F.struct(F.col("score"), F.col("cid").alias("cid"), F.col("cw_ss").alias("cw_ss")))
    return (
        scored.groupBy("vec_id", *keep, "m")
        .agg(pick.alias("p"))
        .select(
            "vec_id",
            *keep,
            "m",
            F.col("p.cid").alias("code"),
            F.round(F.col("p.cw_ss") * 1e6).cast("bigint").alias("cw_ss6"),
        )
    )


def _pq_index(spark, sf_dir, iters: int = PQ_ITERS):
    """(e, cw, codes): the PQ index, session-cached — it is ~M small ints
    per vector (plus a 6-digit-scaled reconstruction-norm term), the
    ~3% -of-corpus footprint that lets 100 TB of vectors serve from RAM.

    cw = (m, cid, cwe, cw_ss): PQ_M×16 TRAINED codewords (seed sub-blocks
    + PQ_ITERS Lloyd steps over the deterministic sample — see
    _pq_codebook_plan) — broadcast everywhere, never shuffled.  codes =
    (vec_id, m, code, cw_ss6), see _assign_codes."""
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    sfx = "" if iters == PQ_ITERS else f"_i{iters}"

    cw = _session_cached(
        spark,
        sf_dir,
        f"pq_codewords{sfx}",
        lambda: _pq_codebook_plan(spark, sf_dir, iters).localCheckpoint(eager=False),
    )
    codes = _session_cached(
        spark,
        sf_dir,
        f"pq_codes{sfx}",
        lambda: _assign_codes(_subs(e, "embedding"), cw).localCheckpoint(eager=False),
    )
    return e, cw, codes


_MSEQ_SQL = f"mseq AS (SELECT UNNEST(generate_series(0, {PQ_M - 1})) AS m)"

# SQL twin of _l2_score over a sub-block row ``s`` and a codeword row ``c``
_L2_SQL = "c.cw_ss - 2 * list_dot_product(s.sube, c.cwe)"


def _subs_sql(name: str, src: str, cols: str, arr: str, out: str = "sube") -> str:
    """CTE ``name`` = (cols, m, ``out`` DOUBLE[]): oracle twin of _subs —
    the PQ_M sub-blocks of the array ``arr`` of every row of ``src``
    (``mseq`` must be in scope)."""
    return f"""{name} AS (
      SELECT {cols}, mseq.m,
             CAST({arr}[mseq.m * {PQ_SUB} + 1 : mseq.m * {PQ_SUB} + {PQ_SUB}] AS DOUBLE[]) AS {out}
      FROM {src}, mseq)"""


def _lloyd_sql(
    src: str,
    vec: str,
    seeds: tuple,
    iters: int,
    score: str,
    desc: bool,
    width: int,
    keys=(),
    pre: str = "",
) -> str:
    """WITH fragment mirroring _lloyd_plan: ``{pre}cw_i0`` (the ``seeds``
    rows of ``src``), ``iters`` unrolled _lloyd_step CTEs, then
    ``{pre}cw`` = (cid, *keys, cwe, cw_ss).  ``score`` is the SQL
    assignment score over a training row ``s`` and a codeword ``c``,
    sorted DESC when ``desc``; ``width`` is the codeword dimension the
    mean unnests.  Every iteration boundary rounds codeword dims to 6
    digits via the integer-exact scaled-BIGINT mean, so both engines
    carry bitwise-identical codewords into the next assignment.  ``pre``
    keeps several trainings apart in one query (the PQ codebook next to
    trained cells in v21/v23, the quantizers of v20/v24)."""

    def on(a, b, cols):
        return " AND ".join(f"{a}.{k} = {b}.{k}" for k in cols) or "TRUE"

    kc = "".join(f"{k}, " for k in keys)
    parts = [
        f"""{pre}cw_i0 AS (
      SELECT vec_id AS cid, {kc}{vec} AS cwe, list_dot_product({vec}, {vec}) AS cw_ss
      FROM {src} WHERE vec_id IN {seeds})"""
    ]
    prev = f"{pre}cw_i0"
    for i in range(1, iters + 1):
        parts += [
            f"""{pre}asg_i{i} AS (
      SELECT {"".join(f"s.{k}, " for k in keys)}c.cid, s.{vec}
      FROM {src} s JOIN {prev} c ON {on("c", "s", keys)}
      WHERE s.vec_id % {PQ_TRAIN_MOD} = {PQ_TRAIN_REM}
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id{"".join(f", s.{k}" for k in keys)}
          ORDER BY {score}{" DESC" if desc else ""}, c.cid) = 1)""",
            f"""{pre}mn_i{i} AS (
      SELECT {kc}cid, j,
             CAST(SUM(CAST(ROUND({vec}[j] * 1e6) AS BIGINT)) AS BIGINT) AS s6,
             COUNT(*) AS cnt
      FROM {pre}asg_i{i}, UNNEST(generate_series(1, {width})) AS t(j)
      GROUP BY {kc}cid, j)""",
            f"""{pre}nc_i{i} AS (
      SELECT {kc}cid, LIST(ROUND(s6 / cnt) / 1e6 ORDER BY j) AS cwe
      FROM {pre}mn_i{i} GROUP BY {kc}cid)""",
            f"""{pre}cw_i{i} AS (
      SELECT {"".join(f"p.{k}, " for k in keys)}p.cid, COALESCE(n.cwe, p.cwe) AS cwe,
             list_dot_product(COALESCE(n.cwe, p.cwe), COALESCE(n.cwe, p.cwe)) AS cw_ss
      FROM {prev} p LEFT JOIN {pre}nc_i{i} n ON {on("n", "p", (*keys, "cid"))})""",
        ]
        prev = f"{pre}cw_i{i}"
    parts.append(f"{pre}cw AS (SELECT * FROM {prev})")
    return ",\n    ".join(parts)


def _codebook_sql(src: str) -> str:
    """Oracle twin of _codebook_plan over the sub-block CTE ``src``: the
    trained PQ codebook ``cw``."""
    return _lloyd_sql(src, "sube", PQ_SEED_IDS, PQ_ITERS, _L2_SQL, False, PQ_SUB, ("m",))


def _codes_sql(name: str, src: str, keep=()) -> str:
    """CTE ``name`` = (vec_id, *keep, m, code, cw_ss6): oracle twin of
    _assign_codes over the sub-block CTE ``src`` and the codebook ``cw``."""
    return f"""{name} AS (
      SELECT s.vec_id, {"".join(f"s.{k}, " for k in keep)}s.m, c.cid AS code,
             CAST(ROUND(c.cw_ss * 1e6) AS BIGINT) AS cw_ss6
      FROM {src} s JOIN cw c ON c.m = s.m
      QUALIFY ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.m ORDER BY {_L2_SQL}, c.cid) = 1)"""


def _pq_index_sql(residual: bool) -> str:
    """The PQ index CTEs ending in ``codes``: oracle twin of _pq_index, or
    with ``residual`` of _rpq_index CTE for CTE — residuals against the
    in-scope ``cells``/``cents``, residual codebook, crosstab rc6, cell
    stats ``cents6``."""
    if not residual:
        return ",\n    ".join(
            [
                _subs_sql("sub", "embeddings e", "e.vec_id", "e.embedding"),
                _codebook_sql("sub"),
                _codes_sql("codes", "sub"),
            ]
        )
    return f"""resid AS (
      SELECT e.vec_id, cl.cell,
             list_transform(generate_series(1, {EMB_DIM}),
                 j -> CAST(e.embedding[j] AS DOUBLE) - CAST(c.ce[j] AS DOUBLE)) AS rese
      FROM embeddings e
      JOIN cells cl ON cl.vec_id = e.vec_id
      JOIN cents c ON c.cid = cl.cell),
    {_subs_sql("rsub", "resid r", "r.vec_id, r.cell", "r.rese")},
    {_codebook_sql("rsub")},
    {_subs_sql("centsub", "cents c", "c.cid AS cell", "c.ce", "cente")},
    crosstab AS (
      SELECT cs.cell, cs.m, w.cid AS code,
             CAST(ROUND((w.cw_ss + 2 * list_dot_product(cs.cente, w.cwe)) * 1e6)
                  AS BIGINT) AS rc6
      FROM centsub cs JOIN cw w USING (m)),
    {_codes_sql("rcodes", "rsub", ("cell",))},
    codes AS (
      SELECT rc.vec_id, rc.cell, rc.m, rc.code, ct.rc6
      FROM rcodes rc JOIN crosstab ct
        ON ct.cell = rc.cell AND ct.m = rc.m AND ct.code = rc.code),
    cents6 AS (
      SELECT cid AS cell,
             CAST(ROUND(list_dot_product(CAST(ce AS DOUBLE[]), CAST(ce AS DOUBLE[]))
                  * 1e6) AS BIGINT) AS cent_ss6
      FROM cents)"""


def _query_side_sql(nq: int) -> str:
    """CTEs q (the query vectors vec_id < ``nq``), qsub and qparts —
    oracle twin of _pq_query_side (unit-normalized partials)."""
    return f"""q AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
          WHERE vec_id < {nq}),
    {_subs_sql("qsub", "q", "q.qid, SQRT(list_dot_product(q.qe, q.qe)) AS qnorm", "q.qe", "qsube")},
    qparts AS (
      SELECT s.qid, c.m, c.cid AS code,
             CAST(ROUND(list_dot_product(s.qsube, c.cwe) / s.qnorm * 1e6) AS BIGINT) AS qdot6
      FROM qsub s JOIN cw c ON c.m = s.m)"""


def _pq_adc_sql(
    nq: int, quant: Quantizer | None = None, nprobe: int = N_PROBE, residual: bool = False
) -> str:
    """WITH fragment ending in ``appx`` (qid, vec_id, approx): oracle twin
    of _pq_adc, CTE for CTE — the PQ index, the query side, the coarse
    pruning when ``quant`` is given, then ONE ADC aggregate (plus the
    per-(query, cell) qc6 and cent_ss6 terms for residual codes) and the
    approximate cosine."""
    ctes = [_MSEQ_SQL]
    if quant is not None:
        ctes.append(_coarse_sql(quant, nq, nprobe))
    ctes += [_pq_index_sql(residual), _query_side_sql(nq)]
    cand = qid = group = bq = br = ""
    r6 = "cw_ss6"
    if quant is not None:
        # (qid, vec_id) survivors of the coarse pruning
        ctes.append(
            """cand AS (
      SELECT p.qid, x.vec_id
      FROM probes p JOIN cells x ON x.cell = p.cell AND x.vec_id <> p.qid)"""
        )
        cand = "\n      JOIN cand cd ON cd.vec_id = c.vec_id"
        qid = "qp.qid = cd.qid AND "
    if residual:
        ctes.append(
            """centd AS (SELECT cid AS cell, CAST(ce AS DOUBLE[]) AS ced FROM cents),
    qcent AS (
      -- ced is pre-cast in its OWN CTE projection: an inline
      -- CAST(c.ce AS DOUBLE[]) inside this cross product gets pushed by
      -- DuckDB's optimizer below the validity gate and evaluated
      -- speculatively on raw rows, where a NULL-element vector makes
      -- list_dot_product raise (pinned by the edge-vector fixture)
      SELECT q.qid, d.cell,
             CAST(ROUND(list_dot_product(q.qe, d.ced)
                 / SQRT(list_dot_product(q.qe, q.qe)) * 1e6)
                  AS BIGINT) AS qc6
      FROM q, centd d)"""
        )
        cand += """
      JOIN qcent qct ON qct.qid = cd.qid AND qct.cell = c.cell
      JOIN cents6 cs ON cs.cell = c.cell"""
        group, bq, br, r6 = ", qct.qc6, cs.cent_ss6", "qct.qc6 + ", "cs.cent_ss6 + ", "rc6"
    ctes.append(
        f"""adc AS (
      SELECT qp.qid, c.vec_id,
             CAST({bq}SUM(qp.qdot6) AS DOUBLE) / 1e6 AS adc,
             CAST({br}SUM(c.{r6}) AS DOUBLE) / 1e6 AS recon_ss
      FROM codes c{cand}
      JOIN qparts qp ON {qid}qp.m = c.m AND qp.code = c.code
      GROUP BY qp.qid, c.vec_id{group}),
    appx AS (
      SELECT qid, vec_id, adc / SQRT(recon_ss) AS approx
      FROM adc WHERE vec_id <> qid)"""
    )
    return ",\n    ".join(ctes)


# PQ back half over the ``appx`` and ``q`` CTEs (oracle twin of _pq_tail
# + _pq_topk_plan's formatting): shortlist -> exact re-rank -> top-k
_PQ_TAIL_SQL = f"""shortlist AS (
      SELECT qid, vec_id, approx FROM appx
      QUALIFY ROW_NUMBER() OVER (PARTITION BY qid
          ORDER BY ROUND(approx, 6) DESC, vec_id) <= {PQ_SHORTLIST}),
    rer AS (
      SELECT sl.qid, sl.vec_id, sl.approx,
             {_COS_SQL.format(a="q.qe", b="e.embedding")} AS sim
      FROM shortlist sl
      JOIN embeddings e ON e.vec_id = sl.vec_id
      JOIN q ON q.qid = sl.qid),
    ranked AS (
      SELECT qid, vec_id, approx, sim,
             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, vec_id) AS rnk
      FROM rer)
    SELECT qid, vec_id, CAST(rnk AS INT) AS rnk,
           ROUND(approx, 4) AS approx_sim, ROUND(sim, 4) AS sim
    FROM ranked WHERE rnk <= {TOP_K} ORDER BY qid, rnk"""


def _pq_topk_sql(
    nq: int, quant: Quantizer | None = None, nprobe: int = N_PROBE, residual: bool = False
) -> str:
    """PQ ADC + shortlist-re-rank oracle SQL, the twin of _pq_topk_plan:
    full-corpus at quant=None (v11; v12 embeds it at V12_NQ), cell-pruned
    raw codes over ``quant`` (v13, v21, v26; v14/v17/v23 at V12_NQ), or
    residual codes (v16; v17/v23 at V12_NQ)."""
    return f"""
    WITH {_pq_adc_sql(nq, quant, nprobe, residual)},
    {_PQ_TAIL_SQL}
    """


@_register(
    "v11_pq_topk",
    f"Product-quantization top-{TOP_K}: each vector compressed to {PQ_M} "
    f"codes (argmin-L2 codeword per {PQ_SUB}-dim sub-block; 16 codewords "
    f"k-means-TRAINED from seed-vector init + {PQ_ITERS} Lloyd steps "
    "over a deterministic sample — integer-exact 6-digit means keep the "
    "compounding iteration oracle-checkable); queries score the WHOLE "
    "corpus from the codes alone via ADC (sum of precomputed "
    f"query·codeword partials), shortlist {PQ_SHORTLIST} by approximate "
    f"cosine, then re-rank the shortlist exactly.  The memory path v5's "
    "IVF doesn't cover: at 100 TB the float vectors don't fit hot "
    "storage — PQ serves the scan from ~6% of the bytes (codes + one "
    "broadcast codebook) and touches real vectors only for the "
    "shortlist.  ADC partials and reconstruction norms accumulate as "
    "6-digit-scaled BIGINTs, so the sums are integer-exact in any "
    "accumulation order; shortlist rank ties break on round(approx, 6) "
    "then vec_id.",
    _pq_topk_sql(N_QUERY_VECS),
    ("similarity", "ann", "pq", "pipeline"),
)
def v11(spark, sf_dir):
    return _pq_topk_plan(spark, sf_dir)


def _pq_query_side(e, cw, nq: int):
    """(q, qparts): the broadcast-small ADC query side.  qparts is one
    row per (qid, m, codeword) — |queries|×M×16 regardless of corpus
    size, the lookup table ADC sums partials from.

    Partials are computed against the UNIT query vector (each sub-dot
    divided by the full query norm before the 1e6 scaling): cosine is
    scale-invariant in q, and normalizing here makes the fixed-point
    query path scale-FREE — an arbitrary-magnitude arriving query (the
    edge corpus carries 1e30-per-element vectors that pass the validity
    gate) cannot overflow the BIGINT partials.  The index side's
    headroom is a documented precondition instead: cw_ss6 needs
    |codeword|² × 1e6 < 2^63, i.e. codeword magnitudes ≲ 1e6, which the
    training sample satisfies for any sanely-scaled embedding corpus
    (typical normalized embeddings are O(1) per element)."""
    q = e.where(F.col("vec_id") < nq)
    qsub = _subs(
        q.select(
            F.col("vec_id").alias("qid"), norm2(F.col("embedding")).alias("qnorm"), "embedding"
        ),
        "embedding",
        ("qid", "qnorm"),
        "qsube",
    )
    qparts = qsub.join(cw, "m").select(
        "qid",
        "m",
        F.col("cid").alias("code"),
        F.round(dot_double(F.col("qsube"), F.col("cwe")) / F.col("qnorm") * 1e6)
        .cast("bigint")
        .alias("qdot6"),
    )
    return q, qparts


def _pq_adc(
    spark,
    sf_dir,
    nq: int,
    quant: Quantizer | None = None,
    nprobe: int = N_PROBE,
    residual: bool = False,
    iters: int = PQ_ITERS,
):
    """(qid, vec_id, approx): the ADC scoring stage of every PQ query, for
    query vectors vec_id < ``nq``.  Full-corpus over raw codes at
    quant=None (v11, v12, the v18/v22 sweeps); pruned to the ``nprobe``
    probed cells of ``quant`` otherwise (v13, v14, v21, v26); residual
    codes (v16, v17, v23) add the per-(query, cell) q·centroid scalar
    qc6 and the cell's ‖centroid‖² term cent_ss6 to the two sums.

    The coarse-pruned candidates, the lookup table and the residual
    terms broadcast; the codes table never shuffles.  Both sums are
    BIGINTs at 1e6, integer-exact in any accumulation order, and one
    division yields the approximate cosine (the query side is already
    unit-normalized, so only the reconstruction norm divides).  The
    residual index is resolved first: it rejects a layout without
    residual codes before the coarse stage registers anything in the
    session index."""
    if residual:
        e, cw, codes, cents, cents6 = _rpq_index(spark, sf_dir, iters, quant)
    else:
        e, cw, codes = _pq_index(spark, sf_dir, iters)
    q, qparts = _pq_query_side(e, cw, nq)
    on = ["m", "code"]
    if quant is not None:
        _, cells, probes = _cells_probes(spark, sf_dir, quant, nprobe, nq)
        # (qid, vec_id) survivors of the coarse pruning — |queries| ×
        # (nprobe/ncells × corpus) rows, the candidate list a serving
        # batch materializes anyway; broadcast-small per batch
        cand = (
            cells.join(F.broadcast(probes.select("qid", "cell")), "cell")
            .where(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id")
        )
        codes = codes.join(F.broadcast(cand), "vec_id")
        on = ["qid", "m", "code"]
    grp, r6 = (["cell"], "rc6") if residual else ([], "cw_ss6")
    adc = (
        codes.join(F.broadcast(qparts), on)
        .groupBy("qid", "vec_id", *grp)
        .agg(F.sum("qdot6").alias("qd6"), F.sum(r6).alias("rr6"))
    )
    qd, rr = F.col("qd6"), F.col("rr6")
    if residual:
        # q·(cent + r̂) = q·cent + q·r̂: one residual lookup table serves
        # every probed cell plus one scalar per (query, cell)
        qcent = (
            q.select(F.col("vec_id").alias("qid"), "embedding")
            .crossJoin(F.broadcast(cents))
            .select(
                "qid",
                "cell",
                F.round(
                    dot_double(F.col("embedding"), F.col("ce")) / norm2(F.col("embedding")) * 1e6
                )
                .cast("bigint")
                .alias("qc6"),
            )
        )
        adc = adc.join(F.broadcast(qcent), ["qid", "cell"]).join(F.broadcast(cents6), "cell")
        qd, rr = F.col("qc6") + qd, F.col("cent_ss6") + rr
    return (
        adc.select(
            "qid",
            "vec_id",
            (qd.cast("double") / 1e6).alias("adc"),
            (rr.cast("double") / 1e6).alias("recon_ss"),
        )
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", (F.col("adc") / F.sqrt("recon_ss")).alias("approx"))
    )


def _pq_tail(spark, sf_dir, nq: int, appx, key: str | None = None):
    """Shortlist + exact re-rank of an approx stream (``key``, qid,
    vec_id, approx): per query the PQ_SHORTLIST best candidates by
    round(approx, 6) then vec_id, re-scored by exact cosine, top TOP_K
    kept — (``key``, qid, vec_id, approx, sim, rnk).  The one tail of
    every PQ query.  ``key`` stacks several streams (v17/v23 stack the
    two encodings) under ONE shortlist window, ONE re-rank join (the
    corpus is scanned once) and ONE rank window partitioned by (key,
    qid): row_number over the same ordering picks exactly the rows each
    per-stream tail would."""
    part = [key, "qid"] if key else ["qid"]
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    wshort = Window.partitionBy(*part).orderBy(F.round("approx", 6).desc(), "vec_id")
    shortlist = (
        appx.select(*part, "vec_id", "approx", F.row_number().over(wshort).alias("srn"))
        .where(F.col("srn") <= PQ_SHORTLIST)
        .drop("srn")
    )
    qv = e.where(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    rer = (
        shortlist.join(e, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(*part, "vec_id", "approx", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
    wrank = Window.partitionBy(*part).orderBy(F.col("sim").desc(), "vec_id")
    return rer.select(
        *part, "vec_id", "approx", "sim", F.row_number().over(wrank).alias("rnk")
    ).where(F.col("rnk") <= TOP_K)


def _pq_topk_plan(
    spark,
    sf_dir,
    nq: int = N_QUERY_VECS,
    quant: Quantizer | None = None,
    nprobe: int = N_PROBE,
    residual: bool = False,
    iters: int = PQ_ITERS,
):
    """The PQ ADC + shortlist-re-rank top-k for query vectors vec_id <
    ``nq`` (see _pq_adc for the variants): v11/v12 full-corpus; v13/v14
    raw codes over the seed cells (the corpus's MEASURED winner — see
    v13's description); v16 residual codes (Jégou §V); v21 raw codes over
    TRAINED_Q; v26 over the serving layout.  The strictly-helps test also
    runs it at iters=0.  Index artifacts (codebook, codes) are
    nq-independent — only the broadcast query side changes width."""
    top = _pq_tail(spark, sf_dir, nq, _pq_adc(spark, sf_dir, nq, quant, nprobe, residual, iters))
    return top.select(
        "qid",
        "vec_id",
        F.col("rnk").cast("int").alias("rnk"),
        F.round("approx", 4).alias("approx_sim"),
        F.round("sim", 4).alias("sim"),
    ).orderBy("qid", "rnk")


# ---------------------------------------------------------------------------
# v12: PQ recall eval (the v9 twin for the PQ memory path)
# ---------------------------------------------------------------------------
@_register(
    "v12_pq_recall",
    f"PQ calibration eval: recall@{TOP_K} of the trained-codebook ADC + "
    f"shortlist-{PQ_SHORTLIST} re-rank (v11's plan) vs the exact "
    f"brute-force top-{TOP_K}, over a {V12_NQ}-query eval set — the "
    "number that tells an operator whether the ~6%-of-bytes PQ serving "
    "path is usable before pointing it at the corpus, exactly as v9 "
    "calibrates IVF's nprobe and v6 LSH's banding.  The eval ground "
    "truth is a session-index artifact (k rows per eval query); the PQ "
    "side re-executes its real ADC + re-rank plan against the cached "
    "codes, so the measured cost is the serving path itself.",
    _recall_agg_sql(_pq_topk_sql(V12_NQ)),
    ("similarity", "ann", "pq", "eval", "calibration", "pipeline"),
)
def v12(spark, sf_dir):
    # sf0.1 floor decomposition (r9, warm session index, median-of-3 per
    # stage): the 50-query ADC aggregate alone is 0.41 s (qparts 0.11 s);
    # the remainder of the ~1.5-1.8 s total is the shared PQ tail —
    # shortlist window, exact re-rank joins, rank window — plus the
    # recall join/agg: ~6 scheduled stages on the ~0.11 s/action
    # local-mode floor.  The in-process oracle (~0.9 s, which re-trains
    # the codebook per run) has no scheduler to pay; the plan — codes
    # never shuffle, lookup table and ground truth broadcast — is the
    # 100×-scale shape.
    exact = _exact_topk_v12(spark, sf_dir).select("qid", "vec_id")
    return _recall_agg(exact, _pq_topk_plan(spark, sf_dir, V12_NQ)).orderBy("qid")


# ---------------------------------------------------------------------------
# v13: IVF-PQ (IVFADC) — coarse cells prune, RESIDUAL PQ codes score,
# exact re-rank
# ---------------------------------------------------------------------------
def _residual_subs_plan(e, cells, cents):
    """(vec_id, cell, m, sube array<double>): sub-blocks of the RESIDUAL
    r = x − centroid(cell(x)) — the quantity IVFADC proper quantizes
    (Jégou et al. 2011 §V: residuals cluster tightly around 0, so the
    same 16 codewords spend their resolution on the informative part
    instead of re-describing the coarse cell).  The subtraction is one
    scan-side zip_with in double (float→double casts are exact, so both
    engines compute bit-identical residuals); cells is the session-cached
    IVF assignment and centroids broadcast."""
    res = (
        e.join(cells, "vec_id")
        .join(F.broadcast(cents), "cell")
        .select(
            "vec_id",
            "cell",
            F.zip_with(
                F.col("embedding"),
                F.col("ce"),
                lambda x, c: x.cast("double") - c.cast("double"),
            ).alias("rese"),
        )
    )
    return _subs(res, "rese", ("vec_id", "cell"))


def _rpq_index(spark, sf_dir, iters: int = PQ_ITERS, quant: Quantizer = SEED_Q):
    """(e, cw, codes, cents, cents6): the residual-encoded IVFADC index,
    session-cached.

    cw = (m, cid, cwe, cw_ss): PQ_M×16 codewords k-means-TRAINED on the
    RESIDUAL sub-blocks (same seed init + Lloyd machinery as v11's raw
    codebook — _codebook_plan is source-agnostic).  codes = per vector
    (cell, m, code, rc6) where rc6 = round((‖cw‖² + 2·cent_m·cw)·1e6):
    because ‖cent + r̂‖² = ‖cent‖² + Σ_m (‖cw_m‖² + 2·cent_m·cw_m), the
    reconstruction norm rebuilds from cent_ss6(cell) + Σ rc6 as an
    integer-exact, accumulation-order-free BIGINT sum (the cw_ss6
    discipline of _pq_index, extended with the centroid cross term —
    the precomputed per-code term of the FAISS IVFADC formulation).
    cents6 = (cell, cent_ss6).  Memory path unchanged: the hot index is
    still M small ints + one BIGINT per vector plus a broadcast codebook
    and the 8-row cell stats.

    ``quant=TRAINED_Q`` builds the residual index against the TRAINED
    coarse cells (v19's quantizer) instead of the seed cells — the
    residuals, codebook, crosstab and cell stats all follow the centroid
    table, so v23 can re-adjudicate the encoding question on the tighter
    cells the serving default actually uses.  Residual codes exist for
    the default 8-cell pool only: the serving layout serves raw codes
    (v13/v17/v23's measured adjudication), and the ``rpq_``/``trpq_``
    keys name one pool each."""
    # raise, not assert: must survive python -O
    if quant is None or quant.seeds != IVF_SEED_IDS:
        raise ValueError("residual codes exist for the default IVF_SEED_IDS cells only")
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    _, cells, _ = _cells_probes(spark, sf_dir, quant, N_PROBE)
    cents = quant.centroids(spark, sf_dir).select(F.col("cid").alias("cell"), "ce")
    kp = "trpq_" if quant.trained else "rpq_"
    sfx = "" if iters == PQ_ITERS else f"_i{iters}"

    cw = _session_cached(
        spark,
        sf_dir,
        f"{kp}codewords{sfx}",
        lambda: _codebook_plan(
            _residual_subs_plan(e, cells, cents).select("vec_id", "m", "sube"), iters
        ).localCheckpoint(eager=False),
    )

    # (cell, m, code, rc6): ncells × M × K rows — broadcast-tiny, built
    # once per index from the centroid sub-blocks and the codebook
    crosstab = _subs(cents, "ce", ("cell",), "cente").join(cw, "m").select(
        "cell",
        "m",
        F.col("cid").alias("code"),
        F.round(
            (F.col("cw_ss") + 2.0 * dot_double(F.col("cente"), F.col("cwe"))) * 1e6
        )
        .cast("bigint")
        .alias("rc6"),
    )

    def build_codes():
        return (
            _assign_codes(_residual_subs_plan(e, cells, cents), cw, ("cell",))
            .drop("cw_ss6")
            .join(F.broadcast(crosstab), ["cell", "m", "code"])
            .localCheckpoint(eager=False)
        )

    codes = _session_cached(spark, sf_dir, f"{kp}codes{sfx}", build_codes)
    cents6 = cents.select(
        "cell",
        F.round(dot_double(F.col("ce"), F.col("ce")) * 1e6).cast("bigint").alias("cent_ss6"),
    )
    return e, cw, codes, cents, cents6


@_register(
    "v13_ivfpq_topk",
    f"IVF-PQ top-{TOP_K} (the IVFADC architecture, Jégou et al. 2011 — "
    "the composition that actually serves billion-vector indexes): the "
    f"coarse quantizer prunes the corpus to each query's {N_PROBE} "
    "probed cells (v5's index), the survivors are scored by ADC over "
    f"their {PQ_M} PQ codes (v11's codes — no vector bytes touched), "
    f"and the {PQ_SHORTLIST}-candidate shortlist is re-ranked exactly.  "
    "At 100 TB: cells bound the FRACTION of the index a query reads "
    "(nprobe/ncells), PQ bounds the BYTES per read entry (~6%), and the "
    "exact path touches only the shortlist — the two prunings compose "
    "multiplicatively, which neither v5 (full vectors in probed cells) "
    "nor v11 (codes for the whole corpus) achieves alone.  Same "
    "integer-exact ADC accumulation and tie-breaks as v11; candidate "
    "cells and the ADC lookup table broadcast, the codes table never "
    "shuffles.  Encoding choice is MEASURED, not assumed: Jégou §V's "
    "residual encoding (v16) loses to raw codes on this corpus because "
    "the coarse cells are not tight — mean cos(x, centroid) ≈ 0.19 < "
    "0.5, so ‖x − c‖ ≈ 1.27·‖x‖ and quantizing residuals ENLARGES the "
    "error (independently replicated: mean recon MSE 0.62 raw vs 0.80 "
    "residual; composed recall 67 vs 54 of 250 at sf0.01) — v17 is the "
    "side-by-side eval an operator reads to pick per-corpus, and "
    "test_session_index.py gates that the tightness stat predicts the "
    "winner.  Successor serving configuration: v21 runs this same plan "
    "on the TRAINED coarse cells (composed recall 0.27 → 0.38 at equal "
    "cost) — v13 stays on seed cells through r10 so its driver-row "
    "history remains comparable; the serving default flips to the "
    "trained layout once v19–v21 are driver-attested.",
    _pq_topk_sql(N_QUERY_VECS, SEED_Q),
    ("similarity", "ann", "ivf", "pq", "pipeline"),
)
def v13(spark, sf_dir):
    return _pq_topk_plan(spark, sf_dir, quant=SEED_Q)


# ---------------------------------------------------------------------------
# v14: IVF-PQ recall eval — the composed-pruning calibration number
# ---------------------------------------------------------------------------
@_register(
    "v14_ivfpq_recall",
    f"IVF-PQ calibration eval: recall@{TOP_K} of the COMPOSED pruning "
    f"(v13's plan — {N_PROBE}-cell coarse filter × PQ ADC shortlist) vs "
    f"the exact top-{TOP_K}, over the same {V12_NQ}-query eval set as "
    "v12.  Reading v9 (IVF-only recall), v12 (PQ-only recall) and this "
    "side by side tells an operator exactly where the composed index "
    "loses neighbors — to the coarse quantizer (true neighbor outside "
    "the probed cells), to the code quantization, or to both — which is "
    "how nprobe and codebook size are actually tuned before a 100 TB "
    "deployment.  v17 extends this eval across encodings (raw vs "
    "residual), v18 across nprobe.",
    _recall_agg_sql(_pq_topk_sql(V12_NQ, SEED_Q)),
    ("similarity", "ann", "ivf", "pq", "eval", "calibration", "pipeline"),
)
def v14(spark, sf_dir):
    exact = _exact_topk_v12(spark, sf_dir).select("qid", "vec_id")
    return _recall_agg(exact, _pq_topk_plan(spark, sf_dir, V12_NQ, SEED_Q)).orderBy("qid")


# ---------------------------------------------------------------------------
# v16: residual-encoded IVFADC top-k (Jégou et al. 2011 §V proper)
# ---------------------------------------------------------------------------
@_register(
    "v16_rivfpq_topk",
    f"Residual-encoded IVFADC top-{TOP_K}: identical coarse pruning and "
    f"ADC tail to v13, but the {PQ_M} PQ codes quantize the RESIDUAL "
    "r = x − centroid(cell(x)) instead of x — Jégou et al. 2011 §V's "
    "actual IVFADC, the encoding that wins when coarse cells are tight "
    "(residuals cluster around 0, so the 16 codewords spend their "
    "resolution on the informative part).  Cosine is linear in the "
    "reconstruction — q·(cent + r̂) = q·cent + q·r̂ — so ONE residual "
    "lookup table per query serves every probed cell plus a per-(query, "
    "cell) q·centroid scalar, and ‖cent + r̂‖² rebuilds from per-code "
    "rc6 = round((‖cw‖² + 2·cent_m·cw)·1e6) BIGINTs + the 8-row cell "
    "stat — v11's integer-exact accumulation discipline extended with "
    "the centroid cross term (the precomputed per-code term of the "
    "FAISS IVFADC formulation).  Memory path unchanged: codes + one "
    "codebook + cell stats, no vector bytes until the exact re-rank.  "
    "On THIS corpus the raw encoding (v13) measures better — cells are "
    "not tight (mean cos ≈ 0.19) — which is exactly why both encodings "
    "are first-class and v17 is the eval that picks.",
    _pq_topk_sql(N_QUERY_VECS, SEED_Q, residual=True),
    ("similarity", "ann", "ivf", "pq", "residual", "pipeline"),
)
def v16(spark, sf_dir):
    return _pq_topk_plan(spark, sf_dir, quant=SEED_Q, residual=True)


# ---------------------------------------------------------------------------
# v17: encoding eval — raw vs residual composed recall, side by side
# ---------------------------------------------------------------------------
_ENCODINGS = (("raw", False), ("residual", True))  # v17/v23's stacked arms


def _encoding_recall_sql(quant: Quantizer) -> str:
    """Oracle twin of _encoding_recall_plan: raw and residual composed
    top-k over ``quant``'s cells, stacked under ``encoding``."""
    return _stacked_recall_sql(
        "encoding",
        [(enc, _pq_topk_sql(V12_NQ, quant, residual=res)) for enc, res in _ENCODINGS],
        [_exact_sql()],
    )


@_register(
    "v17_encoding_recall",
    f"IVF-PQ ENCODING eval: recall@{TOP_K} of the composed index under "
    "raw-vector PQ codes (v13) and residual codes (v16) side by side, "
    f"same {N_PROBE}-probe coarse filter, same {V12_NQ}-query eval set — "
    "the measured dispatch between the two encodings.  Textbook IVFADC "
    "prescribes residual encoding, but its win is conditional on cell "
    "tightness: for unit vectors ‖x − c‖² = 2 − 2·cos(x, c), so "
    "residuals are only smaller than the vectors when the mean cosine "
    "to the assigned centroid exceeds 0.5.  This corpus sits at ≈ 0.19, "
    "and this eval shows raw winning — on a tightly clustered corpus "
    "the same two rows flip, and THAT is when an operator switches v13 "
    "serving to v16.  One ground-truth artifact, both encodings' real "
    "plans, one stacked output.",
    _encoding_recall_sql(SEED_Q),
    ("similarity", "ann", "ivf", "pq", "eval", "calibration", "pipeline"),
)
def v17(spark, sf_dir):
    # sf0.1 shape note (r10, warm session index): ~2.4 s Spark = TWO full
    # composed serving plans (raw ADC + residual ADC, each with shortlist
    # window + exact re-rank) + the recall join — ~12 scheduled stages on
    # the ~0.12 s/action local floor, but the in-process oracle pays MORE
    # (~4.4 s: it retrains both codebooks per run, which the session
    # index amortizes here), so the suite's slowest Spark query is also
    # one of its best ratios (0.55x).
    return _encoding_recall_plan(spark, sf_dir, SEED_Q)


def _encoding_recall_plan(spark, sf_dir, quant: Quantizer):
    """raw-vs-residual composed recall over one quantizer's cells —
    v17's eval body, quantizer-parametrized so v23 re-runs the identical
    adjudication over the trained cells.

    r16 stacked form (the r15 "not yet optimized" item 1): the two
    encodings' serving plans used to run two COMPLETE rank tails —
    2 shortlist windows, 2 exact re-rank joins against the corpus
    embedding table, 2 rank windows, 2 recall joins + aggregates — then
    union the five-row-per-query results.  Everything past the ADC
    scoring is encoding-independent except the partition key, so the
    union now happens at the ADC/approx stream (a zero-exchange
    operator) tagged with the encoding, and ONE shortlist window, ONE
    re-rank join (the corpus table is scanned once, not twice), ONE
    rank window and ONE recall aggregate run over the stacked
    (encoding, qid) key.  Per-encoding results are bit-identical by
    construction: row_number() partitioned by (encoding, qid) over the
    same ordering picks exactly the rows each per-encoding window
    picked (ties still broken by vec_id within one encoding), and the
    recall aggregate groups by (qid, encoding) over an exact side
    exploded per encoding, so every count matches the per-encoding
    aggregates row for row.  The ADC front halves (different codes and
    codebooks per encoding) stay separate — only the bounded
    (|eval queries| x candidates) streams stack."""
    appx = None
    for enc, res in _ENCODINGS:
        arm = _pq_adc(spark, sf_dir, V12_NQ, quant, residual=res).select(
            F.lit(enc).alias("encoding"), "qid", "vec_id", "approx"
        )
        appx = arm if appx is None else appx.unionByName(arm)
    got = _pq_tail(spark, sf_dir, V12_NQ, appx, "encoding")
    exact = _exact_topk_v12(spark, sf_dir).select("qid", "vec_id")
    return _recall_agg(exact, got, "encoding", [enc for enc, _ in _ENCODINGS]).orderBy(
        "qid", "encoding"
    )


# ---------------------------------------------------------------------------
# v18: IVF-PQ nprobe sweep — composed recall at nprobe 1/2/4/8, one plan
# ---------------------------------------------------------------------------
PROBE_SWEEP = (1, 2, 4, N_CELLS)


def _nprobe_sweep_sql(quant: Quantizer) -> str:
    """The fused nprobe-sweep oracle, quantizer-parametrized: v18 runs it
    over the seed cells, v22 over the trained ones — everything from the
    probe ranking down (window passes, shortlist reconstruction, recall
    stack) is identical, only the centroid source differs."""
    hits = f"""mp AS (SELECT p.qid, x.vec_id, p.rn AS mp
           FROM probes p JOIN cells x ON x.cell = p.cell),
    apx AS (
      SELECT a.qid, a.vec_id, m.mp, a.approx
      FROM appx a JOIN mp m ON m.qid = a.qid AND m.vec_id = a.vec_id),
    flags AS (
      SELECT qid, vec_id, mp,
             {", ".join(
                 f"SUM(CASE WHEN mp <= {p} THEN 1 ELSE 0 END) OVER w AS cum{p}"
                 for p in PROBE_SWEEP)}
      FROM apx
      WINDOW w AS (PARTITION BY qid ORDER BY ROUND(approx, 6) DESC, vec_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    inp AS (
      SELECT qid, vec_id,
             {", ".join(
                 f"(mp <= {p} AND cum{p} <= {PQ_SHORTLIST}) AS in{p}"
                 for p in PROBE_SWEEP)}
      FROM flags),
    sl AS (
      SELECT i.qid, i.vec_id, {", ".join(f"i.in{p}" for p in PROBE_SWEEP)},
             {_COS_SQL.format(a="q.qe", b="e.embedding")} AS sim
      FROM inp i
      JOIN embeddings e ON e.vec_id = i.vec_id
      JOIN q ON q.qid = i.qid
      WHERE {" OR ".join(f"i.in{p}" for p in PROBE_SWEEP)}),
    hits AS (
      SELECT qid, vec_id,
             {", ".join(
                 f"(in{p} AND SUM(CASE WHEN in{p} THEN 1 ELSE 0 END) OVER ws"
                 f" <= {TOP_K}) AS hit{p}"
                 for p in PROBE_SWEEP)}
      FROM sl
      WINDOW ws AS (PARTITION BY qid ORDER BY sim DESC, vec_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
    return _stacked_recall_sql(
        "nprobe",
        [(p, f"SELECT qid, vec_id FROM hits WHERE hit{p}") for p in PROBE_SWEEP],
        [_pq_adc_sql(V12_NQ), _coarse_sql(quant, V12_NQ, N_CELLS), hits, _exact_sql()],
    )


@_register(
    "v18_ivfpq_nprobe_sweep",
    f"IVF-PQ nprobe sweep: recall@{TOP_K} of the composed index (v13's "
    f"raw encoding) at nprobe {PROBE_SWEEP}, fused into ONE plan — the "
    "v9 probe-rank idiom extended through the ADC shortlist.  The "
    "ADC score is nprobe-independent, so the corpus is scored once; "
    "per (query, candidate) the probe rank mp of the candidate's cell "
    "plus ONE running-count window pass over the approx ranking "
    "reconstructs every nprobe's exact shortlist (a candidate is "
    "shortlisted at nprobe p iff mp ≤ p and fewer than "
    f"{PQ_SHORTLIST} better-approx candidates also have mp ≤ p — "
    "candidate sets are nested in p, so one ordering serves all four), "
    "and a second window pass over the exact-sim ranking of the "
    "shortlist union yields every nprobe's top-k.  Reading the sweep "
    "against v12's PQ-only line separates coarse-filter loss from "
    f"quantization loss: at nprobe {N_CELLS} (= every cell) the "
    "composed index IS full-corpus PQ, so the line converges to v12's "
    "by construction and the gap at each smaller p is pure coarse-"
    "filter loss — measured, not asserted.  At 100 TB the sweep is the "
    "capacity-planning query: recall-per-probe directly prices "
    "nprobe/ncells × index-bytes per query.",
    _nprobe_sweep_sql(SEED_Q),
    ("similarity", "ann", "ivf", "pq", "eval", "calibration", "pipeline"),
)
def v18(spark, sf_dir):
    return _nprobe_sweep_plan(spark, sf_dir, SEED_Q)


def _nprobe_sweep_plan(spark, sf_dir, quant: Quantizer):
    """The fused sweep plan, quantizer-parametrized (v18 seed / v22
    trained) — the PQ codes, windows, and recall back half are shared; only
    the cells/probes source differs."""
    from functools import reduce
    from operator import or_

    _, cells, probes = _cells_probes(spark, sf_dir, quant, N_CELLS, V12_NQ)
    mp = cells.join(F.broadcast(probes), "cell").select(
        "qid", "vec_id", F.col("rn").alias("mp")
    )
    apx = _pq_adc(spark, sf_dir, V12_NQ).join(mp, ["qid", "vec_id"]).select(
        "qid", "vec_id", "mp", "approx"
    )
    wapx = (
        Window.partitionBy("qid")
        .orderBy(F.round("approx", 6).desc(), "vec_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inp = apx.select(
        "qid",
        "vec_id",
        *[
            (
                (F.col("mp") <= p)
                & (F.sum((F.col("mp") <= p).cast("int")).over(wapx) <= PQ_SHORTLIST)
            ).alias(f"in{p}")
            for p in PROBE_SWEEP
        ],
    )
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    qv = e.where(F.col("vec_id") < V12_NQ).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    sl = (
        inp.where(reduce(or_, [F.col(f"in{p}") for p in PROBE_SWEEP]))
        .join(e, "vec_id")
        .join(F.broadcast(qv), "qid")
        .select(
            "qid",
            "vec_id",
            *[f"in{p}" for p in PROBE_SWEEP],
            cosine(F.col("qe"), F.col("embedding")).alias("sim"),
        )
    )
    wsim = (
        Window.partitionBy("qid")
        .orderBy(F.col("sim").desc(), "vec_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    hits = sl.select(
        "qid",
        "vec_id",
        *[
            (
                F.col(f"in{p}")
                & (F.sum(F.col(f"in{p}").cast("int")).over(wsim) <= TOP_K)
            ).alias(f"hit{p}")
            for p in PROBE_SWEEP
        ],
    )
    # one (nprobe, qid, vec_id) row per level whose top-k holds the
    # neighbour; the NULL slots are the levels it misses
    hit_at = F.array(*[F.when(F.col(f"hit{p}"), p) for p in PROBE_SWEEP])
    got = hits.select("qid", "vec_id", F.explode(hit_at).alias("nprobe")).where(
        F.col("nprobe").isNotNull()
    )
    exact = _exact_topk_v12(spark, sf_dir).select("qid", "vec_id")
    return _recall_agg(exact, got, "nprobe", PROBE_SWEEP).orderBy("qid", "nprobe")


# ---------------------------------------------------------------------------
# v19/v20: TRAINED coarse quantizer (spherical k-means) + its recall eval
# — the engine fix for the bottleneck v18 measured (composed recall loss
# is pure coarse-filter loss; better cells are the only lever at fixed
# nprobe, and residual codes provably were not — see v17)
# ---------------------------------------------------------------------------
TIVF_ITERS = 2  # spherical-Lloyd steps over the same deterministic sample
# as the PQ codebook (vec_id % PQ_TRAIN_MOD == PQ_TRAIN_REM) — at 100 TB
# both become hash-mod samples to a fixed budget; only determinism matters
# for the oracle

# v24's ncells axis: deterministic seed pool whose first k ids seed a
# k-cell trained quantizer — the first 8 ARE IVF_SEED_IDS, so the
# ncells=8 point IS the serving quantizer and pins to v20's trained row.
# All ids exist at every SF (vec_id < 500).
# Octaves 3 and 4 (the r12 ncells=32 extension) interleave two further
# +20/+40 offsets of the second octave — same spacing family, all ids
# < 500 (present at every SF) and pairwise distinct (asserted).
TIVF_SEED_POOL = (
    IVF_SEED_IDS
    + (17, 79, 131, 191, 241, 307, 359, 421)
    + (37, 99, 151, 211, 261, 327, 379, 441)
    + (57, 119, 171, 231, 281, 347, 399, 461)
)
# raise, not assert: this pool-integrity invariant must survive python -O
# (r12 ADVICE — bare asserts vanish under optimized bytecode)
if len(set(TIVF_SEED_POOL)) != 32 or max(TIVF_SEED_POOL) >= 500:
    raise ValueError(
        "TIVF_SEED_POOL must be 32 pairwise-distinct vec_ids < 500 "
        f"(got {len(set(TIVF_SEED_POOL))} distinct, max {max(TIVF_SEED_POOL)})"
    )
NCELLS_SWEEP = (4, 8, 16, 32)


# SQL twin of _tivf_centroids_plan's argmax-cosine score over a training
# row ``s`` and a centroid ``c`` (sorted DESC)
_COS_SCORE_SQL = "list_dot_product(s.xe, c.cwe) / SQRT(list_dot_product(c.cwe, c.cwe))"


def _tivf_centroids_plan(spark, sf_dir, iters: int, seeds: tuple = IVF_SEED_IDS):
    """Trained coarse centroids (cid, cwe DOUBLE[]): the ``seeds``
    vectors (default IVF_SEED_IDS — the serving quantizer) refined by
    ``iters`` spherical-Lloyd steps — _lloyd_plan over full vectors with
    the argmax-cosine score dot/‖c‖ (the ‖x‖ factor is constant under
    the argmax; dot and norm via the deterministic left fold so both
    engines pick identical cells).  Cosine assignment is scale-invariant
    in the centroid, so the rounded mean needs NO renormalization
    (spherical k-means' normalize step only rescales c, which argmax cos
    ignores).  iters=0 is the seed quantizer itself (kept callable so
    the strictly-improves test has its baseline)."""
    xe = _emb(spark, sf_dir).select("vec_id", F.col("embedding").cast("array<double>").alias("xe"))
    score = dot_double(F.col("xe"), F.col("cwe")) / norm2(F.col("cwe"))
    return _lloyd_plan(xe, "xe", seeds, iters, score, desc=True)


@_register(
    "v19_tivf_topk",
    f"Trained-IVF top-{TOP_K}: v5's cell-probe search with the coarse "
    f"quantizer k-means-TRAINED (seed init + {TIVF_ITERS} spherical-"
    "Lloyd steps over the deterministic sample; cosine assignment is "
    "scale-invariant in the centroid, so the update is the plain "
    "integer-exact 6-digit mean — no renormalization — and the "
    "compounding iteration stays oracle-checkable exactly like the PQ "
    "codebook).  This is the engine response to what v18 MEASURED: the "
    "composed index's recall loss at fixed nprobe is entirely coarse-"
    "filter loss, so better cells — not better codes (v17) — are the "
    "lever; training lifts mean cos-to-centroid 0.19 → 0.23 and "
    "2-probe membership recall 0.35 → 0.51 on this corpus (v20 is the "
    "side-by-side eval, test-gated strictly-improves).  Serving shape "
    "identical to v5: centroids broadcast, cells are the partition "
    "key, a query touches nprobe/ncells of the corpus.",
    _probe_topk_sql(TRAINED_Q, N_PROBE),
    ("similarity", "ann", "ivf", "trained", "pipeline"),
)
def v19(spark, sf_dir):
    return _probe_topk_plan(spark, sf_dir, TRAINED_Q, N_PROBE)


def _membership_recall_plan(spark, sf_dir, key: str, arms):
    """(qid, ``key``, n_topk, n_recovered, recall): cell-MEMBERSHIP
    recall@k (true neighbor inside the probed cells) over the V12_NQ eval
    set, one row per query per arm (value, quantizer, nprobe), stacked
    under ``key`` — v20 (seed vs trained) and v24 (ncells).  Membership
    isolates the coarse filter from everything downstream."""
    exact = _exact_topk_v12(spark, sf_dir).select("qid", "vec_id")
    got = None
    for value, quant, nprobe in arms:
        _, cells, probes = _cells_probes(spark, sf_dir, quant, nprobe, V12_NQ)
        arm = _probed(exact, cells, probes).select(F.lit(value).alias(key), "qid", "vec_id")
        got = arm if got is None else got.unionByName(arm)
    return _recall_agg(exact, got, key, [value for value, _, _ in arms]).orderBy("qid", key)


def _membership_recall_sql(key: str, arms) -> str:
    """Oracle twin of _membership_recall_plan: one tagged coarse stage
    per arm, each arm's hits = exact neighbors whose cell is probed."""
    return _stacked_recall_sql(
        key,
        [(value, _probed_sql(q.tag)) for value, q, _ in arms],
        [_exact_sql(), *[_coarse_sql(q, V12_NQ, nprobe, q.tag) for _, q, nprobe in arms]],
    )


_V20_ARMS = (("seed", SEED_Q, N_PROBE), ("trained", TRAINED_Q, N_PROBE))


@_register(
    "v20_tivf_recall",
    f"Coarse-quantizer eval: {N_PROBE}-probe cell-MEMBERSHIP recall@"
    f"{TOP_K} of the seed quantizer (v5/v13's cells) and the trained "
    f"quantizer (v19's) side by side, over the {V12_NQ}-query eval set — "
    "membership (true neighbor inside the probed cells) isolates the "
    "coarse filter from everything downstream, which is the number v18 "
    "proved binds composed recall.  Measured here: training lifts it "
    "0.35 → 0.51 at the same nprobe — i.e. the trained quantizer buys "
    "what a 2× nprobe raise would, at HALF the scan fraction, which at "
    "100 TB is the difference between reading 25% and 50% of the index "
    "per query.  Same eval discipline as v17: one ground-truth "
    "artifact, both quantizers' real cell/probe tables, one stacked "
    "output, strictly-improves test-gated.",
    _membership_recall_sql("quantizer", _V20_ARMS),
    ("similarity", "ann", "ivf", "eval", "calibration", "trained", "pipeline"),
)
def v20(spark, sf_dir):
    return _membership_recall_plan(spark, sf_dir, "quantizer", _V20_ARMS)


# ---------------------------------------------------------------------------
# v21: trained-IVF + PQ — the composition the v18→v20 measurements built
# ---------------------------------------------------------------------------
@_register(
    "v21_tivfpq_topk",
    f"Trained-IVF + PQ top-{TOP_K}: v13's composed serving plan with the "
    "coarse quantizer swapped for v19's spherical-k-means-trained cells "
    "— the composition the round's measurement chain built: v18 proved "
    "the composed recall gap is pure coarse-filter loss, v17 proved "
    "better codes can't close it on this corpus, v20 proved training "
    "lifts the coarse filter 0.35 → 0.51, and here the three compose: "
    "composed recall@5 rises 0.27 → 0.38 at the SAME nprobe, bytes-per-"
    "entry, and shortlist (numpy-replicated, strictly-improves "
    "test-gated against v13's plan on the live eval set).  At 100 TB "
    "this is the free-at-query-time win: the one-off training cost "
    "(sample-bounded, like the PQ codebook) buys what doubling nprobe "
    "— doubling every query's index read — would.  Plan shape identical "
    "to v13: all-equi-join, candidate cells and ADC lookup broadcast, "
    "codes never shuffle.",
    _pq_topk_sql(N_QUERY_VECS, TRAINED_Q),
    ("similarity", "ann", "ivf", "pq", "trained", "pipeline"),
)
def v21(spark, sf_dir):
    return _pq_topk_plan(spark, sf_dir, quant=TRAINED_Q)


@_register(
    "v22_tivf_nprobe_sweep",
    f"v18's fused nprobe sweep over the TRAINED coarse quantizer (v21's "
    f"serving layout): composed recall@{TOP_K} at nprobe {PROBE_SWEEP} "
    "in one plan — the capacity-planning table for the index the r10 "
    "evals picked.  Measured at sf0.01: trained 0.272/0.380/0.464/0.504 "
    "vs seed (v18) 0.168/0.268/0.424/0.504 — trained@1 ≈ seed@2, i.e. "
    "training halves the index bytes read for the same recall, and both "
    "curves converge to v12's PQ-only ceiling at full probe (probing "
    "every cell disables the coarse filter regardless of quantizer — "
    "the cross-quantizer invariant the sweep tests pin).  Same fused "
    "machinery as v18: one ADC pass, two running-count window passes.",
    _nprobe_sweep_sql(TRAINED_Q),
    ("similarity", "ann", "ivf", "pq", "eval", "calibration", "trained", "pipeline"),
)
def v22(spark, sf_dir):
    return _nprobe_sweep_plan(spark, sf_dir, TRAINED_Q)


# ---------------------------------------------------------------------------
# v23: encoding re-adjudication over the TRAINED cells (v17 × v19)
# ---------------------------------------------------------------------------
@_register(
    "v23_tencoding_recall",
    f"ENCODING eval over the TRAINED quantizer: v17's raw-vs-residual "
    f"composed recall@{TOP_K}, re-run with v19's spherical-k-means cells "
    "— the residual index (residuals, codebook, crosstab, cell stats) "
    "rebuilt against the trained centroids, not reused from the seed "
    "ones.  Why this exists: v17's verdict (raw wins) was CONDITIONAL "
    "on cell tightness (residual quantization wins iff mean cos-to-"
    "centroid > 0.5), and it was measured on seed cells at ≈ 0.19; "
    "training moves the stat (0.19 → 0.23 on this corpus), so the "
    "adjudication must be re-run where serving actually lives — the "
    "trained layout is the serving default.  MEASURED (mean recall@5, "
    "raw vs residual): sf0.001 0.332 vs 0.352, sf0.01 0.380 vs 0.388, "
    "sf0.1 0.224 vs 0.220 — the sign flips across SFs and the sf0.1 "
    "per-query tally is 12 raw / 13 residual / 25 ties: a statistical "
    "tie, consistent with tightness (0.20–0.23) still far below the "
    "0.5 threshold where residual's variance win becomes decisive.  "
    "Adjudication: serving stays raw-over-trained (v21) — equal recall "
    "at a simpler index (no centroid cross-terms, no per-(query,cell) "
    "scalar); a corpus whose trained cells cross 0.5 flips these rows "
    "DECISIVELY, and THAT is the signal to re-point serving at the "
    "residual index.  One ground-truth artifact, both encodings' real "
    "plans over the same trained cells, one stacked output.",
    _encoding_recall_sql(TRAINED_Q),
    ("similarity", "ann", "ivf", "pq", "residual", "eval", "calibration", "trained", "pipeline"),
)
def v23(spark, sf_dir):
    return _encoding_recall_plan(spark, sf_dir, TRAINED_Q)


# ---------------------------------------------------------------------------
# v24: ncells sweep — membership recall at a FIXED scan fraction
# ---------------------------------------------------------------------------
_V24_ARMS = tuple(
    (n, Quantizer(TIVF_SEED_POOL[:n], trained=True), max(1, n // 4)) for n in NCELLS_SWEEP
)


@_register(
    "v24_ncells_sweep",
    f"Coarse-quantizer NCELLS sweep: {TOP_K}-NN cell-membership recall "
    f"of trained quantizers at ncells {NCELLS_SWEEP} with the SCAN "
    "FRACTION held constant (nprobe = ncells/4, i.e. every point reads "
    "25% of the index) — the capacity-planning axis v18/v22 (nprobe at "
    "fixed ncells) cannot see.  At 100 TB ncells is the knob that grows "
    "with the corpus (FAISS sizes it ~sqrt(N)): more, smaller cells buy "
    "a finer filter at the same bytes read per query, IF the quantizer "
    "keeps the neighbors' cells probed — this eval measures exactly "
    "that trade on this corpus.  MEASURED (mean membership recall at "
    "25% scan): sf0.001 0.448/0.448/0.572/0.600, sf0.01 "
    "0.436/0.500/0.520/0.608 for ncells 4/8/16/32 — finer cells keep "
    "buying recall at the same bytes read through the r12-extended "
    "32-cell point; r13 ran the composed v21-shape strictly-no-worse "
    "gate at 32 and FLIPPED the serving layout to it (v25/v26).  The "
    "sweep deliberately ENDS at 32 on these eval corpora: the sqrt(N) "
    "sizing rule puts 500-2000 vectors at ~22-45 cells, and a 64-cell "
    "point would drop per-cell occupancy to ~8 vectors — below the "
    f"shortlist ({TOP_K}-NN needs the probed slice to hold candidates), "
    "so its recall row would measure quantizer starvation, not "
    "capacity; the axis RESUMED in r14 on the 20k-vector synth corpus "
    "(sqrt(N)=141 — 64 and 128 cells supportable there): membership "
    "recall keeps rising 0.584/0.656/0.728/0.796 at ncells 16/32/64/128 "
    "under the same constant 25% scan, and the composed strictly-no-"
    "worse gate passes at 64 vs 32 (0.188 vs 0.156 recall@5) — recorded "
    "in SCALE_SLOPE.json ncells_axis; the DECLARED serving layout stays "
    "32 because it serves THESE corpora, where 64 still starves.  Each "
    "point trains its own quantizer from a deterministic seed pool "
    "whose first 8 ids ARE the serving quantizer's, so the ncells=8 "
    "row pins to v20's trained row (test-gated).  Same integer-exact "
    "spherical-Lloyd training and eval discipline as v19/v20; one "
    "ground-truth artifact, one stacked output.",
    _membership_recall_sql("ncells", _V24_ARMS),
    ("similarity", "ann", "ivf", "eval", "calibration", "trained", "pipeline"),
)
def v24(spark, sf_dir):
    return _membership_recall_plan(spark, sf_dir, "ncells", _V24_ARMS)


# ---------------------------------------------------------------------------
# v25/v26: the SERVING layout as declared queries (driver-attested)
# ---------------------------------------------------------------------------
# The serving layout, declared once (serving.py names these values):
# 32 trained cells at nprobe 8 = the calibration default's 25% scan
# fraction — the r13 flip, acting on v24's r12 ncells=32 extension
# exactly as r12 acted on 16: composed v21-shape recall@5 0.408 -> 0.460
# (sf0.01) and 0.400 -> 0.404 (sf0.001), membership recall
# 0.520 -> 0.608 / 0.572 -> 0.600, all at the same 25% of the index read
# per query, strictly-no-worse test-gated in test_serving_default.
# Declared here so the layout a user actually gets is DRIVER-ATTESTED:
# serving.ann_topk/ivfpq_topk/filtered_ann_topk ARE v25/v26/v29.
V25_NPROBE = 8  # = V25_NCELLS // 4, the constant scan fraction
# The serving layout's pool is an explicit PREFIX of the sweep pool: v24's
# ncells axis may grow the pool (it did in r12, 16 -> 32 for the ncells=32
# point) without changing the declared serving layout.
V25_NCELLS = 32
V25_POOL = TIVF_SEED_POOL[:V25_NCELLS]
V25_Q = Quantizer(V25_POOL, trained=True)


@_register(
    "v25_serving_tivf_topk",
    f"The ANN serving DEFAULT as a declared query: trained-IVF top-{TOP_K} "
    f"at the SERVING layout ({len(V25_POOL)} spherical-"
    f"k-means cells off the deterministic seed pool, nprobe {V25_NPROBE} "
    "— the same 25% scan fraction as the 8-cell calibration default, so "
    "v25 vs v19 isolates pure quantizer capacity).  This is what "
    "serving.ann_topk returns (row-equality pinned in "
    "test_serving_default); v19 stays the 8-cell calibration baseline.  "
    "Measured at the r13 flip to 32 cells (v24's ncells axis acted on, "
    "again): membership recall 0.520 -> 0.608 (sf0.01) and "
    "0.572 -> 0.600 (sf0.001) at constant bytes read.  Plan shape "
    "identical to v19: centroids broadcast, cells the partition key, a "
    "query reads nprobe/ncells of the corpus.",
    _probe_topk_sql(V25_Q, V25_NPROBE),
    ("similarity", "ann", "ivf", "trained", "serving", "pipeline"),
)
def v25(spark, sf_dir):
    return _probe_topk_plan(spark, sf_dir, V25_Q, V25_NPROBE)


@_register(
    "v26_serving_ivfpq_topk",
    f"The codes-only (IVFADC) serving DEFAULT as a declared query: "
    f"trained-IVF x raw PQ codes x exact shortlist re-rank at the "
    f"{len(V25_POOL)}-cell SERVING layout (nprobe {V25_NPROBE}, constant "
    "25% scan fraction).  This is what serving.ivfpq_topk returns "
    "(row-equality pinned in test_serving_default); v21 stays the 8-cell "
    "calibration baseline.  Measured at the r13 flip to 32 cells: "
    "composed recall@5 0.408 -> 0.460 (sf0.01) and 0.400 -> 0.404 "
    "(sf0.001) at equal scan, strictly-no-worse test-gated.  Plan shape "
    "identical to v13/v21: all-equi-join, candidate cells and ADC lookup "
    "broadcast, codes never shuffle.",
    _pq_topk_sql(N_QUERY_VECS, V25_Q, V25_NPROBE),
    ("similarity", "ann", "ivf", "pq", "trained", "serving", "pipeline"),
)
def v26(spark, sf_dir):
    return _pq_topk_plan(spark, sf_dir, quant=V25_Q, nprobe=V25_NPROBE)


@_register(
    "v27_filtered_tivf_topk",
    f"FILTERED similarity search at the serving layout: top-{TOP_K} "
    "cosine neighbors restricted to candidates whose metadata matches "
    "the query's (label equality here — the 'nearest within my "
    "class/language/license bucket' query every vector store serves), "
    f"over the {len(V25_POOL)}-cell trained quantizer at nprobe "
    f"{V25_NPROBE}.  The predicate composes WITH the index instead of "
    "post-filtering the shortlist: it lands on the candidate stream "
    "before the cosine (Catalyst pushes the equality into the cell "
    "join), so selectivity multiplies with the coarse filter — a query "
    "reads nprobe/ncells of the corpus AND only the matching label "
    "slice of it, where post-filtering a k-shortlist would starve "
    "recall at selective predicates.  At 100 TB the label is a "
    "partition/cluster key under the cell layout and the same plan "
    "prunes files.  Plan shape otherwise identical to v25 (centroids "
    "broadcast, cells the partition key).",
    _probe_topk_sql(V25_Q, V25_NPROBE, label_filter=True),
    ("similarity", "ann", "ivf", "trained", "serving", "filtered", "pipeline"),
)
def v27(spark, sf_dir):
    return _probe_topk_plan(spark, sf_dir, V25_Q, V25_NPROBE, label_filter=True)


@_register(
    "v28_filtered_recall",
    f"Filtered-search eval: recall@{TOP_K} of v27 (label-predicate search "
    "through the serving layout) against the EXACT filtered "
    "brute-force top-k — the measure-then-serve twin every serving "
    "operator in this engine carries (v20 measures v19's cells, v12 "
    "measures v11's codes; this measures what the coarse filter costs "
    "WHEN a predicate already prunes the corpus: the label slice is "
    "~1/|labels| of every cell, so per-cell candidate counts shrink and "
    "the nprobe/ncells trade-off shifts — the number a vector store "
    "tunes per-predicate-selectivity).  Per query: truth size, recovered "
    "count, recall; one shared index pass (the v27 plan) joined against "
    "one brute-force pass over the label slice.",
    f"""
    SELECT qid, n_topk AS n_truth, n_recovered, recall FROM ({_stacked_recall_sql(
        None,
        [(None, _probe_topk_sql(V25_Q, V25_NPROBE, label_filter=True))],
        [_exact_sql(N_QUERY_VECS, by_label=True)],
    )}) ORDER BY qid
    """,
    ("similarity", "ann", "eval", "filtered", "calibration", "pipeline"),
)
def v28(spark, sf_dir):
    # the label-filtered truth is v28's alone: built per call, not cached
    exact = _exact_topk_plan(spark, sf_dir, N_QUERY_VECS, by_label=True).select("qid", "vec_id")
    return (
        _recall_agg(exact, v27(spark, sf_dir))
        .select("qid", F.col("n_topk").alias("n_truth"), "n_recovered", "recall")
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# v29: per-predicate probe dispatch for filtered serving (v28 acted on)
# ---------------------------------------------------------------------------
# The dispatch rule v28's measurement motivates: a filtered query's
# candidate stream is the label slice of the probed cells, ~cnt(label) x
# nprobe / ncells rows, and when that falls under the shortlist the
# re-rank starves (v28 measures the recall cost).  Target a constant
# candidate budget of FILTERED_SHORTLIST_MULT x TOP_K per query and
# solve for the probe count, clamped to [serving nprobe, ncells]:
#   nprobe(label) = clamp(ceil(MULT*TOP_K*ncells / max(cnt-1, 1)),
#                         base_nprobe, ncells)
# Selective predicates (small slices) probe MORE cells; at-or-above the
# budget the dispatch is inert and serving stays at the layout's 25%
# scan.  Monotone-safe: a deeper probe list only ever GROWS a query's
# candidate set, and exact re-rank of a superset cannot lose recall
# against the exact filtered truth — the strictly-no-worse gate in
# test_serving_default measures it anyway (the v20/v24 discipline on
# the predicate axis).
FILTERED_SHORTLIST_MULT = 4


def _label_nprobe(full, ncells: int, base_nprobe: int):
    """(label, npl): the per-label probe count under the budget rule.
    One tiny aggregate over the gated embeddings (|labels| rows,
    broadcastable), integer-exact in both engines: ceil-div spelled as
    FLOOR((t + eff - 1) / eff) on values far inside double precision."""
    target = FILTERED_SHORTLIST_MULT * TOP_K * ncells
    cnt = full.groupBy("label").agg(F.count(F.lit(1)).alias("cnt"))
    eff = F.greatest(F.col("cnt") - F.lit(1), F.lit(1))
    npl = F.least(
        F.lit(ncells),
        F.greatest(
            F.lit(base_nprobe),
            F.floor((F.lit(target) + eff - F.lit(1)) / eff).cast("int"),
        ),
    )
    return cnt.select("label", npl.cast("int").alias("npl"))


def _label_nprobe_sql(ncells: int, base_nprobe: int) -> str:
    """Oracle twin of _label_nprobe: CTEs ``lc`` (label counts) and
    ``np`` (label, npl)."""
    target = FILTERED_SHORTLIST_MULT * TOP_K * ncells
    return f"""lc AS (SELECT label, COUNT(*) AS cnt FROM embeddings GROUP BY label),
    np AS (
      SELECT label,
             LEAST({ncells}, GREATEST({base_nprobe},
               CAST(FLOOR(({target} + GREATEST(cnt - 1, 1) - 1) * 1.0
                          / GREATEST(cnt - 1, 1)) AS BIGINT))) AS npl
      FROM lc)"""


@_register(
    "v29_adaptive_filtered_topk",
    f"Filtered serving with PER-PREDICATE probe dispatch (v28's "
    "measurement acted on, the v20/v24 measure-then-flip discipline on "
    "the predicate axis): v27's label-filtered search, but each query's "
    "probe depth scales with its predicate's selectivity — "
    f"nprobe(label) = clamp(ceil({FILTERED_SHORTLIST_MULT}*{TOP_K}*"
    "ncells / (slice-1)), serving nprobe, ncells), targeting a constant "
    f"{FILTERED_SHORTLIST_MULT}x-shortlist candidate budget per query.  "
    "A selective label (slice smaller than the budget at the serving "
    "scan fraction) probes more cells instead of starving the re-rank; "
    "an unselective one keeps the layout's 25% scan, so the dispatch is "
    "inert exactly when v28 measures no recall cost.  The rule is "
    "monotone-safe (a deeper probe list only grows the exact-re-ranked "
    "candidate set) and strictly-no-worse gated against the fixed-nprobe "
    "v27 in test_serving_default.  Scale shape unchanged from v27: the "
    "selectivity table is one |labels|-row broadcast aggregate, probes/"
    "centroids broadcast, cells the partition key; at 100 TB the same "
    "per-label counts come from table statistics instead of a scan.",
    _probe_topk_sql(V25_Q, V25_NPROBE, label_depth=True),
    ("similarity", "ann", "ivf", "trained", "serving", "filtered", "dispatch", "pipeline"),
)
def v29(spark, sf_dir):
    return _probe_topk_plan(spark, sf_dir, V25_Q, V25_NPROBE, label_depth=True)


# ---------------------------------------------------------------------------
# v15: keep-one-per-cluster dedup APPLY for embeddings (p7's twin)
# ---------------------------------------------------------------------------
@_register(
    "v15_dedup_apply",
    "Embedding dedup APPLY: every vector mapped to its near-dup cluster "
    "canonical (min vec_id over the v8 cluster, itself when unclustered) "
    "with a kept flag — the materialization step between cluster "
    "generation and training, exactly as p7 applies the x3 clusters to "
    "documents (the apply step is modality-generic: kept=TRUE is the "
    "deduplicated corpus, non-canonical rows preserve the "
    "vector->canonical provenance mapping downstream signals route "
    "through).  Scale shape: the cluster labels are the only join "
    "input; the corpus scan never shuffles vectors.",
    f"""
    {_closure_cte(
        "SELECT vec_a AS doc_a, vec_b AS doc_b FROM ("
        + QUERIES["v7_lsh_banded_near_dup"].oracle
        + ")"
    )},
    cl AS ({_CLUSTER_LABELS})
    SELECT e.vec_id,
           COALESCE(cl.cluster_id, e.vec_id) AS canonical_id,
           e.vec_id = COALESCE(cl.cluster_id, e.vec_id) AS kept
    FROM embeddings e LEFT JOIN cl ON cl.doc_id = e.vec_id
    ORDER BY e.vec_id
    """,
    ("similarity", "dedup", "pipeline", "apply"),
)
def v15(spark, sf_dir):
    from .dedup import near_dup_clusters

    clusters = near_dup_clusters(_pairs_v7(spark, sf_dir)).select(
        F.col("doc_id").alias("vec_id"), "cluster_id"
    )
    e = _emb(spark, sf_dir).select("vec_id")
    canonical = F.coalesce("cluster_id", "vec_id")
    return (
        e.join(clusters, "vec_id", "left")
        .select(
            "vec_id",
            canonical.alias("canonical_id"),
            (F.col("vec_id") == canonical).alias("kept"),
        )
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# apply the oracle-side validity gate to every similarity query above
# (the engine side gates once, in _emb; v10 is exempt by design — it is
# the monitor that reports what the gate excludes)
# ---------------------------------------------------------------------------
for _name in (
    "v1_cosine_topk",
    "v2_lsh_bucket",
    "v2_lsh_bucket_16",
    "v3_embedding_near_dup",
    "v4_embedding_stats",
    "v5_ivf_topk",
    "v6_lsh_recall",
    "v7_lsh_banded_near_dup",
    "v8_embedding_clusters",
    "v9_ivf_recall",
    "v11_pq_topk",
    "v12_pq_recall",
    "v13_ivfpq_topk",
    "v14_ivfpq_recall",
    "v15_dedup_apply",
    "v16_rivfpq_topk",
    "v17_encoding_recall",
    "v18_ivfpq_nprobe_sweep",
    "v19_tivf_topk",
    "v20_tivf_recall",
    "v21_tivfpq_topk",
    "v22_tivf_nprobe_sweep",
    "v23_tencoding_recall",
    "v24_ncells_sweep",
    "v25_serving_tivf_topk",
    "v26_serving_ivfpq_topk",
    "v27_filtered_tivf_topk",
    "v28_filtered_recall",
    "v29_adaptive_filtered_topk",
):
    QUERIES[_name] = dataclasses.replace(QUERIES[_name], oracle=_gate_oracle(QUERIES[_name].oracle))
del _name
