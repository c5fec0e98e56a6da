"""Streaming IVF-PQ (ADC) query serving: the online twin of batch v13's
front half — rank the probed cells' candidates from PQ CODES ONLY.

streaming/ann.py serves queries against the IVF layout with an exact
cosine verify, which reads the candidates' float vectors.  At 100 TB the
serving tier often cannot afford that read: the whole point of IVFADC
(operators/similarity.py v13) is that the hot index is codes + one
broadcast codebook (~6% of the bytes) and real vectors live cold.  This
module is that serving path online: a stream of query vectors is ranked
against a static (cell, codes, recon_ss6) table — no embedding column
anywhere on the static side — and the exact re-rank of the emitted
shortlist is a downstream enrichment against the cold store, exactly as
v13 separates its ADC shortlist from its re-rank.

Design, stage by stage:

- ``build_pq_serving_index``: the static side, derived from the session
  index artifacts — per vector its IVF cell, its PQ codes as a dense
  M-array (codeword ids remapped to 0..K-1 positions), and the
  1e6-scaled reconstruction norm (SUM of cw_ss6 — integer-exact).  This
  is the layout a serving tier materializes once per index build.
- ``adc_score_col``: scan-side Arrow kernel over the query stream.  The
  codebook rides as a closure constant (M×K×PQ_SUB — the side every
  batch PQ query broadcasts); per query it emits the probe-cell list
  AND the full ADC lookup table (M×K BIGINT partials of the
  UNIT-normalized query against every codeword — computed with the
  batch qparts' exact arithmetic: dot_double's sequential fold order,
  the same (dot/|q|)*1e6 operation order, and BigDecimal-HALF_UP
  rounding, so stream and batch sums are bitwise equal, not merely
  close).
- stream-static equi-join on ``cell``; per candidate the ADC sum is a
  fixed-M integer fold over the lookup table (tiny, per-row, no
  shuffle), approx = sum/1e6 / sqrt(recon_ss6/1e6) rounded to 6 digits
  — the batch shortlist's exact tie-break precision.
- the query gate and the per-query top-k are ann.py's: invalid query
  vectors are dropped with the batch gate's predicate
  (similarity.valid_vector) before the kernel, and the O(k)-state
  revisioned merge is ann.serve_topk, not a copy.

Stream≡batch contract (tests/test_streaming.py): over a bounded stream
the emitted top-k per query equals the batch ADC ranking of the same
probed cells from the same session-index artifacts — at the seed cells
and at the serving layout — across micro-batches and under re-delivery.
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from ..operators.similarity import PQ_M, valid_vector
from .ann import probe_cells_col, serve_topk


def build_pq_serving_index(spark, sf_dir, quant):
    """(static, codebook): the codes-only serving layout over the
    ``quant`` quantizer's cells (serving.SERVING_Q for the serving
    layout, similarity.SEED_Q for v13's cells).

    static = (vec_id, cell, codes array<int> dense 0..K-1 per sub-block,
    recon_ss6) — derived from the session-index artifacts, no embedding
    column.  codebook = {m: (sorted cids, ndarray K×PQ_SUB)} for the
    query kernel's closure."""
    from ..operators.similarity import _cells_probes, _pq_index

    _, cw, codes = _pq_index(spark, sf_dir)
    # only the cell table is read; ncells // 4 (the 25% scan fraction)
    # names the probe entry the quantizer's declared queries already use
    _, cells, _ = _cells_probes(spark, sf_dir, quant, quant.ncells // 4)

    books: dict[int, tuple[list[int], np.ndarray]] = {}
    rows = cw.select("m", "cid", "cwe").collect()
    for m in sorted({r["m"] for r in rows}):
        ms = sorted((r["cid"], r["cwe"]) for r in rows if r["m"] == m)
        books[m] = (
            [cid for cid, _ in ms],
            np.array([list(v) for _, v in ms], dtype=np.float64),
        )

    # dense code index per (m): position of the chosen cid in sorted order
    order = F.create_map(
        *[
            x
            for m, (cids, _) in books.items()
            for cid, j in zip(cids, range(len(cids)))
            for x in (F.lit(m * 10**9 + cid), F.lit(j))
        ]
    )
    dense = codes.select(
        "vec_id",
        "m",
        order[F.col("m").cast("bigint") * F.lit(10**9) + F.col("code")].alias("cidx"),
        "cw_ss6",
    )
    static = (
        dense.groupBy("vec_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("m", "cidx"))).alias("a"),
            F.sum("cw_ss6").alias("recon_ss6"),
        )
        .select("vec_id", F.expr("transform(a, x -> x.cidx)").alias("codes"), "recon_ss6")
        .join(cells, "vec_id")
    )
    return static, books


def _fold_dot(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(batch, d) · (K, d)ᵀ → (batch, K), accumulated SEQUENTIALLY over d
    in index order — the same left-fold as operators.similarity.dot_double
    (acc starts at 0.0, one float64 product added per dimension), NOT a
    BLAS matmul whose blocked summation order differs by ulps.  Those ulps
    matter: the table is rounded to 1e6 fixed-point, and a half-ulp flip
    at a .5 boundary would break the bitwise stream≡batch contract."""
    acc = np.zeros((A.shape[0], B.shape[0]), dtype=np.float64)
    for j in range(A.shape[1]):
        acc += A[:, j : j + 1] * B[None, :, j]
    return acc


def _round_half_up_1e6(vals: np.ndarray) -> np.ndarray:
    """Spark's F.round on DoubleType is java BigDecimal(double).setScale(0,
    HALF_UP): ties on the EXACT binary expansion of the double round away
    from zero.  Python's Decimal(float) is that same exact expansion, so
    quantize(1, ROUND_HALF_UP) matches bit-for-bit — np.round (half-to-even)
    and floor(x+0.5) (wrong at 0.49999999999999994 and for negative ties)
    do not.  The table is M×K per query — a few hundred scalars — so the
    per-element Decimal walk is off the hot path."""
    flat = vals.ravel()
    out = np.fromiter(
        (
            int(Decimal(float(v)).quantize(Decimal(1), rounding=ROUND_HALF_UP))
            for v in flat
        ),
        dtype=np.int64,
        count=flat.size,
    )
    return out.reshape(vals.shape)


def query_features_col(centroids, books, nprobe: int):
    """Column (cells, adctab6) for an embedding column: the probe-cell
    list (ann.probe_cells_col's exact ranking) plus the flattened M×K
    ADC lookup table of the UNIT query against every codeword, computed
    with the batch qparts' EXACT arithmetic — sequential left-fold dots
    (dot_double's order), (dot / |q|) * 1e6 in that operation order, and
    BigDecimal-HALF_UP rounding — so the stream table is bitwise equal
    to batch's round(dot_double(qsube, cwe) / qnorm * 1e6)."""
    probes = probe_cells_col(centroids, nprobe)
    K = max(len(cids) for cids, _ in books.values())
    mats = [books[m][1] for m in range(PQ_M)]  # each K×PQ_SUB

    @pandas_udf(ArrayType(LongType()))
    def _adctab(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        ss = np.zeros(len(E), dtype=np.float64)
        for j in range(E.shape[1]):  # norm2's fold order, not np.linalg.norm
            ss += E[:, j] * E[:, j]
        qn = np.sqrt(ss)[:, None]
        out = np.empty((len(E), PQ_M * K), dtype=np.int64)
        for m in range(PQ_M):
            sub = E[:, m * mats[m].shape[1] : (m + 1) * mats[m].shape[1]]
            dots = _fold_dot(sub, mats[m])  # (batch, K)
            out[:, m * K : (m + 1) * K] = _round_half_up_1e6(dots / qn * 1e6)
        return pd.Series([row.tolist() for row in out])

    def col(emb):
        return F.struct(probes(emb).alias("cells"), _adctab(emb).alias("adctab6"))

    return col, K


def topk_stream(
    queries: DataFrame, static: DataFrame, books, centroids, nprobe: int
) -> DataFrame:
    """(qid, vec_id, rnk, sim, rev): per-query top-k by ADC approximate
    cosine over the probed cells of the static codes-only index.
    ``queries`` is a STREAMING frame (qid, qe); ``static`` is
    build_pq_serving_index's layout.  ``sim`` is the approx score —
    exact re-rank of these k rows is the downstream cold-store
    enrichment, as in batch v13."""
    feat, K = query_features_col(centroids, books, nprobe)
    probed = queries.where(valid_vector(F.col("qe"))).select(
        "qid", feat(F.col("qe")).alias("f")
    ).select("qid", F.col("f.adctab6").alias("adctab6"), F.explode("f.cells").alias("cell"))
    adc_expr = " + ".join(f"adctab6[{m} * {K} + codes[{m}]]" for m in range(PQ_M))
    cand = (
        probed.join(static, "cell")  # stream-static equi-join on the cell key
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                (F.expr(adc_expr).cast("double") / 1e6)
                / F.sqrt(F.col("recon_ss6").cast("double") / 1e6),
                6,
            ).alias("sim"),
        )
    )
    return serve_topk(cand)
