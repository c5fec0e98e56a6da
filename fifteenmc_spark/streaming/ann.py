"""Streaming ANN query serving: the online twin of the batch similarity
family (operators/similarity.py v1/v5).

The batch queries answer "what are the top-k neighbors of these query
vectors over this corpus".  A serving pipeline needs the ONLINE form: a
stream of query vectors arrives, each must get its top-k against a
STATIC, pre-built index — exactly the artifact the session index
materializes (IVF cells / gated corpus).  This module provides that, and
the stream≡batch equivalence is the correctness contract
(tests/test_streaming.py): over a bounded stream, the emitted top-k per
query EQUALS v5's output at the same nprobe, and equals exact v1 when
every cell is probed.

Design, stage by stage:

- ``probe_cells_col``: the query's nprobe nearest centroids as a pure
  SCAN-SIDE projection — the centroid matrix is tiny (n_cells × dim, the
  side v5 broadcasts) so it rides into the Arrow kernel as a closure
  constant; one BLAS matmul per batch ranks all cells with the exact
  batch tie-break (sim desc, cid asc).  No join, no window: composable
  under the downstream stateful operator, which a streaming window rank
  is not.
- stream-STATIC equi-join on ``cell``: the corpus side stays partitioned
  by cell (the IVF layout — at 100 TB the query touches nprobe/ncells of
  the corpus, never scans it); candidates get the exact cosine verify
  with the same Arrow kernel as every batch query.
- ``topk_per_query``: applyInPandasWithState keyed by qid.  State is the
  query's CURRENT top-k only — k (vec_id, sim) entries, not the
  candidate list — merged with each arriving candidate batch, so state
  stays O(k) per query no matter how many candidates a probed cell
  holds and the operator is robust to a query's candidate set being
  split across micro-batches (re-deliveries merge idempotently: a
  (vec_id, sim) pair already in the top-k replaces itself).  Idle
  queries evict on a processing-time timeout, the same bounded-state
  discipline as the dedup registries.  Each invocation emits the
  query's updated full top-k stamped with a monotonically increasing
  per-qid ``rev``; the emission with the highest rev is the current
  answer, so a downstream consumer does a keep-last-rev upsert (with
  availableNow and one delivery there is exactly one rev).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import TOP_K, cosine

STATE_TTL_MS = 3600 * 1000  # evict queries idle for an hour

OUTPUT_SCHEMA = StructType(
    [
        StructField("qid", LongType()),
        StructField("vec_id", LongType()),
        StructField("rnk", IntegerType()),
        StructField("sim", DoubleType()),
        # monotonically increasing per-qid revision: append mode re-emits
        # the query's FULL current top-k whenever a micro-batch touches
        # it, so when candidates span micro-batches a consumer sees
        # several top-k sets for one qid — the row set with the highest
        # rev is the current answer (keep-last-rev upsert downstream;
        # r8 ADVICE: without the marker the sets were unidentifiable)
        StructField("rev", LongType()),
    ]
)

# state = the query's current top-k as parallel arrays + emission revision
STATE_SCHEMA = StructType(
    [
        StructField("vec_ids", ArrayType(LongType())),
        StructField("sims", ArrayType(DoubleType())),
        StructField("rev", LongType()),
    ]
)


def probe_cells_col(centroids: list[tuple[int, list[float]]], nprobe: int):
    """Column: array of the ``nprobe`` nearest centroid ids for an
    embedding column, ranked by (cosine desc, cid asc) — the exact
    ordering of the batch probe table (similarity._cells_probes).  ``centroids``
    is the collected [(cid, vector), ...] list — the SMALL side v5
    broadcasts, here a closure constant of the Arrow kernel."""
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    mat = np.array([v for _, v in centroids], dtype=np.float64)
    unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    n = min(nprobe, len(cids))

    @pandas_udf(ArrayType(LongType()))
    def _probes(emb: pd.Series) -> pd.Series:
        if len(emb) == 0:
            return pd.Series([], dtype="object")
        E = np.vstack(emb.to_numpy()).astype(np.float64)
        E = E / np.linalg.norm(E, axis=1, keepdims=True)
        sims = E @ unit.T  # (batch, n_cells)
        out = []
        for row in sims:
            order = np.lexsort((cids, -row))  # primary: sim desc; tie: cid asc
            out.append([int(cids[j]) for j in order[:n]])
        return pd.Series(out)

    return _probes


def _merge_factory(k: int, ttl_ms: int):
    def _merge(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        vec_ids, sims, rev = state.get if state.exists else ([], [], 0)
        best = dict(zip((int(v) for v in vec_ids), (float(s) for s in sims)))
        for pdf in pdfs:
            for vec_id, sim in zip(pdf["vec_id"].tolist(), pdf["sim"].tolist()):
                best[int(vec_id)] = float(sim)  # re-delivery replaces itself
        # keep the k best by (sim desc, vec_id asc) — the batch rank order
        top = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:k]
        rev = int(rev) + 1
        state.update(([v for v, _ in top], [s for _, s in top], rev))
        state.setTimeoutDuration(ttl_ms)
        yield pd.DataFrame(
            {
                "qid": [key[0]] * len(top),
                "vec_id": [v for v, _ in top],
                "rnk": list(range(1, len(top) + 1)),
                "sim": [round(s, 4) for _, s in top],
                "rev": [rev] * len(top),
            }
        )

    return _merge


def topk_stream(
    queries: DataFrame,
    corpus: DataFrame,
    cells: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    k: int = TOP_K,
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """(qid, vec_id, rnk, sim): per-query top-k over the probed cells of a
    static IVF index.  ``queries`` is a STREAMING frame (qid, qe);
    ``corpus`` (vec_id, embedding) and ``cells`` (vec_id, cell) are the
    static index tables (at toy scale the session-index artifacts; at
    100 TB the lake tables, cell-partitioned).  ``nprobe = len(centroids)``
    probes every cell — the exact (v1) calibration."""
    probed = queries.select(
        "qid", "qe", F.explode(probe_cells_col(centroids, nprobe)(F.col("qe"))).alias("cell")
    )
    indexed = cells.join(corpus, "vec_id")  # static side: (vec_id, cell, embedding)
    cand = (
        probed.join(indexed, "cell")  # stream-static equi-join on the cell key
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
    return cand.groupBy("qid").applyInPandasWithState(
        _merge_factory(k, ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def adaptive_filtered_topk_stream(
    queries: DataFrame,
    corpus: DataFrame,
    cells: DataFrame,
    centroids: list[tuple[int, list[float]]],
    label_nprobe: DataFrame,
    k: int = TOP_K,
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """v29's ONLINE form — filtered serving with the per-predicate probe
    dispatch: each arriving (qid, qe, qlabel) probes ``npl(qlabel)``
    cells instead of a fixed nprobe, so a selective label (a small slice
    of the corpus) probes deeper instead of starving the re-rank, and an
    unselective one keeps the serving scan fraction.  ``label_nprobe``
    is the STATIC (label, npl) selectivity table — the |labels|-row
    broadcast aggregate v29 computes (_label_nprobe); passing it in
    keeps this tier quantizer- and layout-agnostic like the rest of the
    module (at 100 TB it comes from table statistics, refreshed with the
    index, never from the stream).  Plan shape: the probe kernel ranks
    ALL cells once (the same one-matmul scan-side projection), posexplode
    carries the rank, and the per-label depth is a WHERE on that rank
    after the broadcast stream-static join — the streaming form of v29's
    ``rn <= npl`` gate.  Everything downstream (label predicate composed
    into the candidate join before the cosine, O(k)-state merge, TTL)
    is shared with filtered_topk_stream.  Stream≡batch is pinned to the
    declared v29 in test_streaming."""
    probed = (
        queries.join(F.broadcast(label_nprobe), queries["qlabel"] == label_nprobe["label"])
        .drop(label_nprobe["label"])
        .select(
            "qid",
            "qe",
            "qlabel",
            "npl",
            F.posexplode(probe_cells_col(centroids, len(centroids))(F.col("qe"))).alias(
                "pos", "cell"
            ),
        )
        .where(F.col("pos") < F.col("npl"))
        .drop("pos", "npl")
    )
    indexed = cells.join(corpus, "vec_id")  # static side: (vec_id, cell, embedding, label)
    cand = (
        probed.join(indexed, "cell")
        .where((F.col("vec_id") != F.col("qid")) & (F.col("label") == F.col("qlabel")))
        .select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
    return cand.groupBy("qid").applyInPandasWithState(
        _merge_factory(k, ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def filtered_topk_stream(
    queries: DataFrame,
    corpus: DataFrame,
    cells: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    k: int = TOP_K,
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """v27's ONLINE form — filtered serving for a query stream: each
    arriving (qid, qe, qlabel) gets its top-k over the probed cells of
    the static index RESTRICTED to candidates whose metadata matches the
    query's (label equality, the 'nearest within my class/language/
    license bucket' query).  The predicate composes INTO the stream-
    static candidate join before the cosine — exactly v27's plan shape,
    so selectivity multiplies with the coarse filter instead of
    post-filtering a shortlist (which starves recall at selective
    predicates).  ``corpus`` is (vec_id, embedding, label); everything
    else matches topk_stream — the same O(k)-state merge serves both, so
    the filtered tier inherits the retroactive-merge and TTL semantics.
    Stream≡batch is pinned to the declared v27 in test_streaming."""
    probed = queries.select(
        "qid",
        "qe",
        "qlabel",
        F.explode(probe_cells_col(centroids, nprobe)(F.col("qe"))).alias("cell"),
    )
    indexed = cells.join(corpus, "vec_id")  # static side: (vec_id, cell, embedding, label)
    cand = (
        probed.join(indexed, "cell")  # stream-static equi-join on the cell key
        .where((F.col("vec_id") != F.col("qid")) & (F.col("label") == F.col("qlabel")))
        .select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
    return cand.groupBy("qid").applyInPandasWithState(
        _merge_factory(k, ttl_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
