"""Streaming ANN query serving: the online twin of the batch cell-probe
top-k (operators/similarity.py _probe_topk_plan — v1/v5/v25/v27/v29).

The batch queries answer "what are the top-k neighbors of these query
vectors over this corpus".  A serving pipeline needs the ONLINE form: a
stream of query vectors arrives, each must get its top-k against a
STATIC, pre-built index — exactly the artifact the session index
materializes (IVF cells / gated corpus).  ``topk_stream`` provides that
for every batch plan shape, and the stream≡batch equivalence is the
correctness contract (tests/test_streaming.py): over a bounded stream,
the emitted top-k per query EQUALS the batch plan's output at the same
layout — v5 at the seed cells, exact v1 when every cell is probed, v25
at the serving layout, v27 with ``label_filter`` and v29 with
``label_depth``.

Design, stage by stage:

- the query gate: a query vector the batch side would never answer
  (NULL, wrong dimension, NULL element, zero norm) is dropped with the
  batch corpus gate's own predicate (similarity.valid_vector) before
  any kernel sees it — an invalid query is not answered, and it cannot
  fail the stream for the valid ones.
- ``probe_cells_col``: the query's nprobe nearest centroids as a pure
  SCAN-SIDE projection — the centroid matrix is tiny (n_cells × dim, the
  side v5 broadcasts) so it rides into the Arrow kernel as a closure
  constant; one BLAS matmul per batch ranks all cells with the exact
  batch tie-break (sim desc, cid asc).  No join, no window: composable
  under the downstream stateful operator, which a streaming window rank
  is not.  With ``label_depth`` the kernel ranks every cell once and
  each query keeps the first npl(its label) of them — the streaming
  form of v29's ``rn <= npl`` gate, npl from v29's own _label_nprobe.
- stream-STATIC equi-join on ``cell``: the corpus side stays partitioned
  by cell (the IVF layout — at 100 TB the query touches nprobe/ncells of
  the corpus, never scans it); a label predicate composes into this
  join before the cosine, and candidates get the exact cosine verify
  with the same Arrow kernel as every batch query.
- ``serve_topk``: stateful.keyed_state keyed by qid, shared with
  streaming/pq_ann.py.  State is the query's CURRENT top-k only —
  TOP_K (vec_id, sim) entries, not the candidate list — merged with
  each arriving candidate batch, so state stays O(k) per query no
  matter how many candidates a probed cell holds and the operator is
  robust to a query's candidate set being split across micro-batches
  (re-deliveries merge idempotently: a (vec_id, sim) pair already in
  the top-k replaces itself).  Idle queries evict after
  stateful.STATE_TTL_MS, the same bounded-state discipline as the dedup
  registries.
  Each invocation emits the query's updated full top-k stamped with a
  monotonically increasing per-qid ``rev``; the emission with the
  highest rev is the current answer, so a downstream consumer does a
  keep-last-rev upsert (with availableNow and one delivery there is
  exactly one rev).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..operators.similarity import TOP_K, _label_nprobe, cosine, valid_vector
from .stateful import keyed_state

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


def _merge(key, batch: pd.DataFrame, old):
    vec_ids, sims, rev = old or ([], [], 0)
    best = dict(zip((int(v) for v in vec_ids), (float(s) for s in sims)))
    # re-delivery replaces itself
    best.update(zip(batch["vec_id"].tolist(), batch["sim"].tolist()))
    # keep the TOP_K best by (sim desc, vec_id asc) — the batch rank order
    top = sorted(best.items(), key=lambda t: (-t[1], t[0]))[:TOP_K]
    rev = int(rev) + 1
    out = pd.DataFrame(
        {
            "qid": [key[0]] * len(top),
            "vec_id": [v for v, _ in top],
            "rnk": list(range(1, len(top) + 1)),
            "sim": [round(s, 4) for _, s in top],
            "rev": [rev] * len(top),
        }
    )
    return ([v for v, _ in top], [s for _, s in top], rev), out


def serve_topk(cand: DataFrame) -> DataFrame:
    """(qid, vec_id, rnk, sim, rev): the O(k)-state revisioned per-query
    top-k over a streaming (qid, vec_id, sim) candidate frame."""
    return keyed_state(cand, ("qid",), _merge, OUTPUT_SCHEMA, STATE_SCHEMA)


def topk_stream(
    queries: DataFrame,
    corpus: DataFrame,
    cells: DataFrame,
    centroids: list[tuple[int, list[float]]],
    nprobe: int,
    label_filter: bool = False,
    label_depth: bool = False,
) -> DataFrame:
    """(qid, vec_id, rnk, sim, rev): per-query top-k over the probed cells
    of a static IVF index.  ``queries`` is a STREAMING frame (qid, qe,
    plus qlabel when filtered); ``corpus`` (vec_id, embedding, plus
    label when filtered) and ``cells`` (vec_id, cell) are the static
    index tables (at toy scale the session-index artifacts; at 100 TB
    the lake tables, cell-partitioned).  ``nprobe = len(centroids)``
    probes every cell — the exact (v1) calibration.  ``label_filter``
    and ``label_depth`` decide as in the batch _probe_topk_plan: the
    former keeps only candidates sharing the query's label (v27), the
    latter implies it and probes npl(label) >= ``nprobe`` cells per
    query (v29)."""
    by_label = label_filter or label_depth
    depth = len(centroids) if label_depth else nprobe
    probed = queries.where(valid_vector(F.col("qe"))).select(
        "*", F.posexplode(probe_cells_col(centroids, depth)(F.col("qe"))).alias("pos", "cell")
    )
    if label_depth:
        npl = _label_nprobe(corpus, len(centroids), nprobe)
        probed = (
            probed.join(F.broadcast(npl), F.col("qlabel") == F.col("label"))
            .where(F.col("pos") < F.col("npl"))
            .drop("label", "npl")
        )
    indexed = cells.join(corpus, "vec_id")  # static side: (vec_id, cell, embedding[, label])
    cand = probed.drop("pos").join(indexed, "cell").where(F.col("vec_id") != F.col("qid"))
    if by_label:
        cand = cand.where(F.col("label") == F.col("qlabel"))
    return serve_topk(
        cand.select("qid", "vec_id", cosine(F.col("qe"), F.col("embedding")).alias("sim"))
    )
