"""Streaming near-duplicate detection (SimHash pigeonhole buckets +
applyInPandasWithState).

The batch dedup surface (operators/dedup.py x4_64/x6_64) answers "which
pairs in this corpus are near-dups".  A 100 TB/day ingest needs the
ONLINE form: as each document arrives, is it within Hamming <= k of any
document already admitted?  This module provides exactly that, with the
same 64-bit SimHash family and the same pigeonhole guarantee as x6_64
(any pair within Hamming k agrees on at least one of the k+1 bit-blocks),
so the set of flagged pairs over a bounded stream EQUALS the batch x6_64
pair set — that stream≡batch equivalence is the correctness contract
(tests/test_streaming.py).

Design, stage by stage:

- ``simhash64``: per-document 64-bit code with NO aggregation operator —
  token md5s are computed JVM-side (transform over the normalized token
  array, so text normalization and hashing are bit-identical to the batch
  builders), then one Arrow-batched pandas UDF does the per-bit majority
  vote in exact integer math.  Scan-side projection: composable under a
  downstream stateful operator, which a streaming groupBy vote (the batch
  shape) is not — Structured Streaming cannot stack a complete-mode
  aggregation under keyed state.
- ``flag_near_dups``: explode each doc into its k+1 (block, value) rows
  with the batch x6/x6_64 block builder (dedup.pigeonhole_blocks); the
  bucket (blk, bval) is the state key.  Each bucket's state is the
  list of (doc_id, code) admitted so far; an arrival is checked against
  that list with an exact Hamming verify (pigeonhole makes the bucket a
  complete candidate set, the verify removes false positives).  Matches
  emit (doc_id, matched_id, hamming).

Scale notes:
- State per bucket is O(docs that share a 16-bit block value) — the same
  bucket-population math as the batch join's candidate volume; 2^16
  buckets per block at the default calibration.  Idle buckets are evicted
  by a processing-time timeout (bounded state, same discipline as
  dedup_events' watermark), so the equivalence guarantee is
  eviction-bounded on an unbounded stream — exactly the trade every
  streaming dedup registry makes.
- A pair sharing several blocks is flagged once per shared block;
  ``distinct_pairs`` is the consumer-side canonicalization (kept OUT of
  the stream: a global distinct would itself need unbounded state).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from ..operators.dedup import pigeonhole_blocks
from ..operators.dedup import simhash64_col as simhash64  # shared batch/stream code builder

SIMHASH_BITS = 64
HAMMING_K = 3  # k+1 = 4 pigeonhole blocks of 16 bits (matches x6_64)
STATE_TTL_MS = 3600 * 1000  # evict buckets idle for an hour

_U64 = (1 << 64) - 1

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("matched_id", LongType()),
        StructField("hamming", IntegerType()),
    ]
)

# state = parallel arrays of admitted (doc_id, code) for one bucket
STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        StructField("codes", ArrayType(LongType())),
    ]
)


def _match_factory(k: int, ttl_ms: int):
    def _match(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        doc_ids, codes = state.get if state.exists else ([], [])
        doc_ids, codes = list(doc_ids), list(codes)
        seen = set(doc_ids)
        out_doc, out_match, out_ham = [], [], []
        for pdf in pdfs:
            # doc_id order within the batch: deterministic, and an
            # intra-batch pair is flagged exactly once (later vs earlier)
            for doc_id, code in sorted(
                zip(pdf["doc_id"].tolist(), pdf["code"].tolist())
            ):
                if doc_id in seen:  # re-delivery: already admitted
                    continue
                for prev_id, prev_code in zip(doc_ids, codes):
                    ham = ((code ^ prev_code) & _U64).bit_count()
                    if ham <= k:
                        out_doc.append(doc_id)
                        out_match.append(prev_id)
                        out_ham.append(ham)
                doc_ids.append(doc_id)
                codes.append(code)
                seen.add(doc_id)
        state.update((doc_ids, codes))
        state.setTimeoutDuration(ttl_ms)
        if out_doc:
            yield pd.DataFrame(
                {"doc_id": out_doc, "matched_id": out_match, "hamming": out_ham}
            )

    return _match


def flag_near_dups(
    docs: DataFrame, k: int = HAMMING_K, ttl_ms: int = STATE_TTL_MS
) -> DataFrame:
    """(doc_id, matched_id, hamming): each arriving document is checked
    against every previously admitted document within Hamming <= k of it
    (pigeonhole candidate buckets + exact verify).  matched_id is the
    earlier document.  A pair sharing multiple blocks is emitted once per
    shared block — canonicalize with ``distinct_pairs`` at the consumer.

    Streaming input: keyed state per (blk, bval) bucket, append mode,
    idle buckets evicted after ttl_ms (a pair whose halves arrive more
    than the TTL apart is missed — the documented bounded-state trade).
    Batch input: the same pigeonhole semantics as a self-join; over the
    same corpus the two paths produce the same pair set (tested)."""
    # NULL-text docs dropped at the scan (batch parity: the aggregate
    # builder drops them at the explode); filtering on the code column
    # would duplicate the UDF when Catalyst pushes the predicate through
    # the projection
    sigs = docs.where(F.col("text").isNotNull()).select(
        "doc_id", simhash64(F.col("text")).alias("code")
    )
    blocks = pigeonhole_blocks(sigs, "code", SIMHASH_BITS, k)
    if docs.isStreaming:
        return blocks.groupBy("blk", "bval").applyInPandasWithState(
            _match_factory(k, ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    a, b = blocks.alias("a"), blocks.alias("b")
    ham = F.bit_count(F.col("a.code").bitwiseXOR(F.col("b.code")))
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.bval") == F.col("b.bval")))
        .where(F.col("a.doc_id") > F.col("b.doc_id"))
        .where(ham <= k)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("matched_id"),
            ham.cast("int").alias("hamming"),
        )
    )


def distinct_pairs(flags: DataFrame) -> DataFrame:
    """Canonical unordered pair set from flag_near_dups output (batch-side
    canonicalization of the per-block emissions)."""
    return flags.select(
        F.least("doc_id", "matched_id").alias("doc_a"),
        F.greatest("doc_id", "matched_id").alias("doc_b"),
        "hamming",
    ).distinct()
