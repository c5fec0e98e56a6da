"""Streaming near-duplicate detection (SimHash pigeonhole buckets + the
keyed-state pair registry of streaming/stateful.py).

The batch dedup surface (operators/dedup.py x4_64/x6_64) answers "which
pairs in this corpus are near-dups".  A 100 TB/day ingest needs the
ONLINE form: as each document arrives, is it within Hamming <= k of any
document already admitted?  This module provides exactly that, with the
same 64-bit SimHash family, the same k (``HAMMING_K`` IS
dedup.X6_64_HAMMING_K) and the same pigeonhole guarantee as x6_64 (any
pair within Hamming k agrees on at least one of the k+1 bit-blocks), so
the set of flagged pairs over a bounded stream EQUALS the declared x6_64
pair set — that stream≡batch equivalence is the correctness contract
(tests/test_streaming.py).  The batch answer is the declared query
itself (``x6_simhash_hamming_64``); this module is streaming-only.

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
  bucket (blk, bval) is the state key of stateful.pair_registry, whose
  payload is the code and whose verify is the exact Hamming distance
  (pigeonhole makes the bucket a complete candidate set, the verify
  removes false positives).  Matches emit (doc_id, matched_id, hamming).

Scale notes:
- State per bucket is O(docs that share a 16-bit block value) — the same
  bucket-population math as the batch join's candidate volume; 2^16
  buckets per block at the default calibration.  Idle buckets are evicted
  after stateful.STATE_TTL_MS (bounded state, same discipline as
  dedup_events' watermark), so the equivalence guarantee is
  eviction-bounded on an unbounded stream — exactly the trade every
  streaming dedup registry makes.
- A pair sharing several blocks is flagged once per shared block;
  ``distinct_pairs`` is the consumer-side canonicalization (kept OUT of
  the stream: a global distinct would itself need unbounded state).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField

from ..operators.dedup import SIMHASH_WIDE_BITS as SIMHASH_BITS
from ..operators.dedup import X6_64_HAMMING_K as HAMMING_K
from ..operators.dedup import _U64, pigeonhole_blocks
from ..operators.dedup import simhash64_col as simhash64  # shared batch/stream code builder
from .stateful import pair_registry


def _hamming(code: int, prev: int) -> int | None:
    ham = ((code ^ prev) & _U64).bit_count()
    return ham if ham <= HAMMING_K else None


def flag_near_dups(docs: DataFrame) -> DataFrame:
    """(doc_id, matched_id, hamming): each arriving document is checked
    against every previously admitted document within Hamming <=
    HAMMING_K of it (pigeonhole candidate buckets + exact verify).
    matched_id is the earlier document.  A pair sharing multiple blocks
    is emitted once per shared block — canonicalize with
    ``distinct_pairs`` at the consumer.

    ``docs`` is a STREAMING frame: keyed state per (blk, bval) bucket,
    append mode, idle buckets evicted after stateful.STATE_TTL_MS (a
    pair whose halves arrive more than the TTL apart is missed — the
    documented bounded-state trade)."""
    # NULL-text docs dropped at the scan (batch parity: the aggregate
    # builder drops them at the explode); filtering on the code column
    # would duplicate the UDF when Catalyst pushes the predicate through
    # the projection
    sigs = docs.where(F.col("text").isNotNull()).select(
        "doc_id", simhash64(F.col("text")).alias("code")
    )
    return pair_registry(
        pigeonhole_blocks(sigs, "code", SIMHASH_BITS, HAMMING_K),
        ("blk", "bval"),
        StructField("code", LongType()),
        StructField("hamming", IntegerType()),
        _hamming,
    )


def distinct_pairs(flags: DataFrame) -> DataFrame:
    """Canonical unordered pair set from flag_near_dups output
    (consumer-side canonicalization of the per-block emissions)."""
    return flags.select(
        F.least("doc_id", "matched_id").alias("doc_a"),
        F.greatest("doc_id", "matched_id").alias("doc_b"),
        "hamming",
    ).distinct()
