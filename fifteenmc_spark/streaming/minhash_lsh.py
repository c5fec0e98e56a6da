"""Streaming MinHash-LSH near-duplicate registry (banded buckets + the
keyed-state pair registry of streaming/stateful.py) — the online twin of
batch x3.

The batch x3 surface (operators/dedup.py lsh_jaccard_pairs) answers
"which pairs in this corpus have shingle-set Jaccard >= t", proposing
candidates through LSH band buckets and verifying exactly.  A streaming
ingest needs the ONLINE form: as each document arrives, does it exceed
the Jaccard threshold against any document already admitted?  This module
provides exactly that with the SAME banding family (same md5→60-bit
universal-hash minhash, same (a·h+b) mod p seeds, same bkey string, same
N_MINHASH seeds in 2 bands) and the same exact-verify discipline at the
same JACCARD_THRESHOLD, so the flagged pair set over a bounded stream
EQUALS the declared x3 pair set — the stream≡batch contract pinned by
tests/test_streaming.py, completing the streaming story alongside exact
dedup (streaming/dedup.py) and SimHash near-dup (streaming/near_dup.py).
The batch answer is the declared query itself
(``x3_minhash_lsh_pairs``); this module is streaming-only.

Design, stage by stage:

- ``minhash_features``: per-document (shingle-hash set, band keys) as a
  SCAN-SIDE projection — no aggregation operator.  The batch builders
  aggregate shingle ROWS (explode + window + groupBy MIN: the right shape
  for a corpus-wide pass), but Structured Streaming cannot stack an
  aggregation under keyed state, so the online form computes the same
  values per-row with array HOFs: 3-gram shingles from the token array,
  one md5→60-bit hash per distinct shingle, per-seed affine minima.
  Interpreted HOF evaluation is the documented trade (operators/dedup.py
  shingle_rows) — irrelevant at micro-batch sizes, and the per-seed
  minima are over the doc's own shingle set only.  Signature parity with
  minhash_signatures is pinned by test (bkey strings bit-identical).
- ``flag_lsh_near_dups``: explode each doc into its (band, bkey) rows;
  the band bucket is the state key of stateful.pair_registry, whose
  payload is the doc's shingle-hash set and whose verify is the EXACT
  Jaccard (set intersection over the 60-bit shingle hashes) — LSH
  proposes, Jaccard disposes, exactly as in batch.  Matches emit
  (doc_id, matched_id, jaccard).

Scale notes:
- State per bucket stores each member's shingle-hash set — O(doc tokens)
  per member, the same memory class as the batch inverted index, times
  n_bands buckets per doc.  Idle buckets are evicted after
  stateful.STATE_TTL_MS (bounded state; a pair whose halves arrive
  more than the TTL apart is missed — the documented trade every
  streaming dedup registry makes).
- Bucket population follows the banding math (collision P = 1-(1-J^r)^b):
  at corpus scale pick longer bands (larger r) exactly as x3's docstring
  prescribes — ``minhash_features`` takes the same banding arguments as
  the batch builder, and the registry runs at x3's calibration.
- A pair colliding in several bands is flagged once per band;
  ``distinct_lsh_pairs`` canonicalizes at the consumer (a global stream
  distinct would itself need unbounded state).
- Exact-verify caveat: intersections are over the 60-bit shingle hashes,
  not shingle strings — a within-doc 60-bit collision could in principle
  shave a set; at ~2^60 that is far below any operational threshold (and
  the stream≡batch test pins exact equality on real corpora).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField

from ..operators.dedup import (
    _MH_A,
    _MH_B,
    _MH_P,
    JACCARD_THRESHOLD,
    N_MINHASH,
    _norm_text,
    _shingle_hash60,
    lsh_band_rows,
)
from .stateful import pair_registry


def _shingle_hashes(text_col) -> "F.Column":
    """array<bigint> of the doc's DISTINCT word-3-gram shingle hashes at
    FULL 60-bit width — the scan-side twin of shingle_rows +
    _shingle_hash60: same normalization, same 3-gram window (docs under 3
    tokens contribute their whole normalized text), same md5→60-bit
    value.  Width matters: these hashes stand in for shingle STRINGS in
    the exact Jaccard verify, so they stay at ~2^60 collision space; the
    mod-P reduction happens only inside the per-seed minhash maps
    (minhash_features), matching the batch family exactly.  The
    array_distinct runs AFTER hashing so a (cosmically rare) within-doc
    hash collision shrinks the set identically for the batch
    array-intersect path and the streaming Python-set path."""
    norm = _norm_text(text_col)
    toks = F.split(norm, " ")
    n = F.size(toks)
    tri = F.transform(
        F.sequence(F.lit(0), n - 3),
        lambda i: F.concat_ws(
            " ",
            F.element_at(toks, i + 1),
            F.element_at(toks, i + 2),
            F.element_at(toks, i + 3),
        ),
    )
    shingles = F.array_distinct(F.when(n >= 3, tri).otherwise(F.array(norm)))
    return F.array_distinct(F.transform(shingles, _shingle_hash60))


def minhash_features(
    docs: DataFrame, n_hashes: int = N_MINHASH, n_bands: int = 2
) -> DataFrame:
    """(doc_id, sh array<bigint>, band int, bkey string): one row per LSH
    band, carrying the doc's shingle-hash set for the exact verify.  The
    bands come from the batch builder itself (dedup.lsh_band_rows), so
    the bkey string is bit-identical to lsh_jaccard_pairs' (pinned by
    test_streaming_lsh_bkeys_match_batch_signatures) and a ragged
    n_hashes/n_bands split raises ValueError the same way."""
    sh = _shingle_hashes(F.col("text"))

    def _affine_min(j: int):
        # helper (not a default-arg lambda): a two-parameter lambda would
        # be read by pyspark as an (element, index) HOF signature.  The
        # 60-bit hash reduces mod P HERE (h % P is the batch
        # _shingle_hash value), keeping the stored verify hashes at full
        # width while the banding stays bit-identical to batch.
        return F.array_min(
            F.transform(F.col("sh"), lambda h: (_MH_A[j] * (h % _MH_P) + _MH_B[j]) % _MH_P)
        )

    # NULL-text docs drop at the scan (batch parity: shingle_rows' explode
    # emits no rows for NULL text, so those docs never reach the index)
    docs = docs.where(F.col("text").isNotNull()).select("doc_id", sh.alias("sh"))
    return lsh_band_rows(docs, _affine_min, n_hashes, n_bands, keep=("doc_id", "sh"))


def _jaccard(cur: list[int], prev: list[int]) -> float | None:
    # exact verify over the 60-bit shingle hashes (each list is distinct)
    inter = len(set(cur).intersection(prev))
    union = len(cur) + len(prev) - inter
    return inter / union if union and inter / union >= JACCARD_THRESHOLD else None


def flag_lsh_near_dups(docs: DataFrame) -> DataFrame:
    """(doc_id, matched_id, jaccard): each arriving document is verified
    against every previously admitted document sharing an LSH band bucket
    with it; matched_id is the earlier document.  A pair colliding in
    multiple bands is emitted once per band — canonicalize with
    ``distinct_lsh_pairs`` at the consumer.

    ``docs`` is a STREAMING frame: keyed state per (band, bkey) bucket,
    append mode, idle buckets evicted after stateful.STATE_TTL_MS.  Over
    a bounded stream the distinct pair set equals declared x3 (tested)."""
    return pair_registry(
        minhash_features(docs),
        ("band", "bkey"),
        StructField("sh", ArrayType(LongType())),
        StructField("jaccard", DoubleType()),
        _jaccard,
    )


def distinct_lsh_pairs(flags: DataFrame) -> DataFrame:
    """Canonical unordered pair set from flag_lsh_near_dups output
    (consumer-side canonicalization of the per-band emissions), in the
    declared x3 shape: (doc_a, doc_b, jaccard ROUND 4)."""
    return flags.select(
        F.least("doc_id", "matched_id").alias("doc_a"),
        F.greatest("doc_id", "matched_id").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    ).distinct()
