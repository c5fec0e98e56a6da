"""Streaming MinHash-LSH near-duplicate registry (banded buckets +
applyInPandasWithState) — the online twin of batch x3.

The batch x3 surface (operators/dedup.py lsh_jaccard_pairs) answers
"which pairs in this corpus have shingle-set Jaccard >= t", proposing
candidates through LSH band buckets and verifying exactly.  A streaming
ingest needs the ONLINE form: as each document arrives, does it exceed
the Jaccard threshold against any document already admitted?  This module
provides exactly that with the SAME banding family (same md5→60-bit
universal-hash minhash, same (a·h+b) mod p seeds, same bkey string) and
the same exact-verify discipline, so the flagged pair set over a bounded
stream EQUALS the batch x3 pair set — the stream≡batch contract pinned by
tests/test_streaming.py, completing the streaming story alongside exact
dedup (streaming/dedup.py) and SimHash near-dup (streaming/near_dup.py).

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
- ``flag_lsh_near_dups``: explode each doc into its n_bands (band, bkey)
  rows; the band bucket is the state key.  Each bucket's state is the
  (doc_id, shingle-hash set) list admitted so far; an arrival is verified
  EXACTLY (set intersection over the 60-bit shingle hashes) against that
  list — LSH proposes, Jaccard disposes, exactly as in batch.  Matches
  emit (doc_id, matched_id, jaccard).

Scale notes:
- State per bucket stores each member's shingle-hash set — O(doc tokens)
  per member, the same memory class as the batch inverted index, times
  n_bands buckets per doc.  Idle buckets are evicted by a
  processing-time timeout (bounded state; a pair whose halves arrive
  more than the TTL apart is missed — the documented trade every
  streaming dedup registry makes).
- Bucket population follows the banding math (collision P = 1-(1-J^r)^b):
  at corpus scale pick longer bands (larger r) exactly as x3's docstring
  prescribes — the calibration knobs are shared parameters, not forks.
- A pair colliding in several bands is flagged once per band;
  ``distinct_lsh_pairs`` canonicalizes at the consumer (a global stream
  distinct would itself need unbounded state).
- Exact-verify caveat: intersections are over the 60-bit shingle hashes,
  not shingle strings — a within-doc 60-bit collision could in principle
  shave a set; at ~2^60 that is far below any operational threshold (and
  the stream≡batch test pins exact equality on real corpora).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

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

STATE_TTL_MS = 3600 * 1000  # evict buckets idle for an hour

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("matched_id", LongType()),
        StructField("jaccard", DoubleType()),
    ]
)

# state = parallel arrays of admitted (doc_id, shingle-hash set) per bucket
STATE_SCHEMA = StructType(
    [
        StructField("doc_ids", ArrayType(LongType())),
        StructField("shingle_sets", ArrayType(ArrayType(LongType()))),
    ]
)


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


def _match_factory(threshold: float, ttl_ms: int):
    def _match(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        doc_ids, sets = state.get if state.exists else ([], [])
        doc_ids, sets = list(doc_ids), [set(s) for s in sets]
        seen = set(doc_ids)
        out_doc, out_match, out_jac = [], [], []
        # Concatenate the Arrow chunks FIRST, then sort once over the whole
        # micro-batch: a per-chunk sort only orders within each chunk, so a
        # bucket whose batch spans chunks could emit doc_id < matched_id —
        # breaking the "matched_id is the earlier document" orientation the
        # docstring promises (and which only distinct_lsh_pairs'
        # canonicalization happened to mask).
        rows: list[tuple] = []
        for pdf in pdfs:
            rows.extend(zip(pdf["doc_id"].tolist(), pdf["sh"].tolist()))
        if rows:
            # doc_id order within the batch: deterministic, and an
            # intra-batch pair is flagged exactly once (later vs earlier)
            for doc_id, sh in sorted(rows, key=lambda t: t[0]):
                if doc_id in seen:  # re-delivery: already admitted
                    continue
                # plain Python ints: the sh cells arrive as numpy arrays,
                # and numpy scalars don't survive the state pickler
                cur = {int(x) for x in sh}
                for prev_id, prev_set in zip(doc_ids, sets):
                    inter = len(cur & prev_set)
                    union = len(cur) + len(prev_set) - inter
                    if union and inter / union >= threshold:
                        out_doc.append(doc_id)
                        out_match.append(prev_id)
                        out_jac.append(inter / union)
                doc_ids.append(doc_id)
                sets.append(cur)
                seen.add(doc_id)
        state.update((doc_ids, [sorted(s) for s in sets]))
        state.setTimeoutDuration(ttl_ms)
        if out_doc:
            yield pd.DataFrame(
                {"doc_id": out_doc, "matched_id": out_match, "jaccard": out_jac}
            )

    return _match


def flag_lsh_near_dups(
    docs: DataFrame,
    threshold: float = JACCARD_THRESHOLD,
    n_hashes: int = N_MINHASH,
    n_bands: int = 2,
    ttl_ms: int = STATE_TTL_MS,
) -> DataFrame:
    """(doc_id, matched_id, jaccard): each arriving document is verified
    against every previously admitted document sharing an LSH band bucket
    with it; matched_id is the earlier document.  A pair colliding in
    multiple bands is emitted once per band — canonicalize with
    ``distinct_lsh_pairs`` at the consumer.

    Streaming input: keyed state per (band, bkey) bucket, append mode,
    idle buckets evicted after ttl_ms.  Batch input: the same banded
    candidate join + exact verify over the same features; over the same
    corpus the two paths produce the same pair set as declared x3
    (tested)."""
    feats = minhash_features(docs, n_hashes, n_bands)
    if docs.isStreaming:
        return feats.groupBy("band", "bkey").applyInPandasWithState(
            _match_factory(threshold, ttl_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    a, b = feats.alias("a"), feats.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    jac = inter.cast("double") / union
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey")))
        .where(F.col("a.doc_id") > F.col("b.doc_id"))
        .where(jac >= threshold)
        .select(
            F.col("a.doc_id").alias("doc_id"),
            F.col("b.doc_id").alias("matched_id"),
            jac.alias("jaccard"),
        )
    )


def distinct_lsh_pairs(flags: DataFrame) -> DataFrame:
    """Canonical unordered pair set from flag_lsh_near_dups output
    (batch-side canonicalization of the per-band emissions), in the
    declared x3 shape: (doc_a, doc_b, jaccard ROUND 4)."""
    return flags.select(
        F.least("doc_id", "matched_id").alias("doc_a"),
        F.greatest("doc_id", "matched_id").alias("doc_b"),
        F.round("jaccard", 4).alias("jaccard"),
    ).distinct()
