"""Streaming sub-document SPAN dedup registry: the online twin of batch
x9_span_dedup (operators/dedup.py — fixed-width exact-substring dedup,
Lee et al. 2022 style), completing the stream-twin matrix for every
dedup family with a bounded-state form (x1 exact, x3 MinHash-LSH, x6
SimHash, now x9 spans).

The batch query answers "which spans appear verbatim in more than one
document of this corpus".  A 100 TB/day ingest needs the ONLINE form:
as each document arrives, which of its spans have already been seen in
a DIFFERENT document — and, retroactively, which earlier occurrences
does that newly-confirmed duplicate span have?  Over a bounded stream
the emitted (doc_id, pos, h) set EQUALS batch x9's flagged-span set —
that stream≡batch equivalence is the correctness contract
(tests/test_streaming.py).

Design, stage by stage:

- ``span_rows`` (imported from operators/dedup.py — the SAME builder as
  batch x9, so span fingerprints are bit-identical): scan-side tokenize
  -> sliding-window transform -> md5.  Pure projection+explode, so it
  composes under the downstream stateful operator.
- ``flag_dup_spans``: stateful.keyed_state keyed by span hash.  State
  per hash is a two-phase registry:
  - UNFLAGGED: every occurrence seen so far belongs to ONE doc — buffer
    the (doc_id, pos) occurrences (idempotently: re-deliveries replace
    themselves), emit nothing.
  - on the first occurrence from a SECOND doc: emit the whole buffer
    plus the arrivals (the retroactive flag of the first doc's copies),
    drop the buffer, collapse state to a flagged marker.
  - FLAGGED: every later occurrence emits immediately; state stays the
    O(1) marker.

Scale notes:
- Post-flag state is O(1) per duplicated span; pre-flag state buffers a
  span's occurrences within its FIRST document only — bounded by
  within-doc repetition, not corpus size.  The dominant cost is the
  number of distinct single-doc span hashes resident, exactly the span
  table's cardinality the batch docstring sizes (~L rows per doc), with
  the same mitigations (wider windows, stride sampling) applying to the
  stream key space one-for-one.  Idle hashes evict after
  stateful.STATE_TTL_MS, the same bounded-state discipline as every
  registry here — eviction-bounded equivalence on an unbounded stream.
- The shuffle carries (h, doc_id, pos) — never text — matching the
  batch query's shuffle discipline.
- A re-delivered occurrence after its hash was flagged re-emits the
  same row; ``distinct_flagged`` is the consumer-side canonicalization
  (kept OUT of the stream: a global distinct would itself need
  unbounded state).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.dedup import span_rows  # shared batch/stream span builder
from .stateful import keyed_state

OUTPUT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("pos", IntegerType()),
        StructField("h", StringType()),
    ]
)

# state = (flagged?, the single doc buffered so far, its span positions)
STATE_SCHEMA = StructType(
    [
        StructField("flagged", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("poss", ArrayType(IntegerType())),
    ]
)


def _flag(key, batch: pd.DataFrame, old):
    h = key[0]
    flagged, first_doc, poss = old or (0, None, [])
    buffered = {(int(first_doc), int(p)) for p in poss} if first_doc is not None else set()
    out: list[tuple[int, int]] = []
    for occ in zip(batch["doc_id"].tolist(), batch["pos"].tolist()):
        if flagged:
            out.append(occ)
        elif not buffered or occ[0] == next(iter(buffered))[0]:
            buffered.add(occ)  # still single-doc: idempotent buffer
        else:
            # second distinct doc: retroactively flag the buffer
            flagged = 1
            out.extend(sorted(buffered))
            out.append(occ)
            buffered = set()
    if flagged:
        new = (1, None, [])
    else:
        fd = next(iter(buffered))[0] if buffered else None
        new = (0, fd, sorted(p for _, p in buffered))
    return new, pd.DataFrame(
        {"doc_id": [d for d, _ in out], "pos": [p for _, p in out], "h": [h] * len(out)}
    )


def flag_dup_spans(docs: DataFrame, sample_nibbles: tuple[str, ...] | None = None) -> DataFrame:
    """(doc_id, pos, h) for every span occurrence whose hash has been
    seen in >= 2 distinct documents — including the retroactively
    flagged occurrences from the span's first document.

    ``sample_nibbles`` applies the batch x9_sampled mitigation online:
    only spans whose hash starts with one of the given hex nibbles enter
    the registry, cutting BOTH the shuffle and the keyed-state footprint
    by the sampling rate.  Content-keyed, so the stream≡batch
    equivalence holds against batch x9_sampled with the same nibbles."""
    from pyspark.sql import functions as F

    spans = span_rows(docs)
    if sample_nibbles:
        spans = spans.where(F.substring("h", 1, 1).isin(*sample_nibbles))
    return keyed_state(spans, ("h",), _flag, OUTPUT_SCHEMA, STATE_SCHEMA)


def distinct_flagged(flagged: DataFrame) -> DataFrame:
    """Consumer-side canonicalization: re-deliveries after a hash is
    flagged re-emit the same row; the distinct row set is the answer."""
    return flagged.select("doc_id", "pos", "h").distinct()
