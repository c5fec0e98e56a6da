"""Keyed state for every stateful stream: Spark's grouped pandas apply
with state (SURVEY.md §2.9 / build spec: custom stateful operators).

``keyed_state`` is THE one place in this package that calls Spark's
keyed-state operator (``groupBy(keys)`` + the pandas apply with state);
every stateful operator (the dedup registries below, span_dedup's span registry, ann's
top-k merge, ``running_user_totals``) is a step function handed to it.
The wrapper owns what they share:

- each step sees its key's WHOLE micro-batch as one frame (the Arrow
  chunks are concatenated first), so an order a step imposes holds
  across chunk boundaries;
- the timeout branch: an expired key's state is removed and NOTHING is
  emitted.  This is the one place that rule lives, and
  windows.await_drained relies on it to stop an availableNow query after
  its input drains without changing the emitted result (pinned by
  test_stateful_timeout_branches_emit_nothing);
- the state write and the processing-time timeout (``STATE_TTL_MS``), so
  idle keys are evicted and state stays bounded — the streaming analogue
  of the watermark discipline in windows.py.

``pair_registry`` is the admit-and-verify state machine of the near-dup
registries (near_dup, minhash_lsh): per bucket key, admit each doc_id
once and verify every arrival against every admitted member.

``running_user_totals`` keeps one small state row per user (count + sum)
across micro-batches and emits the updated totals each trigger — the
shape of any incremental per-key accumulator (feature stores, rate
counters) that the built-in window aggregations cannot express.

Scale notes: state lives in the state store keyed by the group key
(RocksDB on a real cluster); each trigger touches only keys present in
the batch.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_TTL_MS = 3600 * 1000  # evict keys idle for an hour


def _keyed(step: Callable):
    """The per-key state function Spark calls, around ``step``."""

    def _apply(key, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:  # eviction only: emit nothing
            state.remove()
            return
        batch = pd.concat(list(pdfs), ignore_index=True)
        new_state, out = step(key, batch, state.get if state.exists else None)
        state.update(new_state)
        state.setTimeoutDuration(STATE_TTL_MS)
        if len(out):
            yield out

    return _apply


def keyed_state(
    df: DataFrame,
    keys: tuple[str, ...],
    step: Callable,
    output_schema: StructType,
    state_schema: StructType,
    output_mode: str = "append",
) -> DataFrame:
    """``step`` applied per key of a STREAMING frame, with keyed state,
    the STATE_TTL_MS processing-time timeout and ``output_mode``
    (append for final emissions, update for running values).
    ``step(key, batch, old)`` gets the key's whole micro-batch and its
    state tuple (None for a new key) and returns (new state tuple, rows
    to emit)."""
    return df.groupBy(*keys).applyInPandasWithState(
        _keyed(step),
        outputStructType=output_schema,
        stateStructType=state_schema,
        outputMode=output_mode,
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


def pair_registry(
    rows: DataFrame,
    keys: tuple[str, ...],
    payload: StructField,
    score: StructField,
    verify: Callable,
) -> DataFrame:
    """(doc_id, matched_id, <score>): the online near-dup registry.
    ``rows`` carries (doc_id, <payload>) under each bucket key; the
    bucket's state is the (doc_ids, payloads) admitted so far.  A key's
    micro-batch is admitted in doc_id order, a doc_id already admitted
    (a re-delivery) is skipped, and each arrival is checked against
    every admitted member: ``verify(cur, prev)`` returns the pair's
    score, or None when the pair is not a near-dup.  matched_id is the
    earlier document, so an intra-batch pair emits once, later doc_id
    against earlier."""
    output_schema = StructType(
        [StructField("doc_id", LongType()), StructField("matched_id", LongType()), score]
    )
    state_schema = StructType(
        [
            StructField("doc_ids", ArrayType(LongType())),
            StructField("payloads", ArrayType(payload.dataType)),
        ]
    )

    def _step(key, batch: pd.DataFrame, old):
        doc_ids, payloads = (list(old[0]), list(old[1])) if old else ([], [])
        seen = set(doc_ids)
        out = []
        # .tolist(): plain Python values — numpy ones don't survive the
        # state pickler
        cells = (p.tolist() for p in batch[payload.name].to_numpy())
        arrivals = zip(batch["doc_id"].tolist(), cells)
        for doc_id, cur in sorted(arrivals, key=lambda t: t[0]):
            if doc_id in seen:
                continue
            for prev_id, prev in zip(doc_ids, payloads):
                s = verify(cur, prev)
                if s is not None:
                    out.append((doc_id, prev_id, s))
            doc_ids.append(doc_id)
            payloads.append(cur)
            seen.add(doc_id)
        return (doc_ids, payloads), pd.DataFrame(out, columns=output_schema.names)

    return keyed_state(rows, keys, _step, output_schema, state_schema)


OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)


def _update(key, batch: pd.DataFrame, old):
    n, s = old or (0, 0.0)
    n += len(batch)
    s += float(batch["value"].sum())
    return (n, s), pd.DataFrame({"user_id": [key[0]], "n_events": [n], "sum_value": [s]})


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in keyed state;
    emits one updated row per user per trigger.  Input: a STREAMING
    events frame with user_id and value columns."""
    return keyed_state(
        events, ("user_id",), _update, OUTPUT_SCHEMA, STATE_SCHEMA, output_mode="update"
    )
