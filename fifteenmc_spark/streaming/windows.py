"""Structured Streaming surface (SURVEY.md §2.9, §7.11).

The reference has no streaming runtime — every script is a one-shot
``main()`` (graph_construction.py:201).  The engine's events surface
(TESTDATA `events`: event_id, ts, user_id, event_type, value, props) gets
the standard Spark streaming treatment: tumbling / sliding / session
windows with watermark-bounded state, plus a stateful sessionization
example.  Everything here is built-in Structured Streaming — zero custom
state stores.

Each builder takes a DataFrame (batch OR streaming — the transformations
are identical by design; that is the point of the unified Dataset API), so
the DuckDB oracle can check the batch twin (declared query d19) while the
streaming tests drive the same code through a file-source stream with
``trigger(availableNow=True)``.

Scale notes
-----------
- Watermarks bound state: without `withWatermark` a streaming session
  window accumulates state forever at 100 TB/day ingest.
- Window aggregations are hash aggs keyed by (window, user) — map-side
  partial combine applies; the shuffle carries one row per key per
  trigger, never raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

WATERMARK_DEFAULT = "30 minutes"


def with_event_time(events: DataFrame, watermark: str | None = WATERMARK_DEFAULT) -> DataFrame:
    """Attach the event-time watermark (late data beyond it is dropped and
    its state evicted).  No-op on batch frames (watermark is ignored)."""
    return events.withWatermark("ts", watermark) if watermark and events.isStreaming else events


def tumbling_counts(events: DataFrame, width: str = "15 minutes", watermark: str | None = WATERMARK_DEFAULT) -> DataFrame:
    """Non-overlapping event-time buckets per user: count + sum(value).
    Batch twin: declared query d19 (epoch-math form)."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy("user_id", F.window("ts", width).alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "cnt",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    width: str = "30 minutes",
    slide: str = "10 minutes",
    watermark: str | None = WATERMARK_DEFAULT,
) -> DataFrame:
    """Overlapping windows (width, slide): each event lands in
    width/slide windows — event-type activity rates."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy("event_type", F.window("ts", width, slide).alias("win"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("event_type", F.col("win.start").alias("win_start"), "cnt")
    )


def session_windows(
    events: DataFrame, gap: str = "20 minutes", watermark: str | None = WATERMARK_DEFAULT
) -> DataFrame:
    """Session windows per user: a session closes after `gap` of
    inactivity (built-in session_window — dynamic, event-time merged)."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy("user_id", F.session_window("ts", gap).alias("sess"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("sess.start").alias("sess_start"),
            F.col("sess.end").alias("sess_end"),
            "n_events",
            "sum_value",
        )
    )


def sketch_distinct_monitor(
    events: DataFrame,
    width: str = "15 minutes",
    watermark: str | None = WATERMARK_DEFAULT,
    rsd: float = 0.05,
) -> DataFrame:
    """Windowed HLL distinct-user monitor per event_type — the STREAMING
    twin of d31's sketch-calibration use case: the drift monitor a 100 TB
    ingest runs continuously (a window whose distinct-user estimate jumps
    relative to its event count signals a bot burst / dedup regression
    upstream).  Exact COUNT(DISTINCT) is not expressible as an incremental
    streaming aggregation without per-key state holding every id; the
    HLL++ sketch is the bounded-state form, and because its registers
    merge commutatively and associatively the estimate is a function of
    the window's SET of user_ids alone — stream and batch agree EXACTLY
    regardless of arrival order or partitioning (the stream≡batch test
    pins equality, not approximate closeness).  d31 (batch) measures this
    sketch's error against exact ground truth; this operator is what you
    deploy once d31 says the bound holds."""
    e = with_event_time(events, watermark)
    return (
        e.groupBy("event_type", F.window("ts", width).alias("win"))
        .agg(
            F.approx_count_distinct("user_id", rsd=rsd).alias("hll_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "hll_users",
            "n_events",
        )
    )


def stream_events(spark, events_dir: str, schema) -> DataFrame:
    """File-source stream over an events parquet directory — the test/demo
    entry (production would swap in Kafka with the same downstream plan)."""
    return spark.readStream.schema(schema).parquet(events_dir)


def run_to_memory(
    stream_df: DataFrame,
    table_name: str,
    timeout_s: float = 120.0,
    output_mode: str = "complete",
) -> None:
    """Drain a (bounded) stream into an in-memory sink with availableNow —
    used by tests to compare streaming results against the batch twin of
    the same builder.  complete mode for aggregations; append for keyed
    stateful operators (flag_near_dups) whose emissions are final."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    await_drained(q, timeout_s)


def await_drained(q, timeout_s: float = 120.0) -> None:
    """Wait until an availableNow query has processed ALL its available
    input, then stop it if it is still alive.

    Stateless availableNow queries self-terminate after the drain, but a
    plan containing keyed state with a processing-time timeout keeps the
    query alive afterwards, looping "no new data but cleaning up state"
    batches until every pending state timeout has fired (the state TTL
    here is an hour — the r15 verify overran its window because every
    stateful stream≡batch test blocked the FULL 120 s on
    awaitTermination, measured 13 x ~125 s of the suite's 2,894 s).
    Stopping after the drain is result-identical: a zero-input batch is
    only reported AFTER its sink commit, and every stateful operator in
    fifteenmc_spark.streaming goes through stateful.keyed_state, whose
    one timeout branch removes the key's state and emits NOTHING (state
    eviction only, pinned by test_stateful_timeout_branches_emit_nothing,
    which also fails if any other module handles a timeout itself)."""
    import time as _time

    deadline = _time.monotonic() + timeout_s
    # drain signal = a committed zero-input batch (progress is reported
    # only AFTER the batch's sink commit).  Every batch in recentProgress
    # is read, so a data batch between two fast zero batches is never
    # missed by the poll.  Guard against a zero-row interior FILE
    # mimicking the drain: require either a second consecutive zero-input
    # batch (cleanup batches arrive every few seconds while state timeouts
    # are pending) or source idleness after the first for twice the
    # longest batch seen (at least 5 s) — a real interior empty file is
    # followed by its remaining data batches well inside that.
    seen = -1
    zeros = 0  # consecutive zero-input batches at the end of the log
    zero_seen_at = 0.0
    idle_s = 5.0
    while _time.monotonic() < deadline and q.isActive:
        if q.awaitTermination(0.25):
            return  # self-terminated (stateless plan)
        for p in q.recentProgress:
            if p["batchId"] <= seen:
                continue
            seen = p["batchId"]
            idle_s = max(idle_s, 2.0 * p["durationMs"].get("triggerExecution", 0) / 1000.0)
            zeros = zeros + 1 if p["numInputRows"] == 0 else 0
            if zeros == 1:
                zero_seen_at = _time.monotonic()
        if zeros >= 2 or (zeros == 1 and _time.monotonic() - zero_seen_at > idle_s):
            break
    if q.isActive:
        q.stop()
    q.awaitTermination(max(0.5, deadline - _time.monotonic()))
