"""Structured Streaming windows: the streaming result must equal the
batch result of the same builder over the same events (unified API —
that equivalence is the correctness contract; d19 pins the batch side
against DuckDB)."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from fifteenmc_spark.io import read_table
from fifteenmc_spark.streaming import windows as W


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_small, tmp_path_factory):
    # re-write events as a clean microsecond-ts parquet dir (the raw
    # testdata file is TIMESTAMP(NANOS), awkward for a file stream source)
    out = str(tmp_path_factory.mktemp("events_stream"))
    read_table(spark, sf_small, "events").write.mode("overwrite").parquet(out)
    return out


def _batch(spark, events_stream_dir):
    return spark.read.parquet(events_stream_dir)


def _sorted_pdf(df) -> pd.DataFrame:
    pdf = df.toPandas()
    return pdf.sort_values(sorted(pdf.columns)).reset_index(drop=True)


@pytest.mark.parametrize(
    "builder",
    [W.tumbling_counts, W.sliding_counts, W.session_windows, W.sketch_distinct_monitor],
    ids=["tumbling", "sliding", "session", "sketch_monitor"],
)
def test_stream_equals_batch(spark, events_stream_dir, builder):
    batch = _batch(spark, events_stream_dir)
    want = _sorted_pdf(builder(batch))
    assert len(want) > 0

    stream = W.stream_events(spark, events_stream_dir, batch.schema)
    assert stream.isStreaming
    name = f"sink_{builder.__name__}"
    W.run_to_memory(builder(stream), name)
    got = _sorted_pdf(spark.table(name))

    pd.testing.assert_frame_equal(got, want, check_dtype=False)


@pytest.fixture(scope="module")
def events_bench_dir(spark, tmp_path_factory):
    """sf0.1 events (100k rows) re-encoded for the file-stream source —
    the bench-scale smoke the 100 TB brief names explicitly."""
    import os

    src = "/root/testdata/sf0.1"
    if not os.path.isdir(src):
        pytest.skip("sf0.1 testdata not present")
    out = str(tmp_path_factory.mktemp("events_bench"))
    read_table(spark, src, "events").write.mode("overwrite").parquet(out)
    return out


def test_stream_bench_scale_tumbling_and_session(spark, events_bench_dir):
    """Bench-scale streaming smoke: tumbling + session windows over the
    sf0.1 events fixture through the real file-stream path (availableNow),
    checked against the batch twin of the same builder (whose shape d19
    pins against DuckDB).  Must finish well under a minute — the point is
    that watermarked window state scales past toy fixtures."""
    import time

    batch = _batch(spark, events_bench_dir)
    t0 = time.monotonic()
    for builder in (W.tumbling_counts, W.session_windows):
        want = _sorted_pdf(builder(batch))
        assert len(want) > 0
        stream = W.stream_events(spark, events_bench_dir, batch.schema)
        name = f"bench_{builder.__name__}"
        W.run_to_memory(builder(stream), name)
        got = _sorted_pdf(spark.table(name))
        pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert time.monotonic() - t0 < 60.0


def test_stateful_running_totals(spark, events_stream_dir):
    from fifteenmc_spark.streaming.stateful import running_user_totals

    batch = _batch(spark, events_stream_dir)
    stream = W.stream_events(spark, events_stream_dir, batch.schema)
    q = (
        running_user_totals(stream)
        .writeStream.format("memory")
        .queryName("sink_stateful")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    W.await_drained(q, 120)
    # last emitted row per user == the batch aggregate
    got = (
        spark.table("sink_stateful")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("n_events"), F.max("sum_value").alias("sum_value"))
    )
    want = batch.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )
    g = _sorted_pdf(got)
    w = _sorted_pdf(want)
    pd.testing.assert_frame_equal(g, w, check_dtype=False, check_exact=False, rtol=1e-9)


def test_watermark_present_in_plan(spark, events_stream_dir):
    batch = _batch(spark, events_stream_dir)
    stream = W.stream_events(spark, events_stream_dir, batch.schema)
    plan = W.tumbling_counts(stream)._jdf.queryExecution().analyzed().toString()
    assert "EventTimeWatermark" in plan


@pytest.fixture(scope="module")
def dup_events_dir(spark, sf_small, tmp_path_factory):
    # an at-least-once source: every event delivered twice (two identical
    # files in the stream directory)
    out = str(tmp_path_factory.mktemp("events_dup"))
    e = read_table(spark, sf_small, "events")
    e.write.mode("overwrite").parquet(out)
    e.write.mode("append").parquet(out)
    return out


def test_streaming_canonical_docs_equals_batch(spark, sf_small, tmp_path_factory):
    from fifteenmc_spark.streaming.dedup import canonical_docs

    out = str(tmp_path_factory.mktemp("docs_stream"))
    read_table(spark, sf_small, "documents").write.mode("overwrite").parquet(out)
    batch = spark.read.parquet(out)
    want = _sorted_pdf(canonical_docs(batch))
    assert len(want) > 0

    stream = spark.readStream.schema(batch.schema).parquet(out)
    W.run_to_memory(canonical_docs(stream), "sink_canonical_docs")
    got = _sorted_pdf(spark.table("sink_canonical_docs"))
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def test_streaming_dedup_events_drops_redeliveries(spark, dup_events_dir):
    from fifteenmc_spark.streaming.dedup import dedup_events

    batch = spark.read.parquet(dup_events_dir)
    n_total = batch.count()
    want = dedup_events(batch)  # batch twin: plain dropDuplicates
    n_unique = want.count()
    assert n_total == 2 * n_unique  # every event delivered twice

    stream = W.stream_events(spark, dup_events_dir, batch.schema)
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName("sink_dedup_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    W.await_drained(q, 120)
    got = spark.table("sink_dedup_events")
    assert got.count() == n_unique
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in want.select("event_id").collect()
    }


def test_streaming_dedup_drops_duplicate_in_later_microbatch(spark, tmp_path_factory):
    # the one-micro-batch redelivery test can't distinguish "state works"
    # from "both copies landed in one batch"; here the duplicate arrives
    # in a LATER micro-batch (maxFilesPerTrigger=1) while its key's event
    # time is still within the watermark, so state must still be live and
    # the re-delivery must be dropped
    import time

    from fifteenmc_spark.streaming.dedup import dedup_events

    out = tmp_path_factory.mktemp("events_late_dup")
    base = spark.createDataFrame(
        [(i, i % 2, f"2024-01-01 10:{i:02d}:00", 1.0) for i in range(5)],
        "event_id long, user_id long, ts_s string, value double",
    ).select("event_id", "user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    base.coalesce(1).write.mode("overwrite").parquet(str(out / "f1"))
    time.sleep(1.1)  # file-source orders micro-batches by mod time
    # redeliver event 0 only — its ts (10:00) is ~4 min behind max seen
    # (10:04), well inside the 30-minute watermark
    base.where(F.col("event_id") == 0).coalesce(1).write.mode("overwrite").parquet(str(out / "f2"))

    schema = spark.read.parquet(str(out / "f1")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    q = (
        dedup_events(stream)
        .writeStream.format("memory")
        .queryName("sink_dedup_late")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    W.await_drained(q, 120)
    assert q.lastProgress is not None and q.lastProgress["batchId"] >= 1  # really >1 micro-batch
    got = spark.table("sink_dedup_late")
    assert got.count() == 5  # the later-micro-batch duplicate was dropped
    assert sorted(r["event_id"] for r in got.collect()) == [0, 1, 2, 3, 4]


def test_streaming_near_dup_codes_match_batch_builder(spark, sf_small):
    # the scan-side simhash64 projection must be bit-identical to the
    # batch vote-aggregate builder (operators/dedup.py simhash_codes_wide)
    from fifteenmc_spark.operators.dedup import simhash_codes_wide
    from fifteenmc_spark.streaming import near_dup as ND

    docs = read_table(spark, sf_small, "documents")
    got = {
        r["doc_id"]: r["code"]
        for r in docs.select("doc_id", ND.simhash64(F.col("text")).alias("code")).collect()
    }
    want = {r["doc_id"]: r["simhash64"] for r in simhash_codes_wide(spark, sf_small).collect()}
    assert got == want


def test_streaming_lsh_bkeys_match_batch_signatures(spark, sf_small):
    # the scan-side minhash features must reproduce the batch banding
    # bit-for-bit: same bkey string per (doc, band) as lsh_jaccard_pairs
    # derives from minhash_signatures over shingle rows
    from fifteenmc_spark.operators.dedup import minhash_signatures, shingle_rows
    from fifteenmc_spark.streaming import minhash_lsh as ML

    docs = read_table(spark, sf_small, "documents")
    got = {
        (r["doc_id"], r["band"]): r["bkey"]
        for r in ML.minhash_features(docs).collect()
    }
    sig = minhash_signatures(shingle_rows(spark, sf_small))
    want = {}
    for r in sig.collect():
        want[(r["doc_id"], 0)] = f"{r['mh0']}|{r['mh1']}"
        want[(r["doc_id"], 1)] = f"{r['mh2']}|{r['mh3']}"
    assert got == want


def _three_chunk_stream(spark, docs, out):
    """``docs`` as a stream of three doc_id-ranged chunks, one micro-batch
    each (maxFilesPerTrigger); returns (stream, chunk_of)."""
    import time

    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    c1, c2 = ids[len(ids) // 3], ids[2 * len(ids) // 3]

    def chunk_of(i):
        return 0 if i < c1 else (1 if i < c2 else 2)

    parts = [
        docs.where(F.col("doc_id") < c1),
        docs.where((F.col("doc_id") >= c1) & (F.col("doc_id") < c2)),
        docs.where(F.col("doc_id") >= c2),
    ]
    for i, p in enumerate(parts):
        p.coalesce(1).write.mode("overwrite").parquet(str(out / f"f{i}"))
        time.sleep(1.1)  # file-source orders micro-batches by mod time
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    return stream, chunk_of


@pytest.fixture(scope="module")
def lsh_stream_sink(spark, sf_small, tmp_path_factory):
    """The MinHash-LSH registry's emissions over the sf_small corpus
    streamed in three micro-batches: (sink table name, chunk_of).  One
    run serves the x3 equality test and the re-delivery test."""
    from fifteenmc_spark.streaming import minhash_lsh as ML

    docs = read_table(spark, sf_small, "documents")
    stream, chunk_of = _three_chunk_stream(spark, docs, tmp_path_factory.mktemp("lsh_stream"))
    W.run_to_memory(ML.flag_lsh_near_dups(stream), "sink_lsh_near_dup", output_mode="append")
    return "sink_lsh_near_dup", chunk_of


def test_streaming_lsh_equals_batch_x3(spark, sf_small, lsh_stream_sink):
    # stream≡batch contract for the MinHash-LSH registry: the distinct
    # flagged pair set over a bounded stream equals the declared x3 pair
    # set over the same corpus
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.streaming import minhash_lsh as ML

    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in QUERIES["x3_minhash_lsh_pairs"].build(spark, sf_small).collect()
    }
    assert want  # fixture corpus has near-dup pairs

    sink, chunk_of = lsh_stream_sink
    got_stream = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ML.distinct_lsh_pairs(spark.table(sink)).collect()
    }
    assert got_stream == want
    # at least one flagged pair crosses micro-batches — the bucket state
    # really carried an earlier batch's documents forward
    assert any(chunk_of(a) != chunk_of(b) for a, b, _ in got_stream)


def test_streaming_lsh_redelivery_emits_no_duplicate_pairs(
    spark, sf_small, tmp_path_factory, lsh_stream_sink
):
    # at-least-once delivery: the same documents arriving again in a later
    # micro-batch must be recognized as already admitted (bucket state
    # keeps doc_ids) — no duplicate pair emissions, no self-pairs
    import time

    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.streaming import minhash_lsh as ML

    docs = read_table(spark, sf_small, "documents")
    out = tmp_path_factory.mktemp("lsh_redeliver")
    docs.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    time.sleep(1.1)
    docs.coalesce(1).write.mode("overwrite").parquet(str(out / "f1"))  # re-delivery

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    W.run_to_memory(ML.flag_lsh_near_dups(stream), "sink_lsh_redeliver", output_mode="append")
    rows = spark.table("sink_lsh_redeliver").collect()
    assert all(r["doc_id"] != r["matched_id"] for r in rows)
    # the raw emission MULTISET (a pair legitimately emits once per
    # shared band) equals the single-delivery stream's — each (pair,
    # band) emits exactly once however the input splits into
    # micro-batches, so the second delivery added zero emissions
    # (without the seen-guard every pair would re-emit and the
    # multisets would differ)
    from collections import Counter

    def pairs(rows):
        return Counter(
            (min(r["doc_id"], r["matched_id"]), max(r["doc_id"], r["matched_id"])) for r in rows
        )

    assert pairs(rows) == pairs(spark.table(lsh_stream_sink[0]).collect())
    want = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in QUERIES["x3_minhash_lsh_pairs"].build(spark, sf_small).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"], r["jaccard"])
        for r in ML.distinct_lsh_pairs(spark.table("sink_lsh_redeliver")).collect()
    }
    assert got == want


def test_streaming_near_dup_equals_batch_x6_64(spark, sf_small, tmp_path_factory):
    # stream≡batch contract: the distinct flagged pair set over a bounded
    # stream equals the declared x6_64 pair set over the same corpus
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.streaming import near_dup as ND

    want = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in QUERIES["x6_simhash_hamming_64"].build(spark, sf_small).collect()
    }
    assert want  # fixture corpus has near-dup pairs

    docs = read_table(spark, sf_small, "documents")
    stream, chunk_of = _three_chunk_stream(spark, docs, tmp_path_factory.mktemp("near_dup_stream"))
    W.run_to_memory(ND.flag_near_dups(stream), "sink_near_dup", output_mode="append")
    got_stream = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in ND.distinct_pairs(spark.table("sink_near_dup")).collect()
    }
    assert got_stream == want
    # at least one flagged pair crosses micro-batches — the bucket state
    # really carried an earlier batch's documents forward
    assert any(chunk_of(a) != chunk_of(b) for a, b, _ in got_stream)


def test_registries_orient_every_emission_earlier_to_later(spark, sf_small, tmp_path_factory):
    """Both near-dup registries emit matched_id as the EARLIER document.
    Within one micro-batch a bucket admits in doc_id order, so every
    emission has matched_id < doc_id — even when the bucket's rows reach
    the state function in many Arrow chunks (two records per chunk here)
    and arrive in descending doc_id order (a per-chunk sort would admit a
    later chunk's smaller ids after the larger ones)."""
    from fifteenmc_spark.streaming import minhash_lsh as ML
    from fifteenmc_spark.streaming import near_dup as ND

    docs = read_table(spark, sf_small, "documents")
    out = tmp_path_factory.mktemp("orientation")
    docs.repartition(1).sortWithinPartitions(F.desc("doc_id")).write.parquet(str(out / "f0"))
    sinks = {"sink_orient_simhash": ND.flag_near_dups, "sink_orient_lsh": ML.flag_lsh_near_dups}
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    before = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    try:
        for name, flag in sinks.items():
            # one file = one micro-batch
            stream = spark.readStream.schema(docs.schema).parquet(str(out / "f0"))
            W.run_to_memory(flag(stream), name, output_mode="append")
    finally:
        spark.conf.set(conf, before)
    for name in sinks:
        rows = spark.table(name).collect()
        assert rows, name
        wrong = [(r["doc_id"], r["matched_id"]) for r in rows if r["matched_id"] >= r["doc_id"]]
        assert not wrong, (name, len(wrong), len(rows), wrong[:5])


def test_streaming_ann_topk_equals_batch_v5_and_v1(spark, sf_small, tmp_path_factory):
    """stream≡batch contract for the ANN serving twin: a bounded stream of
    query vectors against the static IVF index yields exactly v5's top-k
    at nprobe=2, and exactly exact-v1's top-k when every cell is probed —
    including across micro-batches and under re-delivery of a query."""
    import time

    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import (
        IVF_SEED_IDS,
        N_PROBE,
        N_QUERY_VECS,
        SEED_Q,
        _cells_probes,
        _emb,
    )
    from fifteenmc_spark.streaming import ann as ANN

    e, cells, _ = _cells_probes(spark, sf_small, SEED_Q, N_PROBE)
    corpus = e.select("vec_id", "embedding")
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in _emb(spark, sf_small)
        .where(F.col("vec_id").isin(*IVF_SEED_IDS))
        .orderBy("vec_id")
        .collect()
    ]
    queries = _emb(spark, sf_small).where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )

    def rows_of(df):
        return {(r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4)) for r in df.collect()}

    want_v5 = rows_of(QUERIES["v5_ivf_topk"].build(spark, sf_small))
    want_v1 = rows_of(QUERIES["v1_cosine_topk"].build(spark, sf_small))
    assert want_v5 and want_v1

    # two micro-batches: qids {0} then {1, 2, and 0 AGAIN (re-delivery)}
    out = tmp_path_factory.mktemp("ann_stream")
    queries.where(F.col("qid") == 0).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f0")
    )
    time.sleep(1.1)  # file-source orders micro-batches by mod time
    queries.where(F.col("qid") >= 0).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f1")
    )
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )

    W.run_to_memory(
        ANN.topk_stream(stream, corpus, cells, centroids, nprobe=N_PROBE),
        "sink_ann_v5",
        output_mode="append",
    )
    # re-delivered qid 0 re-emits an identical top-k (idempotent merge) —
    # distinct rows must equal the batch answer exactly
    got = rows_of(spark.table("sink_ann_v5").distinct())
    assert got == want_v5
    # rev contract: every emission carries a monotonically increasing
    # per-qid revision, so a consumer identifies the current answer by
    # keep-last-rev even when emissions conflict across micro-batches —
    # the re-delivered qid 0 has two revisions, fresh qids one, and the
    # max-rev row set per qid IS the batch answer
    sink = spark.table("sink_ann_v5")
    revs = {
        r["qid"]: r["nrev"]
        for r in sink.groupBy("qid").agg(
            F.countDistinct("rev").alias("nrev")
        ).collect()
    }
    assert revs[0] == 2 and all(n == 1 for q, n in revs.items() if q != 0), revs
    wmax = Window.partitionBy("qid")
    latest = (
        sink.withColumn("maxrev", F.max("rev").over(wmax))
        .where(F.col("rev") == F.col("maxrev"))
        .drop("maxrev", "rev")
    )
    assert rows_of(latest) == want_v5

    # probing EVERY cell = the exact baseline (one batch is enough here)
    stream1 = spark.readStream.schema(queries.schema).parquet(str(out) + "/f1/")
    W.run_to_memory(
        ANN.topk_stream(stream1, corpus, cells, centroids, nprobe=len(centroids)),
        "sink_ann_v1",
        output_mode="append",
    )
    assert rows_of(spark.table("sink_ann_v1").distinct()) == want_v1


def test_streaming_ann_serves_the_serving_layout(spark, sf_small, tmp_path_factory):
    """The streaming ANN tier is quantizer-AGNOSTIC (cells + centroids
    are inputs), and the serving layout is the trained 32-cell layout at
    the constant scan fraction (serving.SERVING_Q, the declared v25
    layout): the cells/centroids here come from the serving helpers, and
    the stream top-k equals the batch serving plan exactly.  The serving story follows the measured index: v20
    picked trained over seed cells, v24's sweep picked 16 over 8 then 32
    over 16 cells at equal scan, and online queries get that recall
    because serving IS that layout."""
    from fifteenmc_spark import serving
    from fifteenmc_spark.operators.similarity import N_QUERY_VECS, _emb, _probe_topk_plan
    from fifteenmc_spark.streaming import ann as ANN

    e, tcells, _ = serving.serving_cells_probes(spark, sf_small)
    corpus = e.select("vec_id", "embedding")
    centroids = serving.serving_centroids(spark, sf_small)
    queries = _emb(spark, sf_small).where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    want = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in _probe_topk_plan(
            spark, sf_small, serving.SERVING_Q, serving.SERVING_NPROBE
        ).collect()
    }
    assert want

    out = tmp_path_factory.mktemp("tivf_stream")
    queries.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    stream = spark.readStream.schema(queries.schema).parquet(str(out) + "/*/")
    W.run_to_memory(
        ANN.topk_stream(stream, corpus, tcells, centroids, nprobe=serving.SERVING_NPROBE),
        "sink_ann_tivf",
        output_mode="append",
    )
    got = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in spark.table("sink_ann_tivf").distinct().collect()
    }
    assert got == want


def test_streaming_filtered_ann_equals_batch_v27(spark, sf_small, tmp_path_factory):
    """The filtered serving tier's online twin (r12 verdict item 9): the
    label predicate composes into the stream-static candidate join, and
    the stream top-k equals the declared v27 exactly — the serving
    layout's filtered matrix entry.  Cells/centroids come from the
    serving helpers."""
    from fifteenmc_spark import serving
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import N_QUERY_VECS, _emb
    from fifteenmc_spark.streaming import ann as ANN

    e, tcells, _ = serving.serving_cells_probes(spark, sf_small)
    corpus = _emb(spark, sf_small).select("vec_id", "embedding", "label")
    centroids = serving.serving_centroids(spark, sf_small)
    queries = corpus.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    want = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in QUERIES["v27_filtered_tivf_topk"].build(spark, sf_small).collect()
    }
    assert want

    out = tmp_path_factory.mktemp("filtered_ann_stream")
    queries.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    stream = spark.readStream.schema(queries.schema).parquet(str(out) + "/*/")
    W.run_to_memory(
        ANN.topk_stream(
            stream, corpus, tcells, centroids, nprobe=serving.SERVING_NPROBE, label_filter=True
        ),
        "sink_ann_filtered",
        output_mode="append",
    )
    got = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in spark.table("sink_ann_filtered").distinct().collect()
    }
    assert got == want


def test_streaming_adaptive_filtered_ann_equals_batch_v29(spark, sf_small, tmp_path_factory):
    """The ADAPTIVE filtered tier's online twin (r13 verdict item 6): the
    per-label probe-depth rule composes into the stream the same way it
    does into v29's batch plan — the (label, npl) selectivity table is a
    broadcast stream-static join and the depth gate is a WHERE on the
    probe rank — and the stream top-k equals the declared v29 exactly.
    The selectivity table is v29's own (_label_nprobe), so the twin
    moves with any future budget-rule change automatically."""
    from fifteenmc_spark import serving
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import N_QUERY_VECS, _emb, _label_nprobe
    from fifteenmc_spark.streaming import ann as ANN

    e, tcells, _ = serving.serving_cells_probes(spark, sf_small)
    corpus = _emb(spark, sf_small).select("vec_id", "embedding", "label")
    centroids = serving.serving_centroids(spark, sf_small)
    npl = _label_nprobe(corpus, len(centroids), serving.SERVING_NPROBE)
    # the dispatch must be LIVE at this scale (some label probes deeper
    # than the serving nprobe) or this test degenerates into the v27 twin
    assert any(r["npl"] > serving.SERVING_NPROBE for r in npl.collect())
    queries = corpus.where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("qlabel"),
    )
    want = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in QUERIES["v29_adaptive_filtered_topk"].build(spark, sf_small).collect()
    }
    assert want

    out = tmp_path_factory.mktemp("adaptive_filtered_ann_stream")
    queries.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    stream = spark.readStream.schema(queries.schema).parquet(str(out) + "/*/")
    W.run_to_memory(
        ANN.topk_stream(
            stream, corpus, tcells, centroids, nprobe=serving.SERVING_NPROBE, label_depth=True
        ),
        "sink_ann_adaptive",
        output_mode="append",
    )
    got = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in spark.table("sink_ann_adaptive").distinct().collect()
    }
    assert got == want


def test_streaming_span_registry_equals_batch_x9(spark, sf_small, tmp_path_factory):
    # stream≡batch contract for the span registry (x9's online twin —
    # the last dedup family with a bounded-state form): the distinct
    # flagged (doc_id, pos, h) set over a bounded stream equals the
    # declared x9 span set, including occurrences flagged RETROACTIVELY
    # when a span's second document arrives in a later micro-batch
    import time

    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.streaming import span_dedup as SD

    want = {
        (r["doc_id"], r["pos"], r["h"])
        for r in QUERIES["x9_span_dedup"].build(spark, sf_small).collect()
    }
    assert want  # fixture corpus has cross-doc duplicate spans

    docs = read_table(spark, sf_small, "documents")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]

    def chunk_of(i):
        return 0 if i < cut else 1

    out = tmp_path_factory.mktemp("span_stream")
    # chunk 0, then chunk 1 PLUS a re-delivery of chunk 0 (at-least-once)
    docs.where(F.col("doc_id") < cut).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f0")
    )
    time.sleep(1.1)  # file-source orders micro-batches by mod time
    docs.coalesce(1).write.mode("overwrite").parquet(str(out / "f1"))

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    W.run_to_memory(SD.flag_dup_spans(stream), "sink_span_dedup", output_mode="append")
    got = {
        (r["doc_id"], r["pos"], r["h"])
        for r in SD.distinct_flagged(spark.table("sink_span_dedup")).collect()
    }
    assert got == want
    # at least one span's two documents straddle the micro-batch cut —
    # i.e. the registry really flagged chunk-0 occurrences retroactively
    by_h = {}
    for d, _p, h in got:
        by_h.setdefault(h, set()).add(chunk_of(d))
    assert any(chunks == {0, 1} for chunks in by_h.values())


def _batch_adc_topk(spark, sf_small, quant, nprobe):
    """The batch twin of the codes-only stream: v13's candidate ADC
    ranking (oracle-checked shape) over ``quant``'s probed cells, top-k
    by (approx desc, vec_id) without the exact re-rank, as
    (qid, vec_id, rnk, sim) tuples."""
    from fifteenmc_spark.operators.similarity import (
        N_QUERY_VECS,
        TOP_K,
        _cells_probes,
        _pq_index,
        _pq_query_side,
    )

    e, cw, codes = _pq_index(spark, sf_small)
    _, cells, probes = _cells_probes(spark, sf_small, quant, nprobe)
    q, qparts = _pq_query_side(e, cw, N_QUERY_VECS)
    cand = (
        cells.join(probes.select("qid", "cell"), "cell")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    adc = (
        codes.join(cand, "vec_id")
        .join(qparts, ["qid", "m", "code"])
        .groupBy("qid", "vec_id")
        .agg(
            (F.sum("qdot6").cast("double") / 1e6).alias("adc"),
            (F.sum("cw_ss6").cast("double") / 1e6).alias("recon_ss"),
        )
    )
    appx = adc.select(
        "qid", "vec_id", F.round(F.col("adc") / F.sqrt("recon_ss"), 6).alias("sim")
    )
    wr = Window.partitionBy("qid").orderBy(F.col("sim").desc(), "vec_id")
    return {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in appx.select(
            "qid", "vec_id", F.row_number().over(wr).alias("rnk"), F.round("sim", 4).alias("sim")
        )
        .where(F.col("rnk") <= TOP_K)
        .collect()
    }


def test_streaming_pq_adc_serving_equals_batch(spark, sf_small, tmp_path_factory):
    # stream≡batch contract for the codes-only serving path (v13's front
    # half online): the top-k by ADC approximate cosine over the probed
    # cells, served from the static (cell, codes, recon_ss6) layout with
    # NO embedding column on the static side, equals the batch ADC
    # ranking from the same session-index artifacts — across
    # micro-batches and under query re-delivery
    import time

    from pyspark.sql import Window as W2

    from fifteenmc_spark.operators.similarity import (
        IVF_SEED_IDS,
        N_PROBE,
        N_QUERY_VECS,
        SEED_Q,
        _emb,
    )
    from fifteenmc_spark.streaming import pq_ann as PQA

    want = _batch_adc_topk(spark, sf_small, SEED_Q, N_PROBE)
    assert want

    # stream side: same artifacts through the serving layout — the SEED
    # cells are the calibration baseline, so this test names them
    # explicitly (the serving layout is the trained v25 quantizer)
    static, books = PQA.build_pq_serving_index(spark, sf_small, SEED_Q)
    assert "embedding" not in static.columns  # codes-only static side
    centroids = [
        (r["vec_id"], list(r["embedding"]))
        for r in _emb(spark, sf_small)
        .where(F.col("vec_id").isin(*IVF_SEED_IDS))
        .orderBy("vec_id")
        .collect()
    ]
    queries = _emb(spark, sf_small).where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = tmp_path_factory.mktemp("pq_ann_stream")
    queries.where(F.col("qid") == 0).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f0")
    )
    time.sleep(1.1)  # file-source orders micro-batches by mod time
    queries.coalesce(1).write.mode("overwrite").parquet(str(out / "f1"))  # + re-delivery
    stream = (
        spark.readStream.schema(queries.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    W.run_to_memory(
        PQA.topk_stream(stream, static, books, centroids, nprobe=N_PROBE),
        "sink_pq_adc",
        output_mode="append",
    )
    sink = spark.table("sink_pq_adc")
    wmax = W2.partitionBy("qid")
    latest = (
        sink.withColumn("maxrev", F.max("rev").over(wmax))
        .where(F.col("rev") == F.col("maxrev"))
    )
    got = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4)) for r in latest.collect()
    }
    assert got == want


def test_streaming_pq_adc_serves_the_serving_layout(spark, sf_small, tmp_path_factory):
    # the codes-only serving tier over the SERVING layout (trained coarse
    # cells x raw PQ codes at the constant scan fraction — serving.SERVING_Q,
    # the declared v25 layout): the stream top-k equals the batch ADC
    # ranking over those probed cells — the online form of the index the
    # r10-r13 evals picked
    from fifteenmc_spark import serving
    from fifteenmc_spark.operators.similarity import N_QUERY_VECS, _emb
    from fifteenmc_spark.streaming import pq_ann as PQA

    N_PROBE = serving.SERVING_NPROBE
    want = _batch_adc_topk(spark, sf_small, serving.SERVING_Q, N_PROBE)
    assert want

    static, books = PQA.build_pq_serving_index(spark, sf_small, serving.SERVING_Q)
    assert "embedding" not in static.columns
    centroids = serving.serving_centroids(spark, sf_small)
    queries = _emb(spark, sf_small).where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    out = tmp_path_factory.mktemp("pq_ann_stream_trained")
    queries.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    stream = spark.readStream.schema(queries.schema).parquet(str(out) + "/*/")
    W.run_to_memory(
        PQA.topk_stream(stream, static, books, centroids, nprobe=N_PROBE),
        "sink_pq_adc_trained",
        output_mode="append",
    )
    got = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in spark.table("sink_pq_adc_trained").distinct().collect()
    }
    assert got == want


def test_stream_tiers_drop_invalid_query_vectors(spark, sf_small, tmp_path_factory):
    """Both stream tiers gate their query vectors with the batch corpus
    gate's predicate: a zero-norm query, a NULL element, a NULL vector
    and a wrong-dimension vector are dropped, not answered with
    arbitrary rows (zero norm, NULL element) and not allowed to fail the
    whole stream (wrong dimension) — the emitted rows are exactly the
    valid queries' batch answer at the serving layout."""
    from fifteenmc_spark import serving
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.operators.similarity import EMB_DIM, N_QUERY_VECS, _emb
    from fifteenmc_spark.streaming import ann as ANN
    from fifteenmc_spark.streaming import pq_ann as PQA

    valid = _emb(spark, sf_small).where(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    bad = spark.createDataFrame(
        [
            (1000, [0.0] * EMB_DIM),
            (1001, [None] + [0.5] * (EMB_DIM - 1)),
            (1002, [0.5] * (EMB_DIM - 1)),
            (1003, None),
        ],
        valid.schema,
    )
    out = tmp_path_factory.mktemp("invalid_query_stream")
    valid.unionByName(bad).coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))

    def served(stream_df, name):
        W.run_to_memory(stream_df, name, output_mode="append")
        return {
            (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
            for r in spark.table(name).distinct().collect()
        }

    e, cells, _ = serving.serving_cells_probes(spark, sf_small)
    centroids = serving.serving_centroids(spark, sf_small)
    stream = spark.readStream.schema(valid.schema).parquet(str(out) + "/*/")
    want = {
        (r["qid"], r["vec_id"], r["rnk"], round(r["sim"], 4))
        for r in QUERIES["v25_serving_tivf_topk"].build(spark, sf_small).collect()
    }
    assert want
    got = served(
        ANN.topk_stream(
            stream, e.select("vec_id", "embedding"), cells, centroids, serving.SERVING_NPROBE
        ),
        "sink_ann_invalid",
    )
    assert got == want

    static, books = PQA.build_pq_serving_index(spark, sf_small, serving.SERVING_Q)
    want_pq = _batch_adc_topk(spark, sf_small, serving.SERVING_Q, serving.SERVING_NPROBE)
    assert want_pq
    got_pq = served(
        PQA.topk_stream(stream, static, books, centroids, serving.SERVING_NPROBE),
        "sink_pq_invalid",
    )
    assert got_pq == want_pq


def test_streaming_sampled_span_registry_equals_batch_x9_sampled(spark, sf_small, tmp_path_factory):
    # the hash-mod mitigation online: with the same nibble bucket the
    # stream registry's flagged set equals batch x9_sampled — and the
    # registry's keyed-state footprint shrinks with the shuffle, which
    # positional-stride sampling could not guarantee (content-keyed)
    import time

    from fifteenmc_spark.operators.dedup import X9_SAMPLE_NIBBLES
    from fifteenmc_spark.operators.relational import QUERIES
    from fifteenmc_spark.streaming import span_dedup as SD

    want = {
        (r["doc_id"], r["pos"], r["h"])
        for r in QUERIES["x9_span_dedup_sampled"].build(spark, sf_small).collect()
    }
    assert want

    docs = read_table(spark, sf_small, "documents")
    out = tmp_path_factory.mktemp("span_stream_sampled")
    ids = sorted(r["doc_id"] for r in docs.select("doc_id").collect())
    cut = ids[len(ids) // 2]
    docs.where(F.col("doc_id") < cut).coalesce(1).write.mode("overwrite").parquet(
        str(out / "f0")
    )
    time.sleep(1.1)
    docs.coalesce(1).write.mode("overwrite").parquet(str(out / "f1"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    W.run_to_memory(
        SD.flag_dup_spans(stream, sample_nibbles=X9_SAMPLE_NIBBLES),
        "sink_span_sampled",
        output_mode="append",
    )
    got = {
        (r["doc_id"], r["pos"], r["h"])
        for r in SD.distinct_flagged(spark.table("sink_span_sampled")).collect()
    }
    assert got == want


def test_stateful_timeout_branches_emit_nothing():
    """Pins the safety argument of W.await_drained: the one keyed-state
    wrapper (stateful._keyed) evicts state and emits ZERO rows on a
    timeout, without running the operator's step, so stopping an
    availableNow query after its input drains (the zero-input-batch
    signal) cannot change the emitted result set.  Every stateful stream
    goes through that wrapper: no other module of the streaming package
    handles a timeout or calls the keyed-state operator itself."""
    import pathlib

    from fifteenmc_spark import streaming
    from fifteenmc_spark.streaming import stateful as ST

    class _TimedOutState:
        hasTimedOut = True
        exists = False
        removed = False

        def remove(self):
            self.removed = True

        @property
        def get(self):  # must never be read on the timeout path
            raise AssertionError("timeout branch read state contents")

        def update(self, *_):
            raise AssertionError("timeout branch wrote state")

    def step(*_):
        raise AssertionError("timeout branch ran the step")

    state = _TimedOutState()
    assert list(ST._keyed(step)(("k",), iter([]), state)) == []
    assert state.removed

    sources = {p.name: p.read_text() for p in pathlib.Path(streaming.__file__).parent.glob("*.py")}
    for name in ("hasTimedOut", "applyInPandasWithState"):
        where = {f: src.count(name) for f, src in sources.items() if name in src}
        assert where == {"stateful.py": 1}, (name, where)


def test_await_drained_stops_stateful_availablenow_promptly(spark, sf_small, tmp_path_factory):
    """The r15 verify overran its window because stateful availableNow
    queries never self-terminate (processing-time-timeout cleanup batches
    keep them alive) and every stream≡batch test blocked its full 120 s
    awaitTermination.  await_drained must stop such a query itself, and
    only once every input row went through a committed batch that was
    followed by a committed zero-input batch (the equality tests above
    pin the result side).  The mechanism is asserted, not wall-clock
    time."""
    from fifteenmc_spark.streaming import minhash_lsh as ML

    docs = read_table(spark, sf_small, "documents")
    out = tmp_path_factory.mktemp("await_drained")
    docs.coalesce(1).write.mode("overwrite").parquet(str(out / "f0"))
    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(out) + "/*/")
    )
    q = (
        ML.flag_lsh_near_dups(stream).writeStream.format("memory")
        .queryName("sink_await_drained")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    stops = []
    stop = q.stop

    def spy_stop():
        stops.append((q.isActive, [p["numInputRows"] for p in q.recentProgress]))
        stop()

    q.stop = spy_stop
    W.await_drained(q)
    assert not q.isActive
    assert len(stops) == 1, "await_drained did not stop the live stateful query"
    active, rows = stops[0]
    assert active
    assert rows[-1] == 0 and sum(rows) == docs.count(), rows  # drained, then stopped
    assert spark.table("sink_await_drained").count() > 0
