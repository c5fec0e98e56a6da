"""Scale-slope measurement: the heaviest query families timed at THREE
scale factors (10x apart) on BOTH engines, reporting the power-law
exponent b in t ~ (rows)^b — the measured evidence that the plans scale,
where the per-round bench (one SF, floor-dominated) can only argue it.

Method (r11, after the r10 ADVICE):
- Three points instead of two: sf0.01 and sf0.1 from the driver testdata
  plus a SYNTHESIZED 10x-sf0.1 corpus (documents + embeddings matched to
  the source tables' distributions — token FREQUENCY profile (words drawn
  from the concatenated source token stream, so the shingle-df shape the
  x5/x3/x9 plans are sensitive to carries over), doc-length mix,
  lang/source mix, dup rate, per-label unit-norm embedding clusters;
  seed=42; the other eight tables are symlinked from sf0.1 since no slope
  query touches them).  Two points fit any line; the third exposes
  curvature.  The cache marker fingerprints the source tables and
  invalidates on regeneration.
- The Spark action floor (measured noop write, recorded per SF) is
  SUBTRACTED from the Spark samples before fitting, clamped at 1 ms —
  without this the scheduler constant flattens every exponent at small
  SF and the flag can misfire in either direction (r10 ADVICE; the
  recorded r10 data had negative Spark exponents from exactly this).
- b = least-squares slope of log10(t_adj) over log10(relative rows);
  bench noise is +-30-40% at these absolute times, so read b with that
  error bar in mind (the JSON carries the raw medians for re-fits).

Reading guide: b ~ 1 linear (a one-pass scan+shuffle plan), b < 1
floor/constant-dominated (headroom, not a defect), b > 0.9 is flagged
for attention (watch_spark) and b > 1.1 flagged superlinear — a
candidate-pair or window stage growing faster than the corpus.

Methodology matches bench.py: warm tables + Python worker fleet first,
median-of-$BENCH_RUNS (default 3) through a noop sink (Spark) /
fetchall (DuckDB), warm-session index semantics.  Writes
SCALE_SLOPE.json and prints one compact JSON line.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fifteenmc_spark.operators  # noqa: F401  (registers all query modules)
from fifteenmc_spark.io import TABLES, read_table
from fifteenmc_spark.operators.relational import QUERIES
from fifteenmc_spark.session import get_spark

# the heaviest families by the r9/r10 benches (r9 verdict Next #5) plus
# the r10-new heavy evals (composed plans / fused sweep / trained
# composition)
SLOPE_QUERIES = (
    "x5_ngram_jaccard",
    # the scale paths for x5's measured superlinear tail (exact all-pairs
    # Jaccard is inherently ~quadratic as df grows on a bounded vocab —
    # r11 measured spark tail 1.39 vs duckdb 1.91): the max-df-capped
    # exact variant and the MinHash-LSH approximate variant must stay
    # subquadratic where x5 bends
    "x5_ngram_jaccard_capped",
    "x3_minhash_lsh_pairs",
    "x9_span_dedup",
    # mitigation (c): same answer as x9, singleton-hash prefilter before
    # the join-back — the slope run also records its join-input reduction
    # at each SF (x9_prefilter_reduction below)
    "x9_span_dedup_prefiltered",
    "v1_cosine_topk",
    "v11_pq_topk",
    "v13_ivfpq_topk",
    "t9_unigram_logprob",
    "v17_encoding_recall",
    "v18_ivfpq_nprobe_sweep",
    "v21_tivfpq_topk",
    # r12: the iterative family — 3 damped PageRank rounds over the trade
    # graph; the matched 10x corpus synthesizes key-offset orders/lineitem
    # replicas (nodes AND edges x10), so the slope measures edge-volume
    # scaling of the join+agg iteration, not a degenerate constant graph
    "x10_link_pagerank",
    # r14: the filtered serving tier — v27 fixed-nprobe label-filtered
    # search and v29's adaptive per-label probe dispatch — so the
    # predicate axis carries the same crossover evidence as the rest of
    # the v-family (both flat vs the oracle's 0.6-0.8 exponents; Spark
    # wins 10x / 7.8x at the 10x corpus point)
    "v27_filtered_tivf_topk",
    "v29_adaptive_filtered_topk",
    # r15: direct rows for the queries the r14 borderline sweep covered
    # only by family proxy (r14 verdict item 1 — >2x floor-adjusted at
    # >=0.15s oracle minimum on the recorded BENCH_full).  d12_lag is
    # events-family and measures in the time-family section instead.
    "d10_rank_dense_ntile",
    "p1_corpus_prep",
    "t3_lang_id",
    "t6_vocab_topk",
    "t10_gopher_rules",
    "p8_domain_mix",
    "p9_temperature_mix",
    "v5_ivf_topk",
)
SF_LO = os.environ.get("SLOPE_SF_LO", "/root/testdata/sf0.01")
SF_HI = os.environ.get("SLOPE_SF_HI", "/root/testdata/sf0.1")
# the synthesized 10x-sf0.1 point; regenerated if absent
SF_XHI = os.environ.get("SLOPE_SF_XHI", "/tmp/fifteenmc_sf1_synth")
SYNTH_FACTOR = 10
WATCH = 0.9
SUPERLINEAR = 1.1


def _replicate_keyed(table, offsets: dict, factor: int):
    """``factor`` key-offset replicas of a pyarrow table: replica r shifts
    each column in ``offsets`` by r*stride.  Pure-pyarrow so every non-key
    column (dates, decimals, strings) keeps its EXACT parquet type — a
    pandas roundtrip would e.g. widen DATE to TIMESTAMP and break
    read_table's schema contract on the synth corpora.  Shared by the
    trade-table decade (x10) and the events decade (d26/d27/d19/d28)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    reps = []
    for r in range(factor):
        t = table
        for col, stride in offsets.items():
            idx = t.schema.get_field_index(col)
            shifted = pc.add(t.column(col), pa.scalar(r * stride, pa.int64()))
            t = t.set_column(idx, t.schema.field(idx), shifted.cast(t.schema.field(idx).type))
        reps.append(t)
    return pa.concat_tables(reps)


def synth_10x(
    src_dir: str, out_dir: str, factor: int = SYNTH_FACTOR, vocab: str = "matched"
) -> str:
    """Synthesize a ``factor``-x documents+embeddings corpus into
    ``out_dir``, distribution-matched to ``src_dir``'s tables, and
    symlink the remaining tables from ``src_dir``.  Deterministic
    (seed=42); idempotent (skips if the marker file matches the source
    fingerprint).

    ``vocab`` picks the word-draw model:
    - "matched" (default, the slope's corpus-faithful decade): words
      drawn frequency-weighted from the concatenated source token
      stream.  The source vocabulary is BOUNDED, so a matched decade
      saturates the 3-gram shingle space — shingle df GROWS with the
      corpus (measured 10x: max_df 139, high_frac 0.997).  This is the
      x5 adversary, and it is the truth of this corpus family, not an
      artifact.
    - "natural" (the x5 family's non-adversarial shape): vocabulary
      GROWS with the corpus (Heaps' law, V ~ V0 * factor^0.5) under a
      Zipf(1) frequency profile; doc-length/lang/source/dup profiles
      stay matched.  Shingle df stays bounded as the corpus grows —
      the shape real text corpora follow, separating "the corpus is
      the adversary" from "the plan is superlinear"."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    # Marker embeds a fingerprint of the SOURCE tables (size+mtime of the
    # two synthesized inputs, plus the factor and a method version): a
    # regenerated sf0.1 testdata invalidates the cached synth corpus
    # instead of being silently reused (r11 ADVICE).
    # Trade tables (orders/lineitem) are synthesized ONLY for the slope's
    # default matched-10x corpus — x10's decade — so the x5 shape corpora
    # (matched-30/natural/sparse) keep their cached v2 markers untouched.
    trade = vocab == "matched" and factor == SYNTH_FACTOR

    def _fingerprint() -> str:
        parts = [f"factor={factor}", f"method=freqweighted-v2:{vocab}"]
        tables = ("documents", "embeddings") + (("orders", "lineitem") if trade else ())
        if trade:
            parts.append("trade=keyoffset-v1")
        for t in tables:
            st = os.stat(os.path.join(src_dir, f"{t}.parquet"))
            parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
        return "\n".join(parts) + "\n"

    marker = os.path.join(out_dir, f".synth_{factor}x_ok")
    fp = _fingerprint()
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fp:
                return out_dir
        # stale: wipe the cached corpus (symlinks included) and regenerate
        for name in os.listdir(out_dir):
            os.remove(os.path.join(out_dir, name))
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(42)

    docs = pq.read_table(os.path.join(src_dir, "documents.parquet")).to_pandas()
    lens = docs["text"].str.split().str.len().to_numpy()
    n = len(docs) * factor
    out_lens = rng.choice(lens, size=n)
    if vocab == "matched":
        # Draw words FREQUENCY-WEIGHTED from the concatenated source
        # token stream, not uniformly from the vocab set: the shingle df
        # profile is the exact statistic the x5/x3/x9 slope points and
        # the X5_HIGH_DF_FRAC dispatch threshold are calibrated on, and
        # a uniform draw makes every shingle common, an adversarial
        # synthesis artifact rather than a matched decade (r11 ADVICE).
        token_stream = np.concatenate([t.split() for t in docs["text"] if t])
    elif vocab == "natural":
        v_src = len({w for t in docs["text"] for w in t.split()})
        v = max(v_src, int(round(v_src * factor**0.5)))
        words = np.array([f"w{j:05d}" for j in range(v)])
        p = 1.0 / np.arange(1, v + 1)  # Zipf(1)
        p /= p.sum()
        # a pre-drawn stream keeps the per-doc draw identical in shape
        # to the matched branch (rng.choice over a token array)
        token_stream = rng.choice(words, size=max(1_000_000, int(out_lens.sum()) // 4), p=p)
    else:
        # "sparse": the PLAN-isolation control — uniform draw over a
        # vocabulary that grows LINEARLY with the corpus, so 3-gram
        # shingle df stays ~1 at every scale.  If x5 is superlinear
        # here, the plan is the problem; if it is linear here and
        # superlinear on matched/natural, the df profile (the corpus)
        # is the adversary.
        assert vocab == "sparse", vocab
        v = 3000 * factor
        token_stream = np.array([f"w{j:06d}" for j in range(v)])
    texts = [" ".join(rng.choice(token_stream, size=int(k))) for k in out_lens]
    # plant exact duplicates at the source rate (copies of earlier docs)
    n_dup = max(1, round(docs["text"].duplicated().sum() / len(docs) * n))
    for i in rng.choice(np.arange(1, n), size=n_dup, replace=False):
        texts[int(i)] = texts[int(rng.integers(0, i))]
    doc_tbl = pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(docs["lang"].to_numpy(), size=n), pa.string()),
            "source": pa.array(rng.choice(docs["source"].to_numpy(), size=n), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(doc_tbl, os.path.join(out_dir, "documents.parquet"))

    emb = pq.read_table(os.path.join(src_dir, "embeddings.parquet")).to_pandas()
    mat = np.array([list(v) for v in emb["embedding"]], dtype=np.float64)
    labels = emb["label"].to_numpy()
    m = len(emb) * factor
    out_labels = rng.choice(labels, size=m)  # preserves the label mix
    dim = mat.shape[1]
    vecs = np.empty((m, dim), dtype=np.float64)
    for lb in np.unique(labels):
        mask = out_labels == lb
        mu = mat[labels == lb].mean(axis=0)
        sd = mat[labels == lb].std(axis=0)
        vecs[mask] = rng.normal(mu, sd, size=(int(mask.sum()), dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)  # source is unit-norm
    emb_tbl = pa.table(
        {
            "vec_id": pa.array(range(m), pa.int64()),
            "embedding": pa.array(
                [row.astype(np.float32) for row in vecs], pa.list_(pa.float32())
            ),
            "label": pa.array(out_labels.astype(np.int32), pa.int32()),
        }
    )
    pq.write_table(emb_tbl, os.path.join(out_dir, "embeddings.parquet"))

    if trade:
        # Key-offset replicas: each replica r shifts o_orderkey/l_orderkey,
        # o_custkey and l_suppkey by r*stride, so the trade graph gains
        # 10x nodes AND 10x edges with the source's degree/weight profile
        # (disconnected replicas — PageRank mass stays per-replica, and
        # the slope measures the engine's edge-volume scaling honestly).
        import pyarrow.compute as pc

        def _replicate(table: pa.Table, offsets: dict[str, int]) -> pa.Table:
            return _replicate_keyed(table, offsets, factor)

        ordr = pq.read_table(os.path.join(src_dir, "orders.parquet"))
        li = pq.read_table(os.path.join(src_dir, "lineitem.parquet"))
        ok_stride = int(pc.max(ordr.column("o_orderkey")).as_py()) + 1
        ck_stride = int(pc.max(ordr.column("o_custkey")).as_py()) + 1
        sk_stride = int(pc.max(li.column("l_suppkey")).as_py()) + 1
        pq.write_table(
            _replicate(ordr, {"o_orderkey": ok_stride, "o_custkey": ck_stride}),
            os.path.join(out_dir, "orders.parquet"),
        )
        pq.write_table(
            _replicate(li, {"l_orderkey": ok_stride, "l_suppkey": sk_stride}),
            os.path.join(out_dir, "lineitem.parquet"),
        )

    for t in TABLES:
        if t in ("documents", "embeddings"):
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(src_dir, f"{t}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(fp)
    return out_dir


def synth_events(src_dir: str, out_dir: str, factor: int) -> str:
    """Key-offset events+orders replicas for the time-family slope (d26
    asof / d27 range join): replica ``r`` shifts event_id / o_orderkey by
    their strides and user_id / o_custkey by the SAME customer stride, so
    each replica's events join to its own replica's orders with the
    source's per-key density.  Timestamps are left untouched — the corpus
    grows by USERS, not by per-user event rate, which is how event data
    actually scales (and keeps d27's per-user pair yield constant per
    key, so output volume grows linearly with the corpus).  Deterministic
    and idempotent (fingerprint marker, same discipline as synth_10x);
    the other tables are symlinked from ``src_dir``."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def _fingerprint() -> str:
        parts = [f"factor={factor}", "method=events-keyoffset-v1"]
        for t in ("events", "orders"):
            st = os.stat(os.path.join(src_dir, f"{t}.parquet"))
            parts.append(f"{t}:{st.st_size}:{int(st.st_mtime)}")
        return "\n".join(parts) + "\n"

    marker = os.path.join(out_dir, f".synth_events_{factor}x_ok")
    fp = _fingerprint()
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fp:
                return out_dir
        for name in os.listdir(out_dir):
            os.remove(os.path.join(out_dir, name))
    os.makedirs(out_dir, exist_ok=True)

    def _replicate(table: pa.Table, offsets: dict[str, int]) -> pa.Table:
        return _replicate_keyed(table, offsets, factor)

    ev = pq.read_table(os.path.join(src_dir, "events.parquet"))
    ordr = pq.read_table(os.path.join(src_dir, "orders.parquet"))
    eid_stride = int(pc.max(ev.column("event_id")).as_py()) + 1
    # ONE customer stride for both sides: replica r's user_id space must
    # coincide with replica r's o_custkey space or the d26 join degenerates
    ck_stride = (
        max(
            int(pc.max(ev.column("user_id")).as_py()),
            int(pc.max(ordr.column("o_custkey")).as_py()),
        )
        + 1
    )
    ok_stride = int(pc.max(ordr.column("o_orderkey")).as_py()) + 1
    pq.write_table(
        _replicate(ev, {"event_id": eid_stride, "user_id": ck_stride}),
        os.path.join(out_dir, "events.parquet"),
    )
    pq.write_table(
        _replicate(ordr, {"o_orderkey": ok_stride, "o_custkey": ck_stride}),
        os.path.join(out_dir, "orders.parquet"),
    )
    for t in TABLES:
        if t in ("events", "orders"):
            continue
        dst = os.path.join(out_dir, f"{t}.parquet")
        if not os.path.exists(dst):
            os.symlink(os.path.join(src_dir, f"{t}.parquet"), dst)
    with open(marker, "w") as f:
        f.write(fp)
    return out_dir


def _median(xs):
    import statistics

    return float(statistics.median(xs))


def _warm(spark, sf_dir):
    for t in TABLES:
        read_table(spark, sf_dir, t).count()
    par = spark.sparkContext.defaultParallelism

    def _identity(batches):
        yield from batches

    spark.range(par * 4).repartition(par).mapInPandas(_identity, "id long").write.format(
        "noop"
    ).mode("overwrite").save()
    floor = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(par).repartition(par).write.format("noop").mode("overwrite").save()
        floor = min(floor, time.perf_counter() - t0)
    return floor


def _fit(xs, ys):
    """Least-squares slope of ys over xs (both already log10)."""
    nx = len(xs)
    mx, my = sum(xs) / nx, sum(ys) / nx
    num = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    den = sum((x - mx) ** 2 for x in xs)
    return num / den


def _write(out: dict) -> None:
    with open(
        os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE_SLOPE.json"), "w"
    ) as f:
        json.dump(out, f, indent=1)


def main() -> None:
    import duckdb

    # SLOPE_SHAPES_ONLY=1: keep the existing JSON's 3-point section and
    # re-run only the x5 corpus-shapes section (it iterates faster)
    shapes_only = os.environ.get("SLOPE_SHAPES_ONLY", "0") == "1"
    # SLOPE_QUERIES_FILTER=a,b: re-run only those slope queries and MERGE
    # their rows into the existing JSON (floors re-measured for this run
    # and recorded under partial_update; everything else preserved)
    qfilter = tuple(
        q for q in os.environ.get("SLOPE_QUERIES_FILTER", "").split(",") if q
    )
    names = qfilter or SLOPE_QUERIES
    runs = int(os.environ.get("BENCH_RUNS", "3"))
    sf_dirs = [SF_LO, SF_HI, synth_10x(SF_HI, SF_XHI)]
    log_rows = [0.0, 1.0, 2.0]  # relative corpus size, log10
    spark = get_spark(app_name="fifteenmc-scale-slope")
    out: dict = {
        "metric": "scale_slope",
        "sf_dirs": sf_dirs,
        "method": (
            f"3-point least-squares over log10(t) vs log10(rows); Spark medians "
            f"floor-subtracted (clamped at 1ms) before the fit; median-of-{runs}; "
            "bench noise +-30-40% at these absolute times"
        ),
        "queries": {},
    }
    times: dict[str, dict[str, list[float]]] = {}
    floors: list[float] = []
    prefilter_rows: list[dict] = []

    if shapes_only or qfilter:
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "SCALE_SLOPE.json")
        with open(path) as f:
            out = json.load(f)

    for sf_dir in [] if shapes_only else sf_dirs:
        floor = _warm(spark, sf_dir)
        floors.append(floor)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in names:
            q = QUERIES[name]
            s_samples, d_samples = [], []
            for _ in range(runs):
                t0 = time.perf_counter()
                q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                s_samples.append(time.perf_counter() - t0)
                t0 = time.perf_counter()
                con.execute(q.oracle).fetchall()
                d_samples.append(time.perf_counter() - t0)
            times.setdefault(name, {}).setdefault("spark", []).append(_median(s_samples))
            times[name].setdefault("duck", []).append(_median(d_samples))
        # evidence row for x9 mitigation (c): join-back input reduction at
        # this SF (r11 verdict item 3's "Done" condition for the 10x point)
        if "x9_span_dedup_prefiltered" in names:
            from fifteenmc_spark.operators.dedup import x9_prefilter_reduction

            prefilter_rows.append({"sf_dir": sf_dir} | x9_prefilter_reduction(spark, sf_dir))
    if not shapes_only and not qfilter:
        out["action_floor_s"] = [round(f, 4) for f in floors]
        out["x9_prefilter_reduction"] = prefilter_rows
    elif qfilter:
        out["partial_update"] = {
            "queries": list(names),
            "action_floor_s": [round(f, 4) for f in floors],
        }
        if prefilter_rows:
            # the reduction evidence was re-measured this run — replace the
            # stale artifact rows rather than discarding minutes of work
            out["x9_prefilter_reduction"] = prefilter_rows

    watch, superlinear = [], []
    for name in [] if shapes_only else names:
        s = times[name]["spark"]
        d = times[name]["duck"]
        s_adj = [max(t - f, 1e-3) for t, f in zip(s, floors)]
        bs = _fit(log_rows, [math.log10(t) for t in s_adj])
        bd = _fit(log_rows, [math.log10(t) for t in d])
        # per-segment slopes too: the least-squares fit averages a
        # floor-flat first decade against the tail, and the TAIL segment
        # is the one that predicts the next decade — a family can fit
        # b=0.75 overall while its last segment is already superlinear
        seg_s = [
            round(math.log10(s_adj[i + 1] / s_adj[i]), 3) for i in range(len(s_adj) - 1)
        ]
        seg_d = [round(math.log10(d[i + 1] / d[i]), 3) for i in range(len(d) - 1)]
        out["queries"][name] = {
            "spark_s": [round(t, 4) for t in s],
            "duckdb_s": [round(t, 4) for t in d],
            "spark_exponent": round(bs, 3),
            "duckdb_exponent": round(bd, 3),
            "spark_segment_exponents": seg_s,
            "duckdb_segment_exponents": seg_d,
        }
        worst = max(bs, seg_s[-1])  # fitted or tail, whichever is worse
        if worst > SUPERLINEAR:
            superlinear.append(name)
        elif worst > WATCH:
            watch.append(name)
    if not shapes_only:
        if qfilter:
            # recompute the classification over ALL stored rows (merged
            # artifact), not just the re-run subset
            superlinear, watch = [], []
            for name, row in out["queries"].items():
                worst = max(row["spark_exponent"], row["spark_segment_exponents"][-1])
                if worst > SUPERLINEAR:
                    superlinear.append(name)
                elif worst > WATCH:
                    watch.append(name)
        out["superlinear_spark"] = superlinear
        out["watch_spark"] = watch
    _write(out)  # persist the 3-point result BEFORE the shapes section

    # --- x5 fourth point + corpus-shape adjudication (r11 verdict 7/8) ---
    # The only Spark family whose curve bends is x5; two questions:
    # (7) does a prefix-join plan flatten the 10x point?  MEASURED NO —
    #     prefix-filtered 522.8 s vs plain 33.1 s on the matched 10x
    #     corpus (every prefix entry is high-df when the shingle space is
    #     saturated, so the prefix self-join inherits the df² blowup);
    #     recorded here as the refutation, plain stays the dispatch.
    # (8) is the 1.41 tail the CORPUS or the PLAN?  Measure x5/x5_capped
    #     at 10x and 30x on BOTH corpus shapes: "matched" (bounded vocab
    #     — faithful to this corpus family, saturates shingle df) and
    #     "natural" (Heaps-law vocab growth + Zipf(1) — the shape real
    #     text follows, bounded shingle df).  Spark-only, runs=1, shingle
    #     feed warmed before timing (this measures the pair join, not the
    #     tokenizer); SLOPE_X5_SHAPES=0 skips.
    if os.environ.get("SLOPE_X5_SHAPES", "1") != "0" and not qfilter:
        from fifteenmc_spark.operators.dedup import X5_MAX_DF, _df_stats, shingle_index

        volume_bound = int(os.environ.get("SLOPE_X5_VOLUME_BOUND", 1_500_000_000))
        shapes: dict = {
            "method": (
                "x5/x5_capped at 10x/30x on THREE corpus shapes: matched "
                "(bounded-vocab — faithful to this corpus family, shingle df "
                "saturates), natural (Heaps-law vocab + Zipf(1) head), and "
                "sparse (uniform over a linearly-growing vocab, df stays ~1 — "
                "the PLAN-isolation control).  Spark-only, runs=1 (read "
                "timings with run-noise error bars), warm shingle feed; "
                "segment exponent = log10(t30/t10)/log10(3); points with "
                f"projected pair-join volume sum(df^2) > {volume_bound:.1e} rows "
                "are refused with the premise stat (the 30x-matched point needs "
                "SPARK_DRIVER_MEM=48g — it OOMs an 8g session); prefix-join "
                "plan refuted at 10x-matched: 522.8s vs 33.1s plain.  Reading: "
                "sparse is FLAT (floor-bound) while matched/natural grow with "
                "sum(df^2) — the exact join is linear when df is bounded; the "
                "df profile (the corpus), not the plan, is the adversary, and "
                "the engine's scale paths there are the content-keyed sample / "
                "df-capped dispatch"
            ),
        }
        for shape in ("matched", "natural", "sparse"):
            srows: dict = {}
            for fac in (10, 30):
                sf_dir = (
                    SF_XHI
                    if (shape == "matched" and fac == SYNTH_FACTOR)
                    else f"{SF_XHI}_{shape[0]}{fac}"
                )
                synth_10x(SF_HI, sf_dir, factor=fac, vocab=shape)
                ex = shingle_index(spark, sf_dir)
                ex.count()  # warm the shared feed
                mx, hf = _df_stats(spark, sf_dir, X5_MAX_DF)
                # projected exact pair-join volume ~ sum(df^2): the first
                # 30x-matched attempt OOM'd the local JVM, so a point whose
                # volume exceeds the bound is recorded as a REFUSAL with the
                # premise stat — at that shape/scale the engine's paths are
                # the content-keyed sample or sharded joins, not exact x5
                from pyspark.sql import functions as Fx

                vol = int(
                    ex.groupBy("s")
                    .agg(Fx.count(Fx.lit(1)).alias("df"))
                    .agg(Fx.sum(Fx.col("df") * Fx.col("df")))
                    .first()[0]
                )
                row: dict = {
                    "max_df": int(mx),
                    "high_frac": round(hf, 4),
                    "sum_df2": vol,
                }
                if vol > volume_bound:
                    row["refused"] = (
                        f"projected pair-join volume {vol:.2e} rows exceeds the "
                        f"{volume_bound:.1e} local bound — exact x5 infeasible at "
                        "this shape/scale; the engine's paths there are the "
                        "content-keyed sample / capped-dispatch, not the exact join"
                    )
                else:
                    for name in ("x5_ngram_jaccard", "x5_ngram_jaccard_capped"):
                        t0 = time.perf_counter()
                        QUERIES[name].build(spark, sf_dir).write.format("noop").mode(
                            "overwrite"
                        ).save()
                        row[name] = round(time.perf_counter() - t0, 1)
                srows[f"{fac}x"] = row
            for name in ("x5_ngram_jaccard", "x5_ngram_jaccard_capped"):
                if name in srows["10x"] and name in srows["30x"]:
                    srows[f"{name}_exponent_10_30"] = round(
                        math.log10(
                            max(srows["30x"][name], 1e-3) / max(srows["10x"][name], 1e-3)
                        )
                        / math.log10(3),
                        3,
                    )
            shapes[shape] = srows
        out["x5_corpus_shapes"] = shapes
        _write(out)  # persist x5 shapes before the x9 section

    # --- x9 10x/30x shape points (r12 verdict item 8, measured AFTER the
    # r13 narrow-key rework: 60-bit shuffle key + structural bucket-Bloom
    # prefilter + wide kernel).  The r12 question was whether the rework
    # pulls the Spark-vs-oracle crossover inside the measured range — so
    # BOTH engines are timed, on the matched (bounded-vocab, dup-heavy)
    # and natural (Heaps-law vocab) corpus shapes, one warm pass then one
    # timed run per point (read with run-noise error bars, like the x5
    # section).  SLOPE_X9_SHAPES=0 skips.
    if os.environ.get("SLOPE_X9_SHAPES", "1") != "0" and not qfilter:
        x9_names = ("x9_span_dedup", "x9_span_dedup_prefiltered")
        x9s: dict = {
            "method": (
                "x9/x9_prefiltered at 10x/30x on matched + natural corpus "
                "shapes, Spark AND DuckDB, warm pass then runs=1; segment "
                "exponent = log10(t30/t10)/log10(3); measured after the r13 "
                "narrow-key rework (the r12 verdict's one perf-weak family)"
            ),
        }
        for shape in ("matched", "natural"):
            srows = {}
            for fac in (10, 30):
                sf_dir = (
                    SF_XHI
                    if (shape == "matched" and fac == SYNTH_FACTOR)
                    else f"{SF_XHI}_{shape[0]}{fac}"
                )
                synth_10x(SF_HI, sf_dir, factor=fac, vocab=shape)
                con2 = duckdb.connect()
                con2.execute(
                    "CREATE VIEW documents AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/documents.parquet')"
                )
                row: dict = {}
                for name in x9_names:
                    q = QUERIES[name]
                    q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    t0 = time.perf_counter()
                    q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    row[name] = round(time.perf_counter() - t0, 2)
                    con2.execute(q.oracle).fetchall()
                    t0 = time.perf_counter()
                    con2.execute(q.oracle).fetchall()
                    row[f"duckdb_{name}"] = round(time.perf_counter() - t0, 2)
                con2.close()
                srows[f"{fac}x"] = row
            for name in x9_names:
                for side in ("", "duckdb_"):
                    srows[f"{side}{name}_exponent_10_30"] = round(
                        math.log10(
                            max(srows["30x"][f"{side}{name}"], 1e-3)
                            / max(srows["10x"][f"{side}{name}"], 1e-3)
                        )
                        / math.log10(3),
                        3,
                    )
            x9s[shape] = srows
        out["x9_shape_points"] = x9s
        _write(out)  # persist x9 before the time-family section

    # --- d26/d27 time-family points (r13 verdict item 1: the two heaviest
    # relational queries without crossover evidence).  Events+orders scaled
    # 10x/30x by key-offset replicas (more users, constant per-user
    # density — see synth_events); BOTH engines timed at 1x/10x/30x.  The
    # hypothesis under test: d26's union-tag single-shuffle plan and
    # d27's bucketed interval join are the scale-right shapes, while the
    # oracle's LATERAL per-row top-1 (d26) and raw inequality join (d27)
    # grow faster — so the sf0.1 ratios (2.5x / 14x) are constants, not
    # slopes, and the crossover lands inside the measured range.  Warm
    # pass then runs=1 per point (read with run-noise error bars, like
    # the shape sections).  SLOPE_TIME_FAMILY=0 skips.
    if os.environ.get("SLOPE_TIME_FAMILY", "1") != "0" and not qfilter:
        # d19/d28 joined in r14's second pass: the remaining heavy
        # events-family shapes (tumbling-window agg; two-window-pass
        # sessionization) — same decades, same engines, so the WHOLE
        # time family carries crossover evidence
        # r14 third pass: every remaining events-family query whose bench
        # ratio is >2x at meaningful oracle time — range-frame window,
        # first-occurrence dedup, and the salted skew join (its customer
        # dim stays fixed while users grow, the realistic new-users
        # shape; the fact-side shuffle is the cost being measured)
        t_names = (
            "d26_asof_join", "d27_range_join", "d19_tumbling_window",
            "d28_sessionize", "d11_range_frame", "d23_first_occurrence",
            "d30_salted_join",
            # r15: the last events-family query with only a proxy row —
            # LAG over (user_id, ts) windows (r14 verdict item 1)
            "d12_lag",
        )
        # SLOPE_TIME_FAMILY_FILTER=a,b: re-measure only those queries and
        # MERGE their points/exponents into the existing time_family_points
        # (same contract as SLOPE_QUERIES_FILTER for the 3-point section)
        tf_filter = tuple(
            q
            for q in os.environ.get("SLOPE_TIME_FAMILY_FILTER", "").split(",")
            if q
        )
        if tf_filter:
            t_names = tuple(n for n in t_names if n in tf_filter)
        tfam: dict = {
            "method": (
                "d26/d27/d19/d28 at 1x (sf0.1) / 10x / 30x / 100x key-offset "
                "events+orders replicas (more users, constant per-user "
                "density), Spark AND DuckDB, warm pass then runs=1; exponent "
                "= least-squares log-log slope over all points (Spark "
                "floor-subtracted)"
            ),
        }
        tf_dirs = {
            1: SF_HI,
            10: "/tmp/fifteenmc_events_10x",
            30: "/tmp/fifteenmc_events_30x",
            # the 4th point exists because at 30x the d27 exponents cross
            # (Spark 0.47 vs DuckDB 0.83) but the absolute times had not
            # yet — one more decade pins the crossover itself
            100: "/tmp/fifteenmc_events_100x",
        }
        tf_times: dict[str, dict[str, list[float]]] = {
            n: {"spark": [], "duck": []} for n in t_names
        }
        tf_floors: list[float] = []
        for fac, sf_dir in tf_dirs.items():
            if fac != 1:
                synth_events(SF_HI, sf_dir, fac)
            tf_floors.append(_warm(spark, sf_dir))
            con3 = duckdb.connect()
            # every table: the synth dirs symlink the non-scaled ones, and
            # d30 joins the (fixed) customer dim
            for t in TABLES:
                con3.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
                )
            row: dict = {}
            for name in t_names:
                q = QUERIES[name]
                q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                t0 = time.perf_counter()
                q.build(spark, sf_dir).write.format("noop").mode("overwrite").save()
                s = time.perf_counter() - t0
                con3.execute(q.oracle).fetchall()
                t0 = time.perf_counter()
                con3.execute(q.oracle).fetchall()
                d = time.perf_counter() - t0
                tf_times[name]["spark"].append(s)
                tf_times[name]["duck"].append(d)
                row[name] = round(s, 2)
                row[f"duckdb_{name}"] = round(d, 2)
            con3.close()
            tfam[f"{fac}x"] = row
        tf_logx = [math.log10(f) for f in tf_dirs]
        for name in t_names:
            s_adj = [
                max(t - f, 1e-3) for t, f in zip(tf_times[name]["spark"], tf_floors)
            ]
            tfam[f"{name}_spark_exponent"] = round(
                _fit(tf_logx, [math.log10(t) for t in s_adj]), 3
            )
            tfam[f"{name}_duckdb_exponent"] = round(
                _fit(tf_logx, [math.log10(t) for t in tf_times[name]["duck"]]), 3
            )
        tfam["action_floor_s"] = [round(f, 4) for f in tf_floors]
        if tf_filter and "time_family_points" in out:
            # merge: keep every other query's points/exponents; replace
            # the re-measured ones and record the partial's floors
            merged = out["time_family_points"]
            for fac in tf_dirs:
                merged.setdefault(f"{fac}x", {}).update(tfam[f"{fac}x"])
            for name in t_names:
                merged[f"{name}_spark_exponent"] = tfam[f"{name}_spark_exponent"]
                merged[f"{name}_duckdb_exponent"] = tfam[f"{name}_duckdb_exponent"]
            merged["partial_update"] = {
                "queries": list(t_names),
                "action_floor_s": tfam["action_floor_s"],
            }
        else:
            out["time_family_points"] = tfam
        _write(out)  # persist before the geo-core section

    # --- g2/g3 geo compute core (r13 verdict item 4: the one operator
    # family where "would it survive 100x" was still an argument, not a
    # number).  All inputs are range()-generated (the g-query discipline),
    # scaled by a factor with CONSTANT density: the lattice spacing, edge
    # weights, and reach limit never change — the graph grows by AREA and
    # the seed count grows with it, which is how a planet-scale road graph
    # actually scales.  SLOPE_GEO_CORE=0 skips.
    if os.environ.get("SLOPE_GEO_CORE", "1") != "0" and not qfilter:
        from pyspark.sql import functions as F

        from fifteenmc_spark.plans import reach as reach_mod
        from fifteenmc_spark.plans import snap as snap_mod

        # inputs are range()-generated — no tables to warm; measure the
        # noop action floor only (the same probe _warm ends with)
        par = spark.sparkContext.defaultParallelism
        geo_floor = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(par).repartition(par).write.format("noop").mode(
                "overwrite"
            ).save()
            geo_floor = min(geo_floor, time.perf_counter() - t0)
        # merge-by-default: SLOPE_GEO_G2=0 / SLOPE_GEO_G3=0 skip one
        # half and keep the other's existing artifact rows (r15: g3
        # extends to 300x without re-paying g2's 100x cross-join oracle)
        geo: dict = dict(out.get("geo_core_points") or {})
        geo["action_floor_s"] = round(geo_floor, 4)

        # g2 snap: bucketed kNN(k=1) join vs DuckDB's exact cross-join
        # argmin.  Node lattice grows by area (k = 20*sqrt(f), so nodes =
        # 400f) and the point count by f; both engines produce identical
        # rounded rows (asserted per point).  The oracle's pair volume is
        # (400f)(60f) ~ f^2 — the shape that dies at scale; the bucketed
        # join's candidate volume is f * ring-occupancy ~ f.
        if os.environ.get("SLOPE_GEO_G2", "1") != "0":
            g2rows: dict = {"method": (
                "bucketed snap vs exact cross-join argmin at f=1/10/30/100 "
                "(nodes=400f area-scaled, points=60f, constant density); rows "
                "value-compared per point; Spark floor-subtracted exponent "
                "over log10(f)"
            )}
            g2_s, g2_d, g2_logf = [], [], []
            for f in (1, 10, 30, 100):
                k = int(round(20 * f**0.5))
                npts = 60 * f
                i = F.col("id")
                nodes = spark.range(k * k).select(
                    i.cast("int").alias("node_idx"),
                    (F.lit(18.60) + (i % k).cast("double") * 0.001).alias("lon"),
                    (F.lit(54.35) + F.floor(i / k).cast("double") * 0.0006).alias("lat"),
                )
                pts = spark.range(npts).select(
                    i.cast("int").alias("point_id"),
                    (F.lit(18.60) + (((i * 37 + 11) % 1933).cast("double") / 1933.0)
                     * (k * 0.001 - 0.001)).alias("lon"),
                    (F.lit(54.35) + (((i * 53 + 29) % 1811).cast("double") / 1811.0)
                     * (k * 0.0006 - 0.0006)).alias("lat"),
                )

                def g2_df():
                    return (
                        snap_mod.snap_points_to_nodes(pts, nodes, point_id_col="point_id")
                        .select(
                            "point_id", "node_idx",
                            # 2 decimals: snap distances are float32 (the J2
                            # contract) and the float64 oracle differs in the
                            # 4th decimal on ~0.5% of rows — winners identical
                            F.round(F.col("dist_to_node_m").cast("double"), 2).alias("d"),
                        )
                        .orderBy("point_id")
                    )

                mx = "(6378137.0 * RADIANS({lon}))"
                my = "(6378137.0 * LN(TAN(PI() / 4.0 + RADIANS({lat}) / 2.0)))"
                sql = f"""
                    WITH nodes AS (
                      SELECT CAST(range AS INT) AS node_idx,
                             18.60 + CAST(range % {k} AS DOUBLE) * 0.001 AS lon,
                             54.35 + CAST(range // {k} AS DOUBLE) * 0.0006 AS lat
                      FROM range(0, {k * k})),
                    pts AS (
                      SELECT CAST(range AS INT) AS point_id,
                             18.60 + (CAST((range * 37 + 11) % 1933 AS DOUBLE) / 1933.0)
                                 * {k * 0.001 - 0.001!r} AS lon,
                             54.35 + (CAST((range * 53 + 29) % 1811 AS DOUBLE) / 1811.0)
                                 * {k * 0.0006 - 0.0006!r} AS lat
                      FROM range(0, {npts})),
                    scored AS (
                      SELECT p.point_id, n.node_idx,
                             SQRT(POW({mx.format(lon="p.lon")} - {mx.format(lon="n.lon")}, 2)
                                + POW({my.format(lat="p.lat")} - {my.format(lat="n.lat")}, 2)) AS d
                      FROM pts p CROSS JOIN nodes n),
                    best AS (
                      SELECT point_id, node_idx, d,
                             ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY d, node_idx) AS rn
                      FROM scored)
                    SELECT point_id, node_idx, ROUND(d, 2) AS d
                    FROM best WHERE rn = 1 ORDER BY point_id
                    """
                con4 = duckdb.connect()
                got = [(r["point_id"], r["node_idx"], r["d"]) for r in g2_df().collect()]
                ora = [tuple(r) for r in con4.execute(sql).fetchall()]
                # winners must match exactly; distances within 1 cm (the snap
                # contract stores float32, and the oracle's POW vs the plan's
                # x*x differ in the last ulp — rounding both sides still flips
                # at .xx5 boundaries, so the compare is tolerance, not ROUND)
                assert len(got) == len(ora), f"g2 f={f}: row counts differ"
                # <= 0.011: both sides are ALREADY rounded to 2 decimals, so
                # a .xx5 rounding flip yields a diff of exactly ~0.01 (plus
                # float representation error) — a strict < 0.01 would abort
                # the run on the very case the tolerance exists for
                for (gp, gn, gd), (op_, on_, od) in zip(got, ora):
                    assert gp == op_ and gn == on_ and abs(gd - od) <= 0.011, (
                        f"g2 f={f}: {(gp, gn, gd)} vs {(op_, on_, od)}"
                    )
                g2_df().write.format("noop").mode("overwrite").save()  # warm
                t0 = time.perf_counter()
                g2_df().write.format("noop").mode("overwrite").save()
                s = time.perf_counter() - t0
                con4.execute(sql).fetchall()
                t0 = time.perf_counter()
                con4.execute(sql).fetchall()
                d = time.perf_counter() - t0
                con4.close()
                g2rows[f"{f}x"] = {"spark": round(s, 3), "duckdb": round(d, 3),
                                   "nodes": k * k, "points": npts}
                g2_s.append(max(s - geo_floor, 1e-3))
                g2_d.append(d)
                g2_logf.append(math.log10(f))
            g2rows["spark_exponent"] = round(_fit(g2_logf, [math.log10(t) for t in g2_s]), 3)
            g2rows["duckdb_exponent"] = round(_fit(g2_logf, [math.log10(t) for t in g2_d]), 3)
            geo["g2_snap"] = g2rows
            _write(out | {"geo_core_points": geo})

        # g3 bounded reach on an L x L 4-neighbor lattice: the frontier
        # loop (forced) vs the engine's auto dispatch vs the reference's
        # own single-node shape (in-process heapq Dijkstra) vs the DuckDB
        # recursive-CTE oracle.  The CTE enumerates bounded WALKS — on a
        # cyclic lattice that is ~4^hops per seed regardless of graph
        # size, the per-seed constant the Dijkstra families don't pay.
        # Rows value-compared per point (spark auto vs CTE min).
        if os.environ.get("SLOPE_GEO_G3", "1") != "0":
            g3rows: dict = {"method": (
                "L x L lattice (L = 64*sqrt(f): nodes=4096f area-scaled) at "
                "f=1/10/30/100/300, seeds = 8f, edge weights 95-107 m, limit "
                "600 m (fixed reach radius ~6 hops).  Columns: spark_auto (the engine's dispatch "
                "— local single-task heap at/below 150k edges, frontier loop "
                "above), spark_frontier (forced loop), python_heapq (the "
                "reference's single-node shape, in-process), duckdb_cte "
                "(recursive walk enumeration + per-node min)"
            )}
            g3_cols: dict[str, list[float]] = {
                "spark_auto": [], "spark_frontier": [], "python_heapq": [], "duckdb_cte": []
            }
            g3_logf = []
            LIMIT = 600.0
            # r15 (r14 verdict item 4): the r14 run stopped at 30x and
            # extrapolated the ~135x crossover vs the reference heapq
            # shape; 100x/300x land it inside the measured range
            # (SLOPE_G3_FACTORS overrides, e.g. a quick 1,10 smoke)
            g3_factors = tuple(
                int(x)
                for x in os.environ.get(
                    "SLOPE_G3_FACTORS", "1,10,30,100,300"
                ).split(",")
            )
            for f in g3_factors:
                L = int(round(64 * f**0.5))
                n_seeds = 8 * f
                i = F.col("id")
                dirs = F.array(
                    *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                      for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1))]
                )
                base = spark.range(L * L).select(
                    i.cast("int").alias("src"),
                    (i % L).cast("int").alias("cx"),
                    F.floor(i / L).cast("int").alias("cy"),
                    F.explode(dirs).alias("o"),
                )
                edges = (
                    base.where(
                        F.col("cx") + F.col("o.dx") >= 0)
                    .where(F.col("cx") + F.col("o.dx") < L)
                    .where(F.col("cy") + F.col("o.dy") >= 0)
                    .where(F.col("cy") + F.col("o.dy") < L)
                    .select(
                        "src",
                        ((F.col("cy") + F.col("o.dy")) * L + F.col("cx") + F.col("o.dx"))
                        .cast("int").alias("dst"),
                    )
                    .select(
                        "src", "dst",
                        (F.lit(95.0)
                         + ((F.col("src") * 7 + F.col("dst") * 11) % 13).cast("double"))
                        .alias("w"),
                    )
                )
                seeds = spark.range(n_seeds).select(
                    ((i * 2654435761) % (L * L)).cast("int").alias("node_idx"),
                    F.lit("c").alias("category"),
                    (F.lit(1000) + i).cast("bigint").alias("poi_id"),
                )
                sql = f"""
                    WITH RECURSIVE dirs(dx, dy) AS (VALUES (1,0),(-1,0),(0,1),(0,-1)),
                    e AS (
                      SELECT CAST(n.range AS INT) AS src,
                             CAST((n.range // {L} + dy) * {L} + (n.range % {L} + dx) AS INT) AS dst
                      FROM range(0, {L * L}) n CROSS JOIN dirs
                      WHERE n.range % {L} + dx BETWEEN 0 AND {L - 1}
                        AND n.range // {L} + dy BETWEEN 0 AND {L - 1}),
                    ew AS (SELECT src, dst,
                                  95.0 + CAST((src * 7 + dst * 11) % 13 AS DOUBLE) AS w
                           FROM e),
                    sp(node_idx, dist_m, poi_id) AS (
                      SELECT CAST((range * 2654435761) % {L * L} AS INT),
                             CAST(0.0 AS DOUBLE), CAST(1000 + range AS BIGINT)
                      FROM range(0, {n_seeds})
                      UNION ALL
                      SELECT ew.dst, sp.dist_m + ew.w, sp.poi_id
                      FROM sp JOIN ew ON ew.src = sp.node_idx
                      WHERE sp.dist_m + ew.w <= {LIMIT}),
                    best AS (
                      SELECT node_idx, dist_m, poi_id,
                             ROW_NUMBER() OVER (PARTITION BY node_idx
                                                ORDER BY dist_m, poi_id) AS rn
                      FROM sp)
                    SELECT node_idx, ROUND(dist_m, 4) AS dist_m, poi_id
                    FROM best WHERE rn = 1 ORDER BY node_idx
                    """

                def g3_df(strategy):
                    # "frontier" forces the distributed side of the size
                    # dispatch; "auto" leaves it to the edge count
                    threshold = reach_mod.LOCAL_EDGE_THRESHOLD
                    if strategy == "frontier":
                        reach_mod.LOCAL_EDGE_THRESHOLD = -1
                    try:
                        sp = reach_mod.shortest_paths_bounded(edges, seeds, limit_m=LIMIT)
                    finally:
                        reach_mod.LOCAL_EDGE_THRESHOLD = threshold
                    return (
                        sp.select(
                            "node_idx", F.round(F.col("dist_m"), 4).alias("dist_m"), "poi_id"
                        )
                        .localCheckpoint(eager=False)
                        .orderBy("node_idx")
                    )

                def heapq_solve():
                    import heapq

                    adj: dict = {}
                    for cy in range(L):
                        for cx in range(L):
                            src = cy * L + cx
                            lst = []
                            for dx, dy in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                                nx2, ny2 = cx + dx, cy + dy
                                if 0 <= nx2 < L and 0 <= ny2 < L:
                                    dst = ny2 * L + nx2
                                    lst.append((dst, 95.0 + (src * 7 + dst * 11) % 13))
                            adj[src] = lst
                    state: dict = {}
                    heap: list = []
                    for s_i in range(n_seeds):
                        node = (s_i * 2654435761) % (L * L)
                        cand = (0.0, 1000 + s_i)
                        if node not in state or cand < state[node]:
                            state[node] = cand
                            heapq.heappush(heap, (0.0, 1000 + s_i, node))
                    while heap:
                        d, p, node = heapq.heappop(heap)
                        if state.get(node) != (d, p):
                            continue
                        for dst, w in adj[node]:
                            nd = d + w
                            if nd > LIMIT:
                                continue
                            cand = (nd, p)
                            if dst not in state or cand < state[dst]:
                                state[dst] = cand
                                heapq.heappush(heap, (nd, p, dst))
                    return sorted(
                        (n, round(dv[0], 4), dv[1]) for n, dv in state.items()
                    )

                con5 = duckdb.connect()
                got = [(r["node_idx"], r["dist_m"], r["poi_id"])
                       for r in g3_df("auto").collect()]
                ora = [tuple(r) for r in con5.execute(sql).fetchall()]
                hpq = heapq_solve()
                assert got == ora == hpq, f"g3 f={f}: engines disagree"
                row: dict = {"nodes": L * L, "seeds": n_seeds, "reach_rows": len(got)}
                for col, runner in (
                    ("spark_auto", lambda: g3_df("auto").write.format("noop")
                     .mode("overwrite").save()),
                    ("spark_frontier", lambda: g3_df("frontier").write.format("noop")
                     .mode("overwrite").save()),
                    ("python_heapq", heapq_solve),
                    ("duckdb_cte", lambda: con5.execute(sql).fetchall()),
                ):
                    runner()  # warm
                    t0 = time.perf_counter()
                    runner()
                    t = time.perf_counter() - t0
                    row[col] = round(t, 3)
                    g3_cols[col].append(
                        max(t - geo_floor, 1e-3) if col.startswith("spark") else max(t, 1e-3)
                    )
                con5.close()
                g3rows[f"{f}x"] = row
                g3_logf.append(math.log10(f))
            for col, ts in g3_cols.items():
                g3rows[f"{col}_exponent"] = round(
                    _fit(g3_logf, [math.log10(t) for t in ts]), 3
                )
            geo["g3_lattice"] = g3rows
        out["geo_core_points"] = geo
        _write(out)  # persist before the ncells section

    # --- ncells capacity axis on a grown corpus (r13 verdict item 5).
    # The declared v24 sweep ends at 32 cells because the driver eval
    # corpora (500-2000 vectors) starve a 64-cell quantizer (sqrt(N)
    # sizing: ~22-45 cells); the matched 10x synth corpus has 20,000
    # vectors (sqrt = 141), so 64 AND 128 cells are supportable there.
    # This section resumes the axis on that corpus: v24-shape membership
    # recall at ncells 16/32/64/128 with nprobe = ncells/4 (constant 25%
    # scan), serving-query wall time per layout (the cost side — constant
    # scan means it should stay flat), and the composed v21-shape
    # strictly-no-worse gate 32 vs 64 — the same adjudication that
    # flipped 8->16->32.  The SERVING default stays corpus-sized: it
    # serves the declared corpora, where 64 cells still starves; this
    # row is the measured evidence for the flip the day the eval corpus
    # grows.  SLOPE_NCELLS_AXIS=0 skips.
    if os.environ.get("SLOPE_NCELLS_AXIS", "1") != "0" and not qfilter:
        from pyspark.sql import functions as Fn

        from fifteenmc_spark.operators import similarity as S

        sf_dir = synth_10x(SF_HI, SF_XHI)
        _warm(spark, sf_dir)
        # measurement-local seed pool: the first 32 ids ARE the declared
        # pool (so the 16/32 rows pin to v24's construction), extended to
        # 128 pairwise-distinct ids < 500 on a deterministic stride —
        # every id exists at every SF and in the synth corpus
        pool = list(S.TIVF_SEED_POOL)
        j = 0
        while len(pool) < 128:
            cand = (j * 7 + 3) % 500
            if cand not in pool:
                pool.append(cand)
            j += 1
        pool_t = tuple(pool)
        axis: dict = {
            "method": (
                "v24-shape membership recall + serving-query wall time at "
                "ncells 16/32/64/128, nprobe = ncells/4 (constant 25% "
                "scan), on the matched 10x corpus (20k vectors, sqrt(N) "
                "= 141); seed pool = declared TIVF_SEED_POOL extended to "
                "128 ids on a deterministic stride; composed v21-shape "
                "recall@5 gate at 32 vs 64 (the flip adjudication)"
            ),
            "corpus_vectors": 20_000,
        }
        exact = (
            S._exact_topk_v12(spark, sf_dir).select("qid", "vec_id").localCheckpoint()
        )
        for n in (16, 32, 64, 128):
            npb = n // 4
            quant = S.Quantizer(pool_t[:n], trained=True)
            _, cells, probes = S._cells_probes(spark, sf_dir, quant, npb, S.V12_NQ)
            hit = cells.join(
                Fn.broadcast(probes.select("qid", "cell")), ["cell"]
            ).select("qid", "vec_id")
            rec = float(
                S._recall_agg(exact, hit).agg(Fn.avg("recall")).first()[0]
            )
            q = S._probe_topk_plan(spark, sf_dir, quant, npb)
            q.write.format("noop").mode("overwrite").save()  # warm (trains cells)
            t0 = time.perf_counter()
            q.write.format("noop").mode("overwrite").save()
            axis[f"ncells_{n}"] = {
                "nprobe": npb,
                "membership_recall": round(rec, 4),
                "serving_topk_s": round(time.perf_counter() - t0, 3),
            }
        # composed strictly-no-worse gate: 64 flips only if recall@5 of
        # the full IVFADC pipeline is no worse than 32 at equal scan
        def _composed(nc: int) -> float:
            plan = S._pq_topk_plan(
                spark, sf_dir, S.V12_NQ,
                quant=S.Quantizer(pool_t[:nc], trained=True), nprobe=nc // 4,
            )
            return float(
                S._recall_agg(exact, plan.select("qid", "vec_id"))
                .agg(Fn.avg("recall")).first()[0]
            )

        r32, r64 = _composed(32), _composed(64)
        axis["composed_recall5_32"] = round(r32, 4)
        axis["composed_recall5_64"] = round(r64, 4)
        axis["gate_64_no_worse_than_32"] = bool(r64 >= r32)
        # r15: the NEXT rung's receipt — serving.SERVING_NCELLS_LADDER
        # admits 128 only with this composed gate banked (the membership
        # axis already shows 0.796 at 128; the composed gate is the flip
        # adjudication, same as 32->64)
        r128 = _composed(128)
        axis["composed_recall5_128"] = round(r128, 4)
        axis["gate_128_no_worse_than_64"] = bool(r128 >= r64)
        out["ncells_axis"] = axis

    _write(out)
    compact = {
        "metric": "scale_slope",
        "spark_exponents": {k: v["spark_exponent"] for k, v in out["queries"].items()},
        "duckdb_exponents": {k: v["duckdb_exponent"] for k, v in out["queries"].items()},
        "superlinear_spark": out["superlinear_spark"],
        "watch_spark": out["watch_spark"],
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
