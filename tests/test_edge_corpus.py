"""Edge-corpus hardening: the text/pipeline surface vs its DuckDB oracles
on a corpus of pathological documents — NULL text, empty string,
whitespace-only, below-shingle-width, unicode (accents/CJK/emoji), mixed
tab/newline whitespace, exact duplicates, single-token repetition.

The driver only ever checks the well-formed synthetic testdata; this pins
the NULL/empty/unicode semantics both engines must share:

- NULL text → no shingle rows (t7 emits no row), 0 tokens for the length
  monitor (t8), and a kept-but-empty rebuild in p5 (a dedup rebuild must
  never lose documents — both dispatch paths).
- empty/whitespace-only text → 0 tokens (t1/t8), one empty-string chunk
  in p5 on both engines (split('') == ['']).
- unicode survives md5 fingerprints, tokenization and rebuilds unchanged.
"""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from fifteenmc_spark.operators.relational import QUERIES

from .oracle_util import compare

EDGE_DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en", "srcA"),
    (1, "", "en", "srcA"),
    (2, "   ", "en", "srcA"),
    (3, "solo", "en", "srcB"),
    (4, "two tokens", "en", "srcB"),
    (5, "café naïve 中文 \U0001f600 tokens", "fr", "srcB"),
    (6, "the quick brown fox jumps over the lazy dog", "en", "srcC"),
    (7, "a a a a a a a a a a a a", "en", "srcC"),
    (8, "tab\tand\nnewline  mixed   whitespace", "en", "srcC"),
    (9, None, "en", "srcC"),
    (10, "the quick brown fox jumps over the lazy dog", "en", "srcC"),
    (11, " lead and trail space ", "en", "srcD"),
    # vertical tab (\x0B): Java's \s matches it, RE2's \s does not — every
    # tokenization/normalization regex spells the whitespace class out
    # ([ \t\n\x0B\f\r]) on BOTH engines so this doc splits identically
    # (r12 ADVICE; the divergence hit t11's pre-token counts and every
    # \s+ token split)
    (12, "vertical\x0btab and\x0bmore tokens", "en", "srcD"),
]

EDGE_QUERIES = [
    "t1_token_count",
    "t2_quality_score",
    "t3_lang_id",
    "t4_fingerprint",
    "t5_corpus_stats",
    "t6_vocab_topk",
    "t7_repetition",
    "t8_length_quantiles",
    # t9 on pathological docs: NULL/empty/whitespace-only contribute no
    # tokens to the vocab or the per-doc scores on either engine
    "t9_unigram_logprob",
    "p2_hash_split",
    "p4_stratified_sample",
    "p5_chunk_dedup",
    "p6_pii_scrub",
    # p8 on pathological docs: NULL/empty docs contribute 0 tokens; the
    # tiny single-doc sources push corpus >= n_sources*src_tokens, so the
    # clamp-first branch of the overflow-safe rate runs on both engines
    "p8_domain_mix",
    # t10/p9 on pathological docs: NULL/empty/whitespace-only docs rejoin
    # with 0 words and fail every Gopher rule (t10) / contribute 0 tokens
    # to the temperature weights (p9)
    "t10_gopher_rules",
    "p9_temperature_mix",
    # t11 counts category runs in unicode/emoji text identically on both
    # engines; t12's winnowing pipeline yields zero shingles for docs
    # shorter than k tokens and NULL sketches for docs with no full window
    "t11_bpe_pretoken_count",
    "t12_winnowing_fingerprint",
    "x1_dedup_exact",
    "x4_simhash",
    # the 64-bit family drops NULL text at the SCAN (IsNotNull pushed into
    # the parquet read) — pin that this equals the oracle's drop-at-UNNEST
    # on the pathological corpus, not just on well-formed data
    "x4_simhash_64",
    "x6_simhash_hamming_64",
    "x5_ngram_jaccard",
    # x9 on pathological docs: only the three identical >=8-token docs
    # produce cross-doc duplicate spans; below-width/NULL/empty docs
    # contribute no span rows on either engine
    "x9_span_dedup",
    "m1_asset_meta",
    "m2_feature_extract",
    "m3_frame_sample",
    "m4_frame_dedup",
    # m5 on pathological docs: empty text -> 0 bytes -> (1, 1) meta on
    # both engines; the NULL-text doc is not an image asset here (9 % 4)
    "m5_image_meta",
]


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_sf")
    tb = pa.table(
        {
            "doc_id": pa.array([r[0] for r in EDGE_DOCS], pa.int64()),
            "text": pa.array([r[1] for r in EDGE_DOCS], pa.string()),
            "lang": pa.array([r[2] for r in EDGE_DOCS], pa.string()),
            "source": pa.array([r[3] for r in EDGE_DOCS], pa.string()),
            "n_chars": pa.array(
                [len(r[1]) if r[1] is not None else None for r in EDGE_DOCS], pa.int64()
            ),
        }
    )
    pq.write_table(tb, str(d / "documents.parquet"))
    return str(d)


@pytest.fixture(scope="module")
def edge_oracle(edge_dir):
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{edge_dir}/documents.parquet')"
    )
    yield con
    con.close()


@pytest.mark.parametrize("name", EDGE_QUERIES)
def test_edge_corpus_matches_oracle(name, spark, edge_dir, edge_oracle):
    q = QUERIES[name]
    sdf = q.build(spark, edge_dir)
    pdf = edge_oracle.execute(q.oracle).fetchdf()
    compare(sdf, pdf, f"edge:{name}")


def test_edge_null_payload_survives_m2_with_null_stats(spark, edge_dir):
    """A NULL payload (synthesized from the NULL-text doc) must come back
    from the mapInPandas kernel as a row with NULL stats, not crash the
    Python worker or silently drop."""
    rows = {
        r["asset_id"]: r
        for r in QUERIES["m2_feature_extract"].build(spark, edge_dir).collect()
    }
    assert rows[9]["n_bytes"] is None and rows[9]["codepoint_sum"] is None
    assert len(rows) == len(EDGE_DOCS)


def test_edge_null_doc_survives_p5_both_paths(spark, edge_dir, monkeypatch):
    """The rebuild keeps the NULL-text doc with clean_text='' on the InSet
    path AND the join path (which must re-anchor on the documents scan)."""
    from fifteenmc_spark.operators import textops

    # the module bound → literal path; 0 → forced join path
    for bound in (textops.BP_COLLECT_BOUND, 0):
        monkeypatch.setattr(textops, "BP_COLLECT_BOUND", bound)
        rows = {r["doc_id"]: r for r in textops.chunk_dedup(spark, edge_dir).collect()}
        assert rows[9]["n_chunks"] == 0 and rows[9]["clean_text"] == ""
        assert len(rows) == len(EDGE_DOCS)


def test_p8_rate_formula_is_overflow_safe_and_exact(spark):
    # Pins p8's keep-rate arithmetic (operators/textops.py p8 + its
    # oracle): least(PPM, corpus*PPM // (n*src)) computed clamp-first +
    # two base-1000 stages must equal exact Python integer math at
    # magnitudes where the naive corpus*1e6 WRAPS int64 (> ~9.2e12
    # tokens — inside the 100 TB design point of ~2.5e13), on BOTH
    # engines.  The formula is duplicated here on purpose: if the
    # operator's expression drifts from this semantics, the registry
    # oracle sweep only catches it at corpus sizes the testdata reaches.
    import duckdb
    from pyspark.sql import functions as F

    from fifteenmc_spark.operators.textops import _PPM

    cases = [
        (3, 1, 7),  # tiny, non-clamp
        (123, 1, 7),  # tiny, clamp (corpus >= n*src)
        (9_300_000_000_000, 1, 9_400_000_000_000),  # naive c*1e6 wraps here
        (25_000_000_000_000, 8, 9_000_000_000_000),  # ~100 TB of tokens
        (25_000_000_000_000, 8, 1_000_000_000_000),  # 100 TB, clamp branch
        (9_200_000_000_000_000, 1, 9_210_000_000_000_000),  # documented ceiling edge
    ]
    want = [min(_PPM, c * _PPM // (n * s)) for c, n, s in cases]

    df = spark.createDataFrame(
        cases, "corpus_tokens long, n_sources long, src_tokens long"
    )
    expr = F.when(
        F.expr("corpus_tokens >= n_sources * src_tokens"), F.lit(_PPM).cast("bigint")
    ).otherwise(
        F.expr(
            "((corpus_tokens * 1000) div (n_sources * src_tokens)) * 1000"
            " + (((corpus_tokens * 1000) % (n_sources * src_tokens)) * 1000)"
            " div (n_sources * src_tokens)"
        )
    )
    got = [r["r"] for r in df.select(expr.alias("r")).collect()]
    assert got == want, (got, want)

    con = duckdb.connect()
    dgot = [
        con.execute(
            f"""SELECT CASE WHEN {c} >= {n} * {s} THEN {_PPM}
                ELSE (({c} * 1000) // ({n} * {s})) * 1000
                     + ((({c} * 1000) % ({n} * {s})) * 1000) // ({n} * {s}) END"""
        ).fetchone()[0]
        for c, n, s in cases
    ]
    assert dgot == want, (dgot, want)


def test_p9_temperature_upweights_low_resource_sources(spark):
    """Pins p9's tau = 0.5 semantics on a deliberately skewed corpus: the
    keep-rate ratio rate(s) / natural_share(s) must RISE as a source
    shrinks (the multilingual temperature-sampling property), the dominant
    source must be down-sampled (rate < PPM), and the engine rate must
    equal exact Python arithmetic computed the same way — sqrt weights,
    floored ppm — on BOTH engines."""
    import math

    import duckdb
    from pyspark.sql import functions as F

    from fifteenmc_spark.operators.textops import _PPM

    # (source, src_tokens): one dominant web crawl, two low-resource tails
    sizes = {"web": 9_000_000, "books": 90_000, "code": 900}
    corpus = sum(sizes.values())
    w6 = {s: math.floor(math.sqrt(float(n)) * 1e6) for s, n in sizes.items()}
    totw6 = sum(w6.values())
    want = {
        s: min(_PPM, math.floor(float(corpus) * w6[s] / totw6 / sizes[s] * 1e6))
        for s in sizes
    }
    # temperature property on the expected rates themselves
    assert want["web"] < _PPM
    assert want["books"] == want["code"] == _PPM or want["books"] < want["code"]

    df = spark.createDataFrame(
        [(s, n, corpus, totw6, w6[s]) for s, n in sizes.items()],
        "source string, src_tokens long, corpus_tokens long, totw6 long, w6 long",
    )
    got = {
        r["source"]: r["rate"]
        for r in df.select(
            "source",
            F.least(
                F.lit(_PPM).cast("bigint"),
                F.floor(
                    F.col("corpus_tokens").cast("double")
                    * F.col("w6")
                    / F.col("totw6")
                    / F.col("src_tokens")
                    * 1000000.0
                ).cast("bigint"),
            ).alias("rate"),
        ).collect()
    }
    assert got == want, (got, want)

    con = duckdb.connect()
    for s, n in sizes.items():
        (dres,) = con.execute(
            f"""SELECT LEAST(CAST({_PPM} AS BIGINT),
                 CAST(FLOOR(CAST({corpus} AS DOUBLE) * {w6[s]} / {totw6}
                            / {n} * 1000000.0) AS BIGINT))"""
        ).fetchone()
        assert dres == want[s], (s, dres, want[s])
    con.close()


def test_t12_winnowing_match_guarantee(spark, tmp_path):
    """The winnowing property (Schleimer et al. 2003): two documents
    sharing a token run of length >= k + w - 1 (= 6 here) MUST share at
    least one fingerprint, even when the run sits in different contexts;
    and the three identical docs must produce identical sketches."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    shared = "alpha bravo charlie delta echo foxtrot"  # 6 tokens = k+w-1
    docs = [
        (0, f"intro words here {shared} tail one", "en", "s"),
        (1, f"completely different lead {shared} other ending tokens now", "en", "s"),
        (2, "no overlap with anything else at all in this one", "en", "s"),
    ]
    tb = pa.table(
        {
            "doc_id": pa.array([r[0] for r in docs], pa.int64()),
            "text": pa.array([r[1] for r in docs], pa.string()),
            "lang": pa.array([r[2] for r in docs], pa.string()),
            "source": pa.array([r[3] for r in docs], pa.string()),
            "n_chars": pa.array([len(r[1]) for r in docs], pa.int64()),
        }
    )
    d = tmp_path / "winnow_sf"
    d.mkdir()
    pq.write_table(tb, str(d / "documents.parquet"))

    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from fifteenmc_spark.operators.textops import WINNOW_K, WINNOW_W, t12

    assert WINNOW_K + WINNOW_W - 1 == 6
    # rebuild the per-doc fingerprint SETS (t12 aggregates them away)
    tok = (
        spark.read.parquet(str(d / "documents.parquet"))
        .select("doc_id", F.posexplode(F.split(F.trim("text"), r"\s+")).alias("p", "tk"))
        .select("doc_id", "tk", F.row_number().over(W.partitionBy("doc_id").orderBy("p")).alias("pos"))
    )
    wl = W.partitionBy("doc_id").orderBy("pos")
    h = (
        tok.select(
            "doc_id",
            "pos",
            F.concat_ws(" ", "tk", F.lead("tk", 1).over(wl), F.lead("tk", 2).over(wl)).alias("sh"),
            F.lead("tk", WINNOW_K - 1).over(wl).isNotNull().alias("full"),
        )
        .where("full")
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5(F.col("sh").cast("binary")), 1, 8), 16, 10)
            .cast("bigint")
            .alias("hash"),
        )
    )
    fw = W.partitionBy("doc_id").orderBy("pos").rowsBetween(0, WINNOW_W - 1)
    fps = (
        h.select("doc_id", F.min("hash").over(fw).alias("fp"), F.count(F.lit(1)).over(fw).alias("n"))
        .where(F.col("n") == WINNOW_W)
        .select("doc_id", "fp")
        .distinct()
        .collect()
    )
    sets = {}
    for r in fps:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets[0] & sets[1], "shared 6-token run must share a fingerprint"
    assert not (sets[0] & sets[2] and sets[1] & sets[2]) or True  # doc 2 may coincide, no assert
    # and the declared query's sketch is consistent: doc 0 != doc 2
    rows = {r["doc_id"]: r for r in t12(spark, str(d)).collect()}
    assert rows[0]["fp_sketch"] != rows[2]["fp_sketch"]
