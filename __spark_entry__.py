"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row-count + schema + order-insensitive
value-hash → CORRECTNESS_r{N}.json).

All real logic lives in the ``fifteenmc_spark`` package; this module just
exposes its declared-query registry (SURVEY.md §2.11 and the training-data
pipeline operators).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import fifteenmc_spark.operators  # noqa: E402,F401  (registers all query modules)
from fifteenmc_spark.operators.relational import QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: TPC-H-Q1-shaped aggregation (d6) on sf0.001."""
    return QUERIES["d6_groupby_agg"].build(spark, "/root/testdata/sf0.001")


# The driver checks a bounded window of queries per round (50 in r02).
# Queries with no driver CORRECTNESS row yet come first so every declared
# query accumulates at least one driver-checked green row across rounds.
_CHECK_FIRST = (
    # Lead: queries whose builder or oracle text changed when every recall
    # eval moved onto the shared recall back half, t12 became one window
    # pass and the g-family shared one lattice CTE and one point generator.
    "v9_ivf_recall",
    "v18_ivfpq_nprobe_sweep",
    "v20_tivf_recall",
    "v22_tivf_nprobe_sweep",
    "v24_ncells_sweep",
    "v28_filtered_recall",
    "t12_winnowing_fingerprint",
    "g1_grid_tiles",
    "g2_knn_snap",
    "g4_tile_assign",
    "g5_tile_occupancy",
    "g6_zorder_layout",
    # Then: g3 now calls the one-task solver directly, in place of the
    # size dispatch it went through before.
    "g3_bounded_reach",
    # Then: queries whose builder or oracle text changed when the PQ/ADC
    # stages were shared (one Lloyd trainer, one code assignment, one
    # ADC builder, one re-rank tail): every PQ query, and every
    # trained-quantizer query, whose oracle embeds the Lloyd SQL.
    "v11_pq_topk",
    "v12_pq_recall",
    "v13_ivfpq_topk",
    "v14_ivfpq_recall",
    "v16_rivfpq_topk",
    "v17_encoding_recall",
    "v19_tivf_topk",
    "v21_tivfpq_topk",
    "v23_tencoding_recall",
    "v25_serving_tivf_topk",
    "v26_serving_ivfpq_topk",
    "v27_filtered_tivf_topk",
    "v29_adaptive_filtered_topk",
    # the previous lead (shared IVF stages) not covered above
    "v1_cosine_topk",
    "v5_ivf_topk",
    "v6_lsh_recall",
    # r16 rotation: queries whose plan changed in r16, then the backlog
    "x9_span_dedup",
    "x9_span_dedup_sampled",
    "x9_span_dedup_prefiltered",
    "t9_unigram_logprob",
    # newest driver row is r13 — the backlog tail the r15 50-query window
    # could not reach (alphabetical)
    "d25_scalar_subquery",
    "d26_asof_join",
    "d28_sessionize",
    "d9_cube",
    "m1_asset_meta",
    "p7_dedup_apply",
    "v10_embedding_validity",
    "v8_embedding_clusters",
    "x1_dedup_exact",
    "x2_minhash_signature",
    "x3_minhash_lsh_pairs",
    "x3_minhash_lsh_pairs_16",
    "x4_simhash",
    "x4_simhash_64",
    "x5_ngram_jaccard",
    "x5_ngram_jaccard_capped",
    "x6_simhash_hamming",
    "x6_simhash_hamming_64",
    "x7_hamming_clusters",
    "x7_jaccard_clusters",
    "x8_decontaminate",
    # newest driver row is r14 — fill the 50-query window (alphabetical;
    # the tail past the window leads the next rotation)
    "d10_rank_dense_ntile",
    "d11_running_total",
    "d1_scan_filter",
    "d27_range_join",
    "d2_inner_join",
    "d30_salted_join",
    "d31_sketch_bounds",
    "d32_full_outer",
    "d3_dim_chain_join",
    "d4_left_outer",
    "d5_anti_join",
    "d5_semi_join",
    "d6_groupby_agg",
    "d7_count_distinct",
    "d8_median",
    "d9_rollup",
    "p2_hash_split",
    "p3_pack_sequences",
    "p5_chunk_dedup",
    "p9_temperature_mix",
    "t10_gopher_rules",
    "t11_bpe_pretoken_count",
    "t8_length_quantiles",
    "v15_dedup_apply",
    "v3_embedding_near_dup",
    "x10_link_pagerank",
    "x7_near_dup_clusters",
)


def _ordered() -> dict:
    out = {n: QUERIES[n] for n in _CHECK_FIRST if n in QUERIES}
    out.update(QUERIES)
    return out


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {name: q.build for name, q in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query (omitted entries get a
    weaker rows-only check)."""
    return {name: q.oracle for name, q in _ordered().items() if q.oracle is not None}
