"""Pinned results of every declared query's DuckDB oracle on the sf0.001
test corpus: the 30 v-queries, the 6 g-queries and the 83 d, m, p, t and
x queries — together exactly the 119 names of QUERIES.

Every oracle-equality test compares a Spark plan with its SQL twin, so a
refactor that rewrites both sides (a shared stage builder feeds both)
could move them together unnoticed.  These pins are the normalized
result hash tests/driver_sim.py computes (columns sorted by name, floats
rounded to 4 decimals, rows sorted, md5), recorded from the oracles
before the coarse-stage builders were shared (v), before every bounded
shortest path went through one size dispatch in plans/reach.py (g), and
before the dedup family shared its banding, pigeonhole-block and
span-table builders (d, m, p, t, x), plus row counts.  DuckDB only —
about 45 s for all of them."""

import hashlib
import math
import os

import pytest

from fifteenmc_spark.operators.relational import QUERIES

from .oracle_util import duckdb_conn

PINS = {
    "v10_embedding_validity": ("9f3e6ce5ebbb6cb701e988e32cd81204", 10),
    "v11_pq_topk": ("73684b7a366baafce13c653c311242ba", 15),
    "v12_pq_recall": ("edd128e5a119a2a8b556eeb5b82a0618", 50),
    "v13_ivfpq_topk": ("96009cd97d48a3b1f6e508a98834540e", 15),
    "v14_ivfpq_recall": ("aa8103a0801f487eeeae0461d22b937a", 50),
    "v15_dedup_apply": ("12f6f2c07ddfbf9bda86c48ae89e989c", 500),
    "v16_rivfpq_topk": ("835c5e113e8ec1ed424c4a7086c6a2be", 15),
    "v17_encoding_recall": ("dd896958ae16acca8150a70a5411821d", 100),
    "v18_ivfpq_nprobe_sweep": ("24db8bec496c9c707cd03c544e26fe81", 200),
    "v19_tivf_topk": ("fb4813529fbcb57623b84b3121600d7f", 15),
    "v1_cosine_topk": ("6334996572bc1a10691189a822e634ce", 15),
    "v20_tivf_recall": ("85034be26173c61f2ed95e288d7af520", 100),
    "v21_tivfpq_topk": ("89d4f8ead7254f1ef1c8c2c19626c9a1", 15),
    "v22_tivf_nprobe_sweep": ("7f06e3ba4e78a785c759b67cbea203e5", 200),
    "v23_tencoding_recall": ("b96991889fc79e61b612f16825445c0f", 100),
    "v24_ncells_sweep": ("85262dd073c8d0511a4a7cb488722d52", 200),
    "v25_serving_tivf_topk": ("f05b91fb8241f253cd41f2eafe47ae9c", 15),
    "v26_serving_ivfpq_topk": ("d0e6d2d60bcfe4aa22a7d4a9dfedc1c8", 15),
    "v27_filtered_tivf_topk": ("b24c34378f4d2d4c956f7d53606ff29c", 15),
    "v28_filtered_recall": ("7d828426880154e8fa648917dd517aaa", 3),
    "v29_adaptive_filtered_topk": ("cfc735db5ea23924910ace7cd7a2523c", 15),
    "v2_lsh_bucket": ("0885a5033704e1935c2955a699d0a324", 201),
    "v2_lsh_bucket_16": ("cdc58e2a8140910638d404530230299f", 489),
    "v3_embedding_near_dup": ("916aca664461373d043c99a46210fe25", 1),
    "v4_embedding_stats": ("33cf3299f874db132b341154a4d8f264", 10),
    "v5_ivf_topk": ("6aea1a68dd770651816ad7eabca9a8e2", 15),
    "v6_lsh_recall": ("8681206097013c340bcbb2d9585797e3", 6),
    "v7_lsh_banded_near_dup": ("3f5187a8886f7a130c1034c44bd15cdf", 2),
    "v8_embedding_clusters": ("3eb23fe4e8b42546312e546f60f42691", 4),
    "v9_ivf_recall": ("c5e212b19aefc92be449c07c40a85184", 6),
}

G_PINS = {
    "g1_grid_tiles": ("8b8bef7442ee6a77abe5d766e22a2b4b", 20),
    "g2_knn_snap": ("d04d0b722309782a2815a96046dc010f", 60),
    "g3_bounded_reach": ("ce0a6349d0ab71fbccde1a31251bec7b", 76),
    "g4_tile_assign": ("1a053e36685a2a41cc33c8b24a515226", 149),
    "g5_tile_occupancy": ("ed7c9b955ac3809efe910ec1b67cd0a7", 20),
    "g6_zorder_layout": ("c7c43aae6d36c14ea658699f4614cf62", 200),
}


# d, m, p, t and x families
REST_PINS = {
    "d10_rank_dense_ntile": ("fc03dafef65211cec52eaec88525e57f", 1500),
    "d10_topk_per_group": ("bcfbf7ece28f028a404de4a19160b30f", 449),
    "d11_range_frame": ("4ec4a2b5d72f9a38d080f92648dd55d8", 1000),
    "d11_running_total": ("69c454eec22450e011469580115dc051", 1500),
    "d12_lag": ("d658f550069873602fc18a001b23a151", 1000),
    "d13_topk": ("a8844cb185f119d84216e454e3974042", 10),
    "d14_except": ("28c16d0e9a622d9b19c2451c61eda1bb", 24),
    "d14_intersect": ("d28c1727e89f39d52d943306fb29c043", 10),
    "d14_union": ("d2e67aecc218b3b3e0685c8b60f52e08", 25),
    "d15_strings": ("314775de779dc3d5d7c5948741c3d819", 200),
    "d16_haversine": ("cd4f76d32765557c040b03bf67f20850", 200),
    "d17_conditionals": ("6b550e6a583d9e835f073879420f5083", 6000),
    "d18_date_trunc": ("b8ecd4674ecb9201656727c5253e6a40", 5),
    "d18_year_month": ("2bca86ccfcbdff25dd99e98b78a47761", 80),
    "d19_tumbling_window": ("1b23f561a1fc1d971bba9bc823e7eeb3", 987),
    "d1_scan_filter": ("58d1d487b9aa8c7e2919b2deae3ce6fe", 789),
    "d20_array_ops": ("ee0c285a05ddbe80bf894c6d8834df99", 500),
    "d21_pivot": ("12e60713d7d350bdfbd61302d889dfbb", 150),
    "d22_graph_relax": ("72fdd4398ef29c57a41d3949967e7679", 25),
    "d23_first_occurrence": ("9ff18c2eb1c0148cae7db88ac027313f", 15),
    "d24_correlated_subquery": ("a013f7f389e49b635249b428bb212703", 335),
    "d25_scalar_subquery": ("3c97694c17606851818dc2a4198d06d8", 556),
    "d26_asof_join": ("73ed7d856852db9c5ce60e908c041979", 1000),
    "d27_range_join": ("028e8a4dc8374d02457bb622abab9376", 32),
    "d28_sessionize": ("39a3ceef7eb269ecca72b6d988f3ccfa", 961),
    "d29_json_extract": ("62835feba51271b55d63268343958e62", 5),
    "d2_inner_join": ("d45cb584326e1c143c35b6abbf27e20f", 298),
    "d30_salted_join": ("78bb4a736f6594a56abf581b7c6f30a1", 1000),
    "d31_sketch_bounds": ("a54181881e9a40540b5f39758363f5df", 5),
    "d32_full_outer": ("90bcf53cf343162bf2363d6a9bcf1962", 131),
    "d3_dim_chain_join": ("e954c2f1d617ef70beff20c0b31b7196", 26),
    "d4_left_outer": ("a849fd7a2ff63f4a1122a066f1c5473f", 204),
    "d5_anti_join": ("fd0cf87df3a1998841ded64718fcce2e", 57),
    "d5_semi_join": ("95ebf4c9242a01ed1819c31bce6a9f68", 93),
    "d6_groupby_agg": ("7f657ef7890b4611c162bfe23c324669", 6),
    "d7_count_distinct": ("3db983669f21778401ae4d6ec8662f9a", 5),
    "d8_median": ("a6c5b5ef4a9c0efdb2795ba45c930a83", 3),
    "d9_cube": ("67978815027340af7a1bc089124d040b", 24),
    "d9_rollup": ("9b42b655a74188cd54839d43f772bb4b", 151),
    "m1_asset_meta": ("34ada37345e7d6e94838095532b8cdc2", 4),
    "m2_feature_extract": ("64f1c385b8f6b81509946a1df3508331", 500),
    "m3_frame_sample": ("525c55b769757768e1fdd29b4f52c978", 666),
    "m4_frame_dedup": ("960ba4d2e011e0c7c9338a9f8aa9f98f", 10),
    "m5_image_meta": ("873e0dcd75978568e5045186c166e547", 125),
    "p1_corpus_prep": ("f52b37791ccaf7594726ff368efa7155", 80),
    "p2_hash_split": ("0d81822bd4b869881fea45ef4ee1b8e8", 500),
    "p3_pack_sequences": ("53aea50e0668fd9db6e10695545e53c7", 500),
    "p4_stratified_sample": ("09031ea09754e2a6d4ceb6a51d5be9ac", 394),
    "p5_chunk_dedup": ("27a8a834ebea5eb12c4fd9eb69f7387b", 500),
    "p6_pii_scrub": ("d2494c4fbac3c5a1da3b612cf2034854", 20),
    "p7_dedup_apply": ("df11b3c73e08e10c58ff005a3cc558c2", 500),
    "p8_domain_mix": ("07f728040edf2470fb0b444f57dce845", 500),
    "p9_temperature_mix": ("d4a60657b6aa0ed1b44cc454d062aad9", 500),
    "t10_gopher_rules": ("b25c6917e468e8dbdd85d4d9afaba50e", 500),
    "t11_bpe_pretoken_count": ("81cc812c890e1cdee1865b6efd19fa8c", 500),
    "t12_winnowing_fingerprint": ("67a48de33cc980e4eb71beaa5cc5174c", 500),
    "t1_token_count": ("4d491efae1bb7944fa8eec3987e515cf", 500),
    "t2_quality_score": ("5bd996dd3d170d5b1ae853f275242ba1", 500),
    "t3_lang_id": ("f270775a848ba118f1d04d86e6ae14cc", 500),
    "t4_fingerprint": ("890d53209504339185630b7b57adb677", 500),
    "t5_corpus_stats": ("643d147d5c24efa307d8ec5369ca5133", 99),
    "t6_vocab_topk": ("5afa760b9d9a6b40625e4fb1d2f478b9", 100),
    "t7_repetition": ("9c7b04d0f642fe550bb0487fbdf908d1", 500),
    "t8_length_quantiles": ("2446c19d5f309579ace2161b077e20a1", 20),
    "t9_unigram_logprob": ("1e18d7e3ac9a412c4ad9a001ecb95127", 500),
    "x10_link_pagerank": ("a869ae5bb15cd4d877b08a5f687aa34b", 160),
    "x1_dedup_exact": ("7862cde1f239f6a0cd4b45616c50c928", 500),
    "x2_minhash_signature": ("65fd3b344fbad12813df9fd924baa9f2", 500),
    "x3_minhash_lsh_pairs": ("456ee888a0506608e0b430e7e728cee1", 28),
    "x3_minhash_lsh_pairs_16": ("456ee888a0506608e0b430e7e728cee1", 28),
    "x4_simhash": ("459643f03a8b9eb33d8c2a1a01354848", 500),
    "x4_simhash_64": ("d68f920aa24556099d2f10d1e4cbfc08", 500),
    "x5_ngram_jaccard": ("456ee888a0506608e0b430e7e728cee1", 28),
    "x5_ngram_jaccard_capped": ("456ee888a0506608e0b430e7e728cee1", 28),
    "x6_simhash_hamming": ("c623b3da28c2bacbbcc131b083dc1ef7", 2618),
    "x6_simhash_hamming_64": ("dc231ca70f772ebfa19e5edfef33e1ec", 23),
    "x7_hamming_clusters": ("1282020c5ac8190059c7ea4c5bfced6c", 37),
    "x7_jaccard_clusters": ("d90e0511082b732f8fa902fb9f954f1b", 45),
    "x7_near_dup_clusters": ("d90e0511082b732f8fa902fb9f954f1b", 45),
    "x8_decontaminate": ("373b24379b447e0472bdbed42721c926", 3),
    "x9_span_dedup": ("87ef663f7729b16a5210e71ce80f4ceb", 2382),
    "x9_span_dedup_prefiltered": ("87ef663f7729b16a5210e71ce80f4ceb", 2382),
    "x9_span_dedup_sampled": ("5e0cb52b2dc2a31aa7ae88036f55e3c3", 598),
}


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, float):
        return f"{round(v, 4):.4f}"
    return str(v)


def _hash(cols, rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


@pytest.fixture(scope="module")
def con(sf_small):
    if os.path.basename(sf_small.rstrip("/")) != "sf0.001":
        pytest.skip("pins are recorded for the sf0.001 corpus")
    return duckdb_conn(sf_small)


def test_pins_cover_the_v_family():
    assert set(PINS) == {n for n in QUERIES if n.startswith("v")}


def test_pins_cover_the_g_family():
    assert set(G_PINS) == {n for n in QUERIES if n.startswith("g")}


def test_pins_cover_every_declared_query():
    # a newly declared query cannot land unpinned
    assert set(PINS) | set(G_PINS) | set(REST_PINS) == set(QUERIES)
    assert len(PINS) + len(G_PINS) + len(REST_PINS) == len(QUERIES)


def _pinned(con, name):
    res = con.execute(QUERIES[name].oracle)
    cols = [d[0] for d in res.description]
    rows = res.fetchall()
    return _hash(cols, rows), len(rows)


@pytest.mark.parametrize("name", sorted(PINS))
def test_v_oracle_result_is_pinned(con, name):
    assert _pinned(con, name) == PINS[name]


@pytest.mark.parametrize("name", sorted(G_PINS))
def test_g_oracle_result_is_pinned(con, name):
    assert _pinned(con, name) == G_PINS[name]


@pytest.mark.parametrize("name", sorted(REST_PINS))
def test_oracle_result_is_pinned(con, name):
    assert _pinned(con, name) == REST_PINS[name]
