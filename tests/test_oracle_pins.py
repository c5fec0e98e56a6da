"""Pinned results of the v-family DuckDB oracles (the 30 declared v*
queries) and the g-family ones (the 6 declared g* queries) on the
sf0.001 test corpus.

Every oracle-equality test compares a Spark plan with its SQL twin, so a
refactor that rewrites both sides (the shared IVF stage builders feed
both) could move them together unnoticed.  These pins are the
normalized result hash tests/driver_sim.py computes (columns sorted by
name, floats rounded to 4 decimals, rows sorted, md5), recorded from the
oracles before the coarse-stage builders were shared (v) and before every
bounded shortest path went through one size dispatch in plans/reach.py
(g), plus row counts.  DuckDB only — about 40 s for all of them."""

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
