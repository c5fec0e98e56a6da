"""Golden tests for the geospatial core (grid → graph build → snap →
bounded Dijkstra reach → point/path query) against independent
numpy/scipy oracles (tests/geo_fixtures.py; FIXTURES.md B1-B8).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.functions import geo
from fifteenmc_spark.plans import graph_build, grid, query, reach, snap

from . import geo_fixtures as gf

BBOX = (18.40, 54.20, 18.90, 54.60)
LIMIT_M = 1000.0


@pytest.fixture(scope="module")
def fx(spark):
    nodes_pdf = gf.lattice_nodes()
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    pois_pdf = gf.poi_fixture(nodes_pdf)
    gnodes_pdf, gedges_pdf = gf.golden_canonical_graph(nodes_pdf, edges_pdf)

    nodes_raw = spark.createDataFrame(nodes_pdf)
    edges_raw = spark.createDataFrame(edges_pdf)
    # pipeline order per SURVEY.md §3.1: walkability filter, then build
    gnodes, gedges = graph_build.build_graph(nodes_raw, graph_build.clean_walkable_edges(edges_raw))
    gnodes = gnodes.cache()
    gedges = gedges.cache()
    return {
        "nodes_pdf": nodes_pdf,
        "edges_pdf": edges_pdf,
        "pois_pdf": pois_pdf,
        "gnodes_pdf": gnodes_pdf,
        "gedges_pdf": gedges_pdf,
        "nodes_raw": nodes_raw,
        "edges_raw": edges_raw,
        "gnodes": gnodes,
        "gedges": gedges,
    }


# ---------------------------------------------------------------------------
# G6 grid generation vs golden (B4)
# ---------------------------------------------------------------------------
def test_grid_matches_golden(spark):
    got = (
        grid.generate_tiles(spark, BBOX, tile_km=10.0, buffer_km=2.0)
        .orderBy("grid_id")
        .toPandas()
    )
    want = gf.golden_grid(BBOX, 10.0, 2.0)
    assert list(got["grid_id"]) == list(want["grid_id"])
    for spark_col, want_col in [
        ("centroid", ("clon", "clat")),
    ]:
        np.testing.assert_allclose(
            [c["lon"] for c in got[spark_col]], want[want_col[0]], atol=1e-12
        )
        np.testing.assert_allclose(
            [c["lat"] for c in got[spark_col]], want[want_col[1]], atol=1e-12
        )
    np.testing.assert_allclose([b["minlon"] for b in got["tile_bbox"]], want["tminx"], atol=1e-12)
    np.testing.assert_allclose([b["maxlat"] for b in got["tile_bbox"]], want["tmaxy"], atol=1e-12)
    np.testing.assert_allclose([b["minlon"] for b in got["buffer_bbox"]], want["bminx"], atol=1e-12)
    np.testing.assert_allclose([b["maxlat"] for b in got["buffer_bbox"]], want["bmaxy"], atol=1e-12)


def test_buffer_halo_assignment(spark):
    tiles = grid.generate_tiles(spark, BBOX, tile_km=10.0, buffer_km=2.0).cache()
    # a point just inside one tile's edge must land in >= 2 buffer bboxes
    one = tiles.first()
    edge_lon = one["tile_bbox"]["minlon"] + 1e-4
    mid_lat = (one["tile_bbox"]["minlat"] + one["tile_bbox"]["maxlat"]) / 2
    pts = spark.createDataFrame(pd.DataFrame({"pid": [1], "lon": [edge_lon], "lat": [mid_lat]}))
    hits = grid.assign_points_to_tiles(pts, tiles).select("grid_id").collect()
    assert len(hits) >= 2  # own tile + west neighbor's buffer halo
    strict = grid.assign_points_to_tiles(pts, tiles, use_buffer=False).collect()
    assert len(strict) == 1  # tile bboxes partition the plane


def test_k_nearest_tiles(spark):
    tiles = grid.generate_tiles(spark, BBOX, tile_km=10.0, buffer_km=2.0)
    got = grid.k_nearest_tiles(tiles, 18.60, 54.35, k=5).toPandas()
    assert len(got) == 5
    assert got["dist_km"].is_monotonic_increasing


# ---------------------------------------------------------------------------
# P2 walkability + J1/W3/U1/P4/A1 canonical graph vs golden (B1/B2)
# ---------------------------------------------------------------------------
def test_walkability_filter(fx):
    got = graph_build.clean_walkable_edges(fx["edges_raw"]).count()
    want = int(gf.golden_walkable_mask(fx["edges_pdf"]).sum())
    assert got == want


def test_dense_index_matches_sorted_ids(fx):
    got = fx["gnodes"].orderBy("node_idx").toPandas()
    want = fx["gnodes_pdf"]
    assert list(got["node_idx"]) == list(want["node_idx"])
    assert list(got["osm_node_id"]) == list(want["osm_node_id"])


def test_dense_index_is_jvm_side(fx, spark):
    # the index must come from JVM partition-offset arithmetic (broadcast
    # offset join above the checkpointed range scan), not a Python
    # rdd.zipWithIndex round-trip — whose plan is a bare Scan ExistingRDD
    # with all the real work hidden in an opaque Python stage
    from fifteenmc_spark.plans import graph_build

    df = graph_build.assign_dense_index(fx["nodes_raw"])
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BroadcastHashJoin" in plan  # offset map joined JVM-side
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan


def test_canonical_edges_match_golden(fx):
    got = fx["gedges"].orderBy("src", "dst").toPandas()
    want = fx["gedges_pdf"].sort_values(["src", "dst"]).reset_index(drop=True)
    assert len(got) == len(want)
    assert list(got["src"]) == list(want["src"])
    assert list(got["dst"]) == list(want["dst"])
    np.testing.assert_allclose(got["w"], want["w"], rtol=1e-6)


def test_graph_invariants(fx):
    # J8 reciprocity: symmetrized graph has zero one-way pairs
    assert graph_build.reciprocity_violations(fx["gedges"]).isEmpty()
    # metamorphic weight check: stored w / recomputed haversine ≈ 1
    v = graph_build.validate_weights(fx["gedges"], fx["gnodes"]).first()
    assert abs(v["median_ratio"] - 1.0) < 1e-5
    assert v["n_bad"] == 0


def test_metamorphic_permuted_input(spark, fx):
    # permuting input row order must not change the canonical edge table
    shuffled = spark.createDataFrame(
        fx["edges_pdf"].sample(frac=1.0, random_state=99).reset_index(drop=True)
    )
    _, e2 = graph_build.build_graph(fx["nodes_raw"], graph_build.clean_walkable_edges(shuffled))
    a = fx["gedges"].orderBy("src", "dst").toPandas()
    b = e2.orderBy("src", "dst").toPandas()
    assert list(a["src"]) == list(b["src"])
    np.testing.assert_allclose(a["w"], b["w"], rtol=0)


# ---------------------------------------------------------------------------
# J2 snap vs golden (B3)
# ---------------------------------------------------------------------------
def test_snap_matches_golden(spark, fx):
    pois = spark.createDataFrame(fx["pois_pdf"])
    got = (
        snap.snap_points_to_nodes(pois, fx["gnodes"], max_snap_m=300.0)
        .orderBy("poi_id")
        .toPandas()
    )
    want = gf.golden_snap(fx["pois_pdf"], fx["gnodes_pdf"], max_snap_m=300.0).sort_values("poi_id").reset_index(drop=True)
    for g, w in zip(got.itertuples(), want.itertuples()):
        if w.node_idx == -1:
            assert g.node_idx is None or pd.isna(g.node_idx), f"poi {g.poi_id} should be rejected"
        else:
            assert g.node_idx == w.node_idx, f"poi {g.poi_id}: {g.node_idx} != {w.node_idx}"
            assert abs(g.dist_to_node_m - w.dist_to_node_m) < 1e-2


def test_snap_single_point(fx):
    # exactly on a node → that node, distance ~0
    row = fx["gnodes_pdf"].iloc[10]
    got = snap.snap_single_point(fx["gnodes"], float(row["lon"]), float(row["lat"]))
    assert got is not None and got[0] == row["node_idx"] and got[1] < 1e-6
    # far away → rejected by max_snap
    assert snap.snap_single_point(fx["gnodes"], 10.0, 50.0, max_snap_m=300.0) is None


def test_snap_batch_wraps_antimeridian(spark):
    """r15 (r14 verdict item 5): the BUCKETED batch snap must agree with
    the single-point path across lon=±180 — seam-adjacent nodes register
    ghost cell keys shifted by one world width, so a point near the seam
    sees other-side nodes and the Euclidean 3857 distance computed from
    the shifted x is the wrapped metric."""
    nodes = spark.createDataFrame(
        [
            (0, 179.9990, 0.0),  # ~89 m west of the east-side probe
            (1, -179.9999, 0.0),  # across the seam, ~33 m (the winner)
            (2, 179.5, 0.0),  # interior control, far from both probes
        ],
        "node_idx int, lon double, lat double",
    )
    points = spark.createDataFrame(
        [
            (10, 179.9998, 0.0),  # east-side probe: winner is node 1 ACROSS the seam
            (11, -179.9995, 0.0),  # west-side probe: winner node 1 same-side (~44 m)
            (12, 179.5002, 0.0),  # interior probe: winner node 2 (~22 m)
        ],
        "poi_id int, lon double, lat double",
    )
    got = {
        r["poi_id"]: r
        for r in snap.snap_points_to_nodes(points, nodes, max_snap_m=300.0).collect()
    }
    # batch ≡ single-point winner on every probe, seam and interior alike
    for pid, lon, lat in [(10, 179.9998, 0.0), (11, -179.9995, 0.0), (12, 179.5002, 0.0)]:
        single = snap.snap_single_point(nodes, lon, lat, max_snap_m=300.0)
        assert single is not None
        assert got[pid]["node_idx"] == single[0], f"poi {pid}"
        # metrics differ (Euclidean 3857 vs haversine) but at the equator
        # both reduce to R * dlon — agree to ~0.2%
        assert abs(got[pid]["dist_to_node_m"] - single[1]) <= 0.01 * single[1] + 0.1
    # the wrapped distance is the short way around (~33 m), not ~40000 km
    assert got[10]["dist_to_node_m"] < 40.0
    # no duplicate rows from ghost keys: one row per input point
    n_rows = snap.snap_points_to_nodes(points, nodes, max_snap_m=300.0).count()
    assert n_rows == 3


# ---------------------------------------------------------------------------
# G2 bounded multi-source Dijkstra vs scipy golden (B6)
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def reach_ctx(spark, fx):
    snapped = gf.golden_snap(fx["pois_pdf"], fx["gnodes_pdf"], max_snap_m=300.0)
    snapped = snapped[snapped["node_idx"] >= 0].copy()
    pois_sdf = spark.createDataFrame(
        snapped[["poi_id", "category", "node_idx"]].astype({"node_idx": "int32"})
    )
    # densified: the golden/sentinel/pivot tests assert the reference's
    # full node x category cube; the engine default is the sparse form
    # (test_sparse_reach_default_equals_dense_reached_set)
    tiles = grid.tiles_over(fx["gnodes"]).cache()
    reach_df = reach.densify_reach(
        reach.compute_reach(fx["gnodes"], fx["gedges"], pois_sdf, tiles, limit_m=LIMIT_M), fx["gnodes"]
    ).cache()
    return {"snapped": snapped, "pois_sdf": pois_sdf, "tiles": tiles, "reach": reach_df}


def test_reach_matches_scipy_golden(fx, reach_ctx):
    snapped = reach_ctx["snapped"]
    for cat in ("supermarket", "pharmacy"):
        sub = snapped[snapped["category"] == cat]
        dist, winners = gf.golden_reach(fx["gnodes_pdf"], fx["gedges_pdf"], sub, LIMIT_M)
        got = (
            reach_ctx["reach"]
            .where(F.col("category") == cat)
            .orderBy("node_idx")
            .toPandas()
        )
        assert len(got) == len(fx["gnodes_pdf"])
        for r in got.itertuples():
            want_d = dist[r.node_idx]
            if not np.isfinite(want_d):
                assert pd.isna(r.dist_m), f"node {r.node_idx} should be unreachable"
            else:
                assert abs(r.dist_m - want_d) < 1e-2, f"node {r.node_idx}"
                assert r.poi_id in winners[r.node_idx], f"node {r.node_idx} winner"
                assert abs(r.time_s - r.dist_m / 1.111) < 1e-3


def test_sparse_reach_default_equals_dense_reached_set(fx, reach_ctx):
    # the engine-default SPARSE gold table is exactly the dense cube's
    # reached rows (row-count assert from the r10 verdict), and
    # densify_reach round-trips it to the reference's full cube
    sparse_sdf = reach.compute_reach(
        fx["gnodes"], fx["gedges"], reach_ctx["pois_sdf"], reach_ctx["tiles"], limit_m=LIMIT_M
    ).cache()
    sparse = sparse_sdf.orderBy("node_idx", "category").toPandas()
    dense = reach_ctx["reach"].orderBy("node_idx", "category").toPandas()
    assert not sparse["dist_m"].isna().any()  # no unreachable rows stored
    assert len(sparse) == int(dense["dist_m"].notna().sum())  # O(reached)
    # pandas renders the dense cube's nullable poi_id as float64
    want = dense[dense["dist_m"].notna()].astype({"poi_id": "int64"}).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        sparse.reset_index(drop=True), want, check_exact=False, atol=1e-6
    )
    re_dense = (
        reach.densify_reach(sparse_sdf, fx["gnodes"])
        .orderBy("node_idx", "category")
        .toPandas()
    )
    pd.testing.assert_frame_equal(
        re_dense, dense.reset_index(drop=True), check_exact=False, atol=1e-6
    )
    sparse_sdf.unpersist()


def test_reach_seed_nodes_zero(reach_ctx):
    # every valid snapped POI's node has dist 0 for its category
    seeds = reach_ctx["snapped"]
    got = reach_ctx["reach"].where(F.col("dist_m") == 0.0).toPandas()
    seed_pairs = {(int(r.node_idx), r.category) for r in seeds.itertuples()}
    got_pairs = {(int(r.node_idx), r.category) for r in got.itertuples()}
    assert seed_pairs == got_pairs


def test_reach_summary(fx, reach_ctx):
    s = reach.reach_summary(
        reach_ctx["reach"], reach_ctx["pois_sdf"], fx["gnodes"], LIMIT_M
    ).toPandas()
    snapped = reach_ctx["snapped"]
    for r in s.itertuples():
        sub = snapped[snapped["category"].map(lambda c: c == r.category)]
        assert r.n_sources == len(sub)
        dist, _ = gf.golden_reach(fx["gnodes_pdf"], fx["gedges_pdf"], sub, LIMIT_M)
        finite = dist[np.isfinite(dist)]
        assert r.n_within == len(finite)
        assert abs(r.median_dist_m - float(np.median(finite))) < 1e-2


def test_reach_pivot_shape(reach_ctx):
    wide = reach.reach_pivot(reach_ctx["reach"].limit(0).unionAll(reach_ctx["reach"]))
    cats = sorted(
        r["category"] for r in reach_ctx["reach"].select("category").distinct().collect()
    )
    cols = set(wide.columns)
    for c in cats:
        assert {f"{c}_dist", f"{c}_time", f"{c}_poi"} <= cols


def test_reach_sentinel_sink_roundtrip(reach_ctx, tmp_path):
    """SURVEY §1.2: NULL internally, inf/-1 only at the reference-shaped
    sink (precompute_poi_reach.py:8,58-60,95) — and the import path
    restores NULL semantics exactly."""
    base = reach_ctx["reach"]
    out = str(tmp_path / "reach_ref_shaped")
    reach.write_reference_shaped(base, out)
    back = base.sparkSession.read.parquet(out)
    bp = back.toPandas()
    # sentinel parity: the artifact has NO NULLs; unreachable = inf / -1
    assert not bp[["dist_m", "time_s", "poi_id"]].isna().any().any()
    n_null = base.where(F.col("dist_m").isNull()).count()
    assert n_null > 0, "fixture must exercise the unreachable case"
    assert int(np.isinf(bp["dist_m"]).sum()) == n_null
    assert int(np.isinf(bp["time_s"]).sum()) == n_null
    assert int((bp["poi_id"] == -1).sum()) == n_null
    # inverse restores NULL semantics exactly
    cols = ["node_idx", "category", "dist_m", "time_s", "poi_id"]
    restored = (
        reach.reach_from_sentinels(back).orderBy("node_idx", "category").toPandas()
    )
    want = base.select(*cols).orderBy("node_idx", "category").toPandas()
    pd.testing.assert_frame_equal(restored, want, check_exact=False, atol=1e-6)


def test_reference_sink_refuses_sparse_without_nodes(spark, tmp_path):
    """r11 ADVICE: the K3-parity sink must not silently write a sparse
    reach table — the reference artifact is dense, and a sparse write
    would drop every inf/-1 row with no local error."""
    sparse = spark.createDataFrame(
        # node 1 is missing the "cafe" row -> 3 rows != 2 nodes x 2 cats
        [(0, "cafe", 10.0, 7.5, 3), (0, "park", 20.0, 15.0, 4), (1, "park", 5.0, 3.8, 4)],
        "node_idx INT, category STRING, dist_m DOUBLE, time_s DOUBLE, poi_id BIGINT",
    )
    with pytest.raises(ValueError, match="DENSE"):
        reach.write_reference_shaped(sparse, str(tmp_path / "refuse"))
    # with nodes supplied the same sparse table densifies and writes fine
    nodes = spark.createDataFrame([(0,), (1,)], "node_idx INT")
    out = str(tmp_path / "densified")
    reach.write_reference_shaped(sparse, out, nodes=nodes)
    back = spark.read.parquet(out).toPandas()
    assert len(back) == 4
    assert int(np.isinf(back["dist_m"]).sum()) == 1  # the missing (1, cafe) row


# ---------------------------------------------------------------------------
# G7 point query + G4/G5 path query (B7)
# ---------------------------------------------------------------------------
def test_point_reachability(fx, reach_ctx):
    q = fx["gnodes_pdf"].iloc[150]
    got = query.point_reachability(
        reach_ctx["reach"], fx["gnodes"], float(q["lon"]), float(q["lat"]), radius_m=LIMIT_M
    ).toPandas()
    want = (
        reach_ctx["reach"]
        .where(F.col("node_idx") == int(q["node_idx"]))
        .where(F.col("dist_m").isNotNull() & (F.col("dist_m") <= LIMIT_M))
        .count()
    )
    assert len(got) == want
    assert got["dist_m"].is_monotonic_increasing


def _route(fx, a: int, b: int, limit_m: float = 5000.0):
    pa, pb = fx["gnodes_pdf"].iloc[a], fx["gnodes_pdf"].iloc[b]
    return query.point_to_point_path(
        fx["gnodes"],
        fx["gedges"],
        (float(pa["lon"]), float(pa["lat"])),
        (float(pb["lon"]), float(pb["lat"])),
        limit_m=limit_m,
    )


def test_point_to_point_path(fx):
    # G3: the whole node chain equals a heapq golden with the (dist, prev)
    # tie-break, cum_m its distance, every step an edge weight; start ==
    # target is one row at 0 m, a target beyond limit_m an empty route
    n = len(fx["gnodes_pdf"])
    adj = [[] for _ in range(n)]
    for r in fx["gedges_pdf"].itertuples():
        adj[int(r.src)].append((int(r.dst), float(r.w)))
    ge = fx["gedges_pdf"].set_index(["src", "dst"])["w"]
    for a, b in [(30, 350), (0, 399), (150, 151), (77, 311), (5, 205)]:
        path = _route(fx, a, b).toPandas()
        assert path["seq"].tolist() == list(range(len(path)))
        assert path["node_idx"].tolist() == gf.golden_route(fx["gedges_pdf"], a, b, 5000.0), (a, b)
        want = gf._single_source_dijkstra(adj, a, n)[b]
        assert abs(path["cum_m"].iloc[-1] - want) < 1e-2, (a, b)
        assert path["step_m"].iloc[0] == 0.0
        for i in range(1, len(path)):
            u, v = int(path["node_idx"].iloc[i - 1]), int(path["node_idx"].iloc[i])
            assert abs(path["step_m"].iloc[i] - float(ge.loc[(u, v)])) < 1e-3, (a, b, u, v)
    same = _route(fx, 42, 42).toPandas()
    assert same["node_idx"].tolist() == [42] and same["cum_m"].tolist() == [0.0]
    assert gf.golden_route(fx["gedges_pdf"], 0, 399, 100.0) == []
    assert len(_route(fx, 0, 399, limit_m=100.0).toPandas()) == 0


def test_point_to_point_path_jobs(spark, fx):
    # the target's snap and the one disc read, which also snaps the start:
    # the solve, walk and re-cost run on the driver, and the route
    # collects as a local relation.  The disc read is its broadcast, its
    # result stage and one 1-task job per cached fixture table it scans
    # (none on parquet tables)
    from .test_layout import _jobs_started

    n_jobs, path = _jobs_started(spark, lambda: _route(fx, 30, 350).collect())
    assert len(path) > 1
    assert n_jobs <= 4, n_jobs


def test_path_to_nearest_poi(fx, reach_ctx):
    q = fx["gnodes_pdf"].iloc[150]
    path = query.path_to_nearest_poi(
        fx["gnodes"],
        fx["gedges"],
        reach_ctx["pois_sdf"],
        float(q["lon"]),
        float(q["lat"]),
        "supermarket",
        limit_m=LIMIT_M,
    ).toPandas()
    assert len(path) >= 1
    assert path["seq"].tolist() == list(range(len(path)))
    assert path.iloc[0]["node_idx"] == q["node_idx"]
    assert path.iloc[0]["step_m"] == 0.0
    # cum_m at the end equals the reach distance at the start node
    want = (
        reach_ctx["reach"]
        .where((F.col("node_idx") == int(q["node_idx"])) & (F.col("category") == "supermarket"))
        .first()
    )
    assert abs(path["cum_m"].iloc[-1] - want["dist_m"]) < 1e-2
    # last node is the winning POI's node
    snapped = reach_ctx["snapped"]
    end_node = int(path.iloc[-1]["node_idx"])
    assert end_node in set(snapped[snapped["category"] == "supermarket"]["node_idx"].astype(int))
    # every step's weight matches the edge table (float32 tolerance)
    ge = fx["gedges_pdf"].set_index(["src", "dst"])["w"]
    for i in range(1, len(path)):
        u, v = int(path.iloc[i - 1]["node_idx"]), int(path.iloc[i]["node_idx"])
        assert abs(path.iloc[i]["step_m"] - float(ge.loc[(u, v)])) < 1e-3


def _nearest_poi_path(fx, reach_ctx, node: int, category: str, limit_m: float = LIMIT_M):
    q = fx["gnodes_pdf"].iloc[node]
    return query.path_to_nearest_poi(
        fx["gnodes"], fx["gedges"], reach_ctx["pois_sdf"], float(q["lon"]), float(q["lat"]),
        category, limit_m=limit_m,
    )


def test_path_reads_only_its_disc(fx, reach_ctx, monkeypatch):
    # the driver receives the disc slice, never the whole graph: the
    # request collects no snap row, only ONE Arrow frame that holds
    # exactly the nodes within max_snap_m + limit_m (+1 m) of the query
    # point, the edges with both ends among them and the category's seeds
    # on them; the snap comes from that frame
    from pyspark.sql.classic.dataframe import DataFrame

    collected, arrow = [], []
    orig_collect, orig_pandas = DataFrame.collect, DataFrame.toPandas

    def spy_collect(self):
        rows = orig_collect(self)
        collected.append(len(rows))
        return rows

    def spy_pandas(self):
        pdf = orig_pandas(self)
        arrow.append(pdf)
        return pdf

    monkeypatch.setattr(DataFrame, "collect", spy_collect)
    monkeypatch.setattr(DataFrame, "toPandas", spy_pandas)
    _nearest_poi_path(fx, reach_ctx, 150, "supermarket", limit_m=300.0)
    monkeypatch.undo()
    assert collected == [] and len(arrow) == 1, (collected, len(arrow))
    g, e = fx["gnodes_pdf"], fx["gedges_pdf"]
    q = g.iloc[150]
    d = gf.haversine_np(g["lon"].to_numpy(float), g["lat"].to_numpy(float), float(q["lon"]), float(q["lat"]))
    radius = query.MAX_SNAP_M_DEFAULT + 300.0 + query._DISC_PAD_M
    assert np.abs(d - radius).min() > 1e-3  # no node on the rim
    inside = set(g["node_idx"][d <= radius].astype(int))
    snapped = reach_ctx["snapped"]
    n_seeds = int(((snapped["category"] == "supermarket") & snapped["node_idx"].isin(inside)).sum())
    n_edges = int((e["src"].isin(inside) & e["dst"].isin(inside)).sum())
    disc = arrow[0]
    assert len(disc) == len(inside) + n_edges + n_seeds
    assert set(disc["node_idx"]) == inside
    assert len(inside) < len(g)  # the disc, not the graph


def test_path_raises_on_zero_weight_prev_cycle(spark):
    # zero-weight edges 5->3, 3->1, 1->3 from a seed on node 5 leave
    # prev[3]=1 and prev[1]=3 under the (dist, poi_id, prev) tie-break:
    # the walk must raise instead of walking the cycle forever
    nodes = spark.createDataFrame(
        [(i, 18.5 + 0.001 * i, 54.4) for i in range(6)], "node_idx INT, lon DOUBLE, lat DOUBLE"
    )
    edges = spark.createDataFrame([(5, 3, 0.0), (3, 1, 0.0), (1, 3, 0.0)], "src INT, dst INT, w DOUBLE")
    pois = spark.createDataFrame([(7, "supermarket", 5)], "poi_id BIGINT, category STRING, node_idx INT")

    with pytest.raises(RuntimeError, match="path backtrack did not converge"):
        query.path_to_nearest_poi(nodes, edges, pois, 18.501, 54.4, "supermarket")


def _spark_recost(nodes, edges, chain: list[int]):
    """The reference G5 + W1 re-cost as a Spark plan, an oracle
    independent of the driver's: pair consecutive chain nodes (lag), join
    the edge table for the step weight with the haversine R=6371000
    fallback where a step has no edge in that direction, and sum the
    running total over a window."""
    from pyspark.sql import Window

    path = nodes.sparkSession.createDataFrame(
        [(i, int(n)) for i, n in enumerate(chain)], "seq INT, node_idx INT"
    )
    w_seq = Window.orderBy("seq")
    paired = (
        path.join(nodes.select("node_idx", "lon", "lat"), "node_idx")
        .withColumn("prev_node", F.lag("node_idx").over(w_seq))
        .withColumn("prev_lon", F.lag("lon").over(w_seq))
        .withColumn("prev_lat", F.lag("lat").over(w_seq))
    )
    e = edges.select(F.col("src").alias("prev_node"), F.col("dst").alias("node_idx"), "w")
    step = F.when(F.col("prev_node").isNull(), F.lit(0.0)).otherwise(
        F.coalesce(
            F.col("w").cast("double"),
            geo.haversine_m(F.col("prev_lon"), F.col("prev_lat"), F.col("lon"), F.col("lat"), geo.R_QUERY_M),
        )
    )
    w_cum = w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return (
        paired.join(e, ["prev_node", "node_idx"], "left")
        .withColumn("step_m", step.cast("float"))
        .withColumn("cum_m", F.sum("step_m").over(w_cum).cast("float"))
        .select("seq", "node_idx", "lon", "lat", "step_m", "cum_m")
        .orderBy("seq")
    )


def test_path_recost_falls_back_to_haversine_on_one_way_steps(spark):
    # a line 0-1-2-3 whose edges run only toward the start, except 2<->3:
    # the chain 0 -> 1 -> 2 -> 3 walks 0->1 and 1->2 against their edges,
    # so those steps weigh the R=6371000 haversine, and 2->3 its edge
    raw = spark.createDataFrame(
        [(100 + i, 18.5 + 0.0008 * i, 54.4 + 0.0001 * i) for i in range(4)],
        "osm_node_id BIGINT, lon DOUBLE, lat DOUBLE",
    )
    raw_edges = spark.createDataFrame([(100 + i, 101 + i) for i in range(3)], "u BIGINT, v BIGINT")
    nodes, both = graph_build.build_graph(raw, raw_edges)
    edges = both.where((F.col("src") > F.col("dst")) | (F.col("src") == 2)).cache()
    assert edges.count() == 4
    pois = spark.createDataFrame([(9, "park", 3)], "poi_id BIGINT, category STRING, node_idx INT")
    start = nodes.where(F.col("node_idx") == 0).first()
    got = query.path_to_nearest_poi(nodes, edges, pois, start["lon"], start["lat"], "park").toPandas()
    assert got["node_idx"].tolist() == [0, 1, 2, 3]
    exp = (
        _spark_recost(nodes, edges, [0, 1, 2, 3])
        .select("*", F.lit(9).cast("bigint").alias("poi_id"), F.lit("park").alias("category"))
        .toPandas()
    )
    pd.testing.assert_frame_equal(got, exp, check_exact=True)
    w = {(r["src"], r["dst"]): r["w"] for r in both.collect()}
    ll = nodes.orderBy("node_idx").toPandas()
    for i in (1, 2):  # the fallback fired: not the edge weight, the query radius
        hv = gf.haversine_np(ll["lon"][i - 1], ll["lat"][i - 1], ll["lon"][i], ll["lat"][i], r=geo.R_QUERY_M)
        assert got["step_m"][i] == np.float32(hv) != np.float32(w[(i - 1, i)])
    assert got["step_m"][3] == np.float32(w[(2, 3)])


def _whole_graph_chain(fx, s_pdf, tip: int, limit_m: float):
    """(poi_id, chain) of the driver kernel over the WHOLE edge table."""
    e_pdf = fx["gedges"].select("src", "dst", F.col("w").cast("double").alias("w")).toPandas()
    return reach.nearest_seed_chain(e_pdf, s_pdf, tip, limit_m)


def test_disc_paths_equal_whole_graph_solve(spark, fx, reach_ctx):
    # G4 and G3 read only the graph inside the max_snap_m + limit_m disc
    # of their start point; each path must equal the driver kernel's
    # whole-graph solve, re-costed by the Spark oracle, row for row and
    # bit for bit.  "off_west" lies ~195 m
    # off the lattice's south-west corner, so a disc that left out
    # max_snap_m would cut its chains; nodes 3 and 13 sit on the south
    # and east edges.
    g = fx["gnodes_pdf"]
    corner = g.loc[(g["lon"] + g["lat"]).idxmin()]
    seed_nodes = set(reach_ctx["snapped"]["node_idx"].astype(int))
    lonely = next(i for i in range(len(g)) if i not in seed_nodes)
    pts = {n: (float(g.iloc[n]["lon"]), float(g.iloc[n]["lat"])) for n in (3, 13, 102, lonely)}
    pts["off_west"] = (float(corner["lon"]) - 0.003, float(corner["lat"]) + 0.0001)
    # the off-west disc leaves part of the lattice out, and its snap is a
    # real detour
    d = gf.haversine_np(g["lon"].to_numpy(float), g["lat"].to_numpy(float), *pts["off_west"])
    assert (d > query.MAX_SNAP_M_DEFAULT + 700.0 + 1.0).any()
    assert d.min() > 150.0

    def tip(lonlat):
        return snap.snap_single_point(fx["gnodes"], *lonlat, max_snap_m=query.MAX_SNAP_M_DEFAULT)[0]

    g4_cases = [("off_west", "park", 700.0), (3, "bus_stop", 300.0), (13, "supermarket", 500.0),
                (lonely, "supermarket", 1.0)]
    for start, cat, lim in g4_cases:
        got = query.path_to_nearest_poi(
            fx["gnodes"], fx["gedges"], reach_ctx["pois_sdf"], *pts[start], cat, limit_m=lim
        ).toPandas()
        seeds = reach_ctx["pois_sdf"].where(F.col("category") == cat).select("node_idx", "category", "poi_id")
        want = _whole_graph_chain(fx, seeds.toPandas(), tip(pts[start]), lim)
        if start == lonely:
            assert want is None and got.empty  # no POI within 1 m
            continue
        assert len(want[1]) > 2, (start, cat)
        exp = (
            _spark_recost(fx["gnodes"], fx["gedges"], want[1])
            .select("*", F.lit(want[0]).cast("bigint").alias("poi_id"), F.lit(cat).alias("category"))
            .toPandas()
        )
        pd.testing.assert_frame_equal(got, exp, check_exact=True, obj=f"{start}/{cat}")

    # off_west -> 3: 393 m of network from the snapped corner node, and
    # node 3 lies ~455 m from the query point, past limit_m alone
    g3_cases = [("off_west", 3, 400.0), (13, 102, 1100.0), (3, 13, 1000.0)]
    for a, b, lim in g3_cases:
        got = query.point_to_point_path(fx["gnodes"], fx["gedges"], pts[a], pts[b], limit_m=lim).toPandas()
        seed = pd.DataFrame({"node_idx": [tip(pts[a])], "category": ["route"], "poi_id": [0]})
        want = _whole_graph_chain(fx, seed, tip(pts[b]), lim)
        if (a, b) == (3, 13):
            assert want is None and got.empty  # 1,443 m of network: beyond limit_m
            continue
        assert len(want[1]) > 2, (a, b)
        exp = _spark_recost(fx["gnodes"], fx["gedges"], want[1][::-1]).toPandas()
        pd.testing.assert_frame_equal(got, exp, check_exact=True, obj=f"{a}->{b}")


def test_path_to_nearest_poi_warm_jobs(spark, fx, reach_ctx):
    # a warm path request is its disc read with its one broadcast (and,
    # as in test_point_to_point_path_jobs, one job per cached fixture
    # table); the snap, solve, walk and re-cost run on the driver, and
    # the answer collects as a local relation
    from .test_layout import _jobs_started

    _nearest_poi_path(fx, reach_ctx, 150, "supermarket").collect()
    n_jobs, path = _jobs_started(spark, lambda: _nearest_poi_path(fx, reach_ctx, 150, "supermarket").collect())
    assert len(path) > 1
    assert n_jobs <= 4, n_jobs


@pytest.fixture(scope="module")
def g7_layouts(fx, reach_ctx, tmp_path_factory):
    """The lattice's node and reach tables written through the z-order
    layout over the lattice's extent."""
    from fifteenmc_spark.plans import layout

    g = fx["gnodes_pdf"]
    bbox = (float(g["lon"].min()), float(g["lat"].min()), float(g["lon"].max()), float(g["lat"].max()))
    d = tmp_path_factory.mktemp("g7_layouts")
    layout.write_zorder_layout(fx["gnodes"], str(d / "nodes"), bbox)
    reach.write_reach_zordered(reach_ctx["reach"], fx["gnodes"], str(d / "reach"), bbox)
    return {"nodes": str(d / "nodes"), "reach": str(d / "reach"), "bbox": bbox}


def test_path_answers_collect_without_a_job(spark, fx, reach_ctx, g7_layouts):
    # every G7 and path answer, empty or not, is a local relation: after
    # the request's own collects, collecting it starts no Spark job.  A
    # pickled or pandas-fallback frame would start one per action.
    from .test_layout import _jobs_started

    q = fx["gnodes_pdf"].iloc[150]
    lon, lat = float(q["lon"]), float(q["lat"])
    lonely = next(i for i in range(len(fx["gnodes_pdf"])) if i not in set(reach_ctx["snapped"]["node_idx"]))

    def g7_scan(lon, lat, **kw):
        return query.point_reachability(
            reach_ctx["reach"], fx["gnodes"], lon, lat, max_snap_m=query.MAX_SNAP_M_DEFAULT, **kw
        )

    def g7_zorder(lon, lat, **kw):
        return query.point_reachability_zordered(
            spark, None, g7_layouts["nodes"], g7_layouts["bbox"], lon, lat,
            reach_layout_path=g7_layouts["reach"], **kw,
        )

    answers = {
        "path": _nearest_poi_path(fx, reach_ctx, 150, "supermarket"),
        "no POI within limit_m": _nearest_poi_path(fx, reach_ctx, lonely, "supermarket", limit_m=1.0),
        "no snap": query.path_to_nearest_poi(
            fx["gnodes"], fx["gedges"], reach_ctx["pois_sdf"], lon + 1.0, lat, "supermarket"
        ),
        "route": _route(fx, 30, 350),
        "route beyond limit_m": _route(fx, 0, 399, limit_m=100.0),
    }
    for form, g7 in (("g7_scan", g7_scan), ("g7_zorder", g7_zorder)):
        answers[form] = g7(lon, lat)
        answers[f"{form} no snap"] = g7(lon + 1.0, lat)
        answers[f"{form} one category"] = g7(lon, lat, categories=["supermarket"])
    n_rows = {}
    for name, df in answers.items():
        n_jobs, rows = _jobs_started(spark, df.collect)
        assert n_jobs == 0, (name, n_jobs)
        n_rows[name] = len(rows)
    assert {k for k, n in n_rows.items() if n > 1} == {"path", "route", "g7_scan", "g7_zorder"}, n_rows
    assert n_rows["g7_scan one category"] == n_rows["g7_zorder one category"] == 1, n_rows
    assert n_rows["g7_scan no snap"] == n_rows["g7_zorder no snap"] == 0, n_rows


# ---------------------------------------------------------------------------
# J4 and P6 on the driver: a tie, the snap radius's edge, a float64 radius
# ---------------------------------------------------------------------------
# a query point on the meridian between two nodes 2**-10 degrees either
# side of it: every coordinate and difference is exact in binary, so both
# nodes lie at bit-identical haversine distances.  Node 1 (east) is
# stored first, node 0 (west) second; node 2 holds the park.
_TWIN_LON, _TWIN_LAT, _TWIN_D = 18.5, 54.375, 2.0**-10


@pytest.fixture(scope="module")
def twin(spark, tmp_path_factory):
    from fifteenmc_spark.plans import layout

    nodes = spark.createDataFrame(
        [(1, _TWIN_LON + _TWIN_D, _TWIN_LAT), (0, _TWIN_LON - _TWIN_D, _TWIN_LAT),
         (2, _TWIN_LON + 3 * _TWIN_D, _TWIN_LAT)],
        "node_idx INT, lon DOUBLE, lat DOUBLE",
    )
    edges = spark.createDataFrame(
        [(0, 1, 126.0), (1, 0, 126.0), (1, 2, 126.0), (2, 1, 126.0)], "src INT, dst INT, w FLOAT"
    )
    pois = spark.createDataFrame([(9, "park", 2)], "poi_id BIGINT, category STRING, node_idx INT")
    # float32 distances, as the gold reach table stores them
    reach_rows = spark.createDataFrame(
        [(n, "park", float(np.float32(d)), float(np.float32(d / geo.WALK_SPEED_MPS)), 9)
         for n, d in ((0, 252.3), (1, 126.1), (2, 0.0))]
        + [(0, "cafe", float(np.float32(80.7)), 72.6, 5), (1, "cafe", float(np.float32(85.1)), 76.6, 5)],
        "node_idx INT, category STRING, dist_m FLOAT, time_s FLOAT, poi_id BIGINT",
    )
    bbox = (_TWIN_LON - 0.01, _TWIN_LAT - 0.01, _TWIN_LON + 0.01, _TWIN_LAT + 0.01)
    d = tmp_path_factory.mktemp("twin")
    layout.write_zorder_layout(nodes, str(d / "nodes"), bbox)
    reach.write_reach_zordered(reach_rows, nodes, str(d / "reach"), bbox)
    return {"nodes": nodes, "edges": edges, "pois": pois, "reach": reach_rows, "bbox": bbox,
            "nodes_path": str(d / "nodes"), "reach_path": str(d / "reach")}


def _twin_answers(spark, twin, lon, lat, max_snap_m=query.MAX_SNAP_M_DEFAULT, radius_m=1000.0, path=True):
    """G7 (full scan, z-ordered) and, with ``path``, path-to-nearest-POI at
    one point."""
    kw = {"radius_m": radius_m, "max_snap_m": max_snap_m}
    out = {
        "g7_scan": query.point_reachability(twin["reach"], twin["nodes"], lon, lat, **kw).toPandas(),
        "g7_zorder": query.point_reachability_zordered(
            spark, None, twin["nodes_path"], twin["bbox"], lon, lat, reach_layout_path=twin["reach_path"], **kw
        ).toPandas(),
    }
    if path:
        out["path"] = query.path_to_nearest_poi(
            twin["nodes"], twin["edges"], twin["pois"], lon, lat, "park", max_snap_m=max_snap_m
        ).toPandas()
    return out


def _g7_oracle(twin, node_idx, radius_m):
    """The G7 answer at a known node by the Spark filter and sort."""
    return (
        twin["reach"]
        .where((F.col("node_idx") == node_idx) & F.col("dist_m").isNotNull() & (F.col("dist_m") <= F.lit(radius_m)))
        .select("category", "dist_m", "time_s", "poi_id")
        .orderBy("dist_m", "category")
        .toPandas()
    )


def test_equidistant_point_snaps_to_the_smaller_node_idx(spark, twin):
    # J4's tie-break is the minimum (distance, node_idx), as
    # snap_single_point orders it, in every G7 and path form
    dists = [r[0] for r in twin["nodes"].where(F.col("node_idx") < 2)
             .select(snap.snap_m(_TWIN_LON, _TWIN_LAT)).collect()]
    assert dists[0] == dists[1] > 0.0  # a true tie
    assert snap.snap_single_point(twin["nodes"], _TWIN_LON, _TWIN_LAT, max_snap_m=300.0)[0] == 0
    got = _twin_answers(spark, twin, _TWIN_LON, _TWIN_LAT)
    want = _g7_oracle(twin, 0, 1000.0)
    assert want["poi_id"].tolist() == [5, 9]  # node 0's rows, not node 1's
    for form in ("g7_scan", "g7_zorder"):
        pd.testing.assert_frame_equal(got[form], want, check_exact=True, obj=form)
    assert got["path"]["node_idx"].tolist() == [0, 1, 2]


def test_node_at_exactly_max_snap_m_is_kept(spark, twin):
    # the snap keeps a node whose distance equals max_snap_m (<=), and a
    # radius one ulp shorter snaps nothing
    lon, lat = _TWIN_LON - 5 * _TWIN_D, _TWIN_LAT  # nearest: node 0, ~250 m west
    edge = twin["nodes"].where(F.col("node_idx") == 0).select(snap.snap_m(lon, lat)).first()[0]
    got = _twin_answers(spark, twin, lon, lat, max_snap_m=edge)
    pd.testing.assert_frame_equal(got["g7_scan"], _g7_oracle(twin, 0, 1000.0), check_exact=True)
    pd.testing.assert_frame_equal(got["g7_zorder"], got["g7_scan"], check_exact=True)
    assert got["path"]["node_idx"].tolist() == [0, 1, 2]
    short = _twin_answers(spark, twin, lon, lat, max_snap_m=float(np.nextafter(edge, 0.0)))
    assert all(df.empty for df in short.values()), {k: len(v) for k, v in short.items()}


def test_g7_radius_compares_in_float64(spark, twin):
    # radius_m just under a float32 dist_m is not a float32 value: Spark
    # widens the FLOAT dist_m and drops the row, a float32 comparison
    # would round the radius up onto it and keep it
    d = float(np.float32(126.1))
    for radius in (float(np.nextafter(d, 0.0)), d):
        want = _g7_oracle(twin, 1, radius)
        assert len(want) == (2 if radius == d else 1)
        lon = _TWIN_LON + _TWIN_D  # on node 1
        got = _twin_answers(spark, twin, lon, _TWIN_LAT, radius_m=radius, path=False)
        for form in got:
            pd.testing.assert_frame_equal(got[form], want, check_exact=True, obj=f"{form} at {radius!r}")


def test_compute_reach_refuses_buffer_narrower_than_limit(spark, fx, reach_ctx):
    # the guard measures the halo on the ground at the edge-weight radius:
    # a nominal 1.0 km buffer is 998.9 m of latitude (111.32 km/deg
    # against R = 6371008.8 m), so it cannot serve limit_m = 1000
    args = (fx["gnodes"], fx["gedges"], reach_ctx["pois_sdf"])
    one_km = grid.tiles_over(fx["gnodes"], buffer_km=1.0)
    assert 998.0 < reach._buffer_width_m(one_km.collect()) < 999.0
    with pytest.raises(ValueError, match="tile buffer"):
        reach.compute_reach(*args, one_km, limit_m=1000.0)
    reach.compute_reach(*args, one_km, limit_m=998.0)  # plans without raising
    # the longitude halo is sized at maxlat, the latitude nearest the
    # equator in the south: a nominal 1.1 km halo over -60..-50 is only
    # ~855 m wide at -60, while the same halo over 50..60 keeps ~1.1 km
    south = grid.generate_tiles(spark, (20.0, -60.0, 20.5, -50.0), tile_km=10.0, buffer_km=1.1)
    north = grid.generate_tiles(spark, (20.0, 50.0, 20.5, 60.0), tile_km=10.0, buffer_km=1.1)
    assert reach._buffer_width_m(south.collect()) < 860.0
    assert reach._buffer_width_m(north.collect()) > 1090.0
    with pytest.raises(ValueError, match="tile buffer"):
        reach.compute_reach(*args, south, limit_m=1000.0)
    reach.compute_reach(*args, north, limit_m=1000.0)


def test_snap_batch_seam_matches_numpy_golden(spark):
    """Randomized seam corpus vs a NumPy wrapped-Mercator argmin golden:
    200 nodes scattered within ~1 km of lon=±180 on both sides (plus an
    interior control cluster), 60 probe points — the batch snap's winner
    and distance must match the brute-force wrapped metric for every
    probe (r15 seam-ghost regression net)."""
    import numpy as np

    rng = np.random.RandomState(7)
    R = 6378137.0
    world_w = 2.0 * np.pi * R

    def lon_jitter(n, scale_deg):
        return (rng.rand(n) * 2 - 1) * scale_deg

    node_lons = np.concatenate([
        180.0 - np.abs(lon_jitter(80, 0.01)),          # east side of seam
        -180.0 + np.abs(lon_jitter(80, 0.01)),         # west side
        20.0 + lon_jitter(40, 0.01),                   # interior control
    ])
    node_lats = lon_jitter(200, 0.02)
    nodes_pdf = pd.DataFrame({
        "node_idx": np.arange(200, dtype=np.int32),
        "lon": node_lons, "lat": node_lats,
    })
    probe_lons = np.concatenate([
        180.0 - np.abs(lon_jitter(25, 0.004)),
        -180.0 + np.abs(lon_jitter(25, 0.004)),
        20.0 + lon_jitter(10, 0.004),
    ])
    probe_lats = lon_jitter(60, 0.015)
    pts_pdf = pd.DataFrame({
        "poi_id": np.arange(60, dtype=np.int32),
        "lon": probe_lons, "lat": probe_lats,
    })

    def merc(lon, lat):
        x = R * np.radians(lon)
        y = R * np.log(np.tan(np.pi / 4 + np.radians(lat) / 2))
        return x, y

    nx, ny = merc(node_lons, node_lats)
    px, py = merc(probe_lons, probe_lats)
    # wrapped Euclidean 3857: dx reduced modulo the world width
    dx = np.abs(px[:, None] - nx[None, :])
    dx = np.minimum(dx, world_w - dx)
    dy = py[:, None] - ny[None, :]
    dist = np.sqrt(dx * dx + dy * dy)
    within = dist <= 300.0
    golden_idx = np.where(within.any(axis=1), dist.argmin(axis=1), -1)
    golden_d = dist.min(axis=1)

    got = {
        r["poi_id"]: r
        for r in snap.snap_points_to_nodes(
            spark.createDataFrame(pts_pdf),
            spark.createDataFrame(nodes_pdf),
            max_snap_m=300.0,
        ).collect()
    }
    for i in range(60):
        g = got[i]
        if golden_idx[i] < 0:
            assert g["node_idx"] is None, f"probe {i} should be unmatched"
        else:
            assert g["node_idx"] == golden_idx[i], (
                f"probe {i}: {g['node_idx']} != {golden_idx[i]}"
            )
            assert abs(g["dist_to_node_m"] - golden_d[i]) < 0.01 * golden_d[i] + 0.01
