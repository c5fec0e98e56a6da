"""Bench-scale geo smoke: the G2 reach kernel at 9x the golden fixture's
node count (60x60 lattice -> 3,600 nodes, ~14k canonical directed edges)
checked against the independent numpy heap oracle.

The golden suite (test_geo_pipeline) pins correctness at k=20; this file
is the "would it survive a scale-up" guard the 100 TB brief asks for on
the geospatial side, mirroring the streaming surface's sf0.1 smoke: the
per-tile solve must stay correct when the graph is an order of magnitude
past the fixture and spread over a 4x4-ish grid of 1 km tiles, each solved
in its own task.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.plans import graph_build, grid, reach

from . import geo_fixtures as gf

K_BENCH = 60
LIMIT_M = 300.0  # ~5-9 lattice hops
TILE_KM, BUFFER_KM = 1.0, 0.4  # 398 m of halo on the ground > LIMIT_M


@pytest.fixture(scope="module")
def bfx(spark):
    nodes_pdf = gf.lattice_nodes(k=K_BENCH)
    edges_pdf = gf.lattice_edges_raw(nodes_pdf, k=K_BENCH)
    pois_pdf = gf.poi_fixture(nodes_pdf, k=K_BENCH)
    gnodes_pdf, gedges_pdf = gf.golden_canonical_graph(nodes_pdf, edges_pdf)

    gnodes, gedges = graph_build.build_graph(
        spark.createDataFrame(nodes_pdf),
        graph_build.clean_walkable_edges(spark.createDataFrame(edges_pdf)),
    )
    gnodes, gedges = gnodes.cache(), gedges.cache()
    assert gnodes.count() == K_BENCH * K_BENCH

    snapped = gf.golden_snap(pois_pdf, gnodes_pdf, max_snap_m=300.0)
    snapped = snapped[snapped["node_idx"] >= 0].copy()
    pois_sdf = spark.createDataFrame(
        snapped[["poi_id", "category", "node_idx"]].astype({"node_idx": "int32"})
    )
    return {
        "gnodes": gnodes,
        "gedges": gedges,
        "gnodes_pdf": gnodes_pdf,
        "gedges_pdf": gedges_pdf,
        "snapped": snapped,
        "pois_sdf": pois_sdf,
    }


def test_bench_scale_halo_assignment_matches_golden(spark):
    """Q1 at point volume: 10,000 random points against a 20x16-ish tile
    grid — the broadcast bbox join must reproduce a vectorized numpy
    containment oracle exactly, in both buffer (1-to-many halo) and
    strict (partition) modes; strict mode must assign every in-bbox point
    exactly once."""
    from fifteenmc_spark.plans import grid

    bbox = (18.40, 54.20, 18.90, 54.60)
    tiles = grid.generate_tiles(spark, bbox, tile_km=2.0, buffer_km=0.5).cache()
    tp = tiles.select("grid_id", "tile_bbox", "buffer_bbox").toPandas()
    rng = np.random.RandomState(5)
    pts = pd.DataFrame(
        {
            "pid": np.arange(10_000, dtype=np.int64),
            "lon": rng.uniform(bbox[0] - 0.02, bbox[2] + 0.02, 10_000),
            "lat": rng.uniform(bbox[1] - 0.02, bbox[3] + 0.02, 10_000),
        }
    )
    pts_sdf = spark.createDataFrame(pts).cache()

    def golden(use_buffer):
        key = "buffer_bbox" if use_buffer else "tile_bbox"
        out = set()
        lon, lat = pts["lon"].to_numpy(), pts["lat"].to_numpy()
        for t in tp.itertuples():
            b = getattr(t, key)
            hit = (
                (lon >= b["minlon"]) & (lon < b["maxlon"])
                & (lat >= b["minlat"]) & (lat < b["maxlat"])
            )
            out.update((int(p), t.grid_id) for p in pts["pid"].to_numpy()[hit])
        return out

    for use_buffer in (True, False):
        got = {
            (r["pid"], r["grid_id"])
            for r in grid.assign_points_to_tiles(pts_sdf, tiles, use_buffer=use_buffer)
            .select("pid", "grid_id")
            .collect()
        }
        want = golden(use_buffer)
        assert got == want
        if use_buffer:
            # halo mode is genuinely 1-to-many somewhere
            assert len(want) > len({p for p, _ in want})
        else:
            # strict tile bboxes partition the plane: one tile per point
            per_point: dict = {}
            for p, g in want:
                per_point.setdefault(p, []).append(g)
            assert all(len(v) == 1 for v in per_point.values())
    pts_sdf.unpersist()
    tiles.unpersist()


def test_bench_scale_snap_matches_golden(spark, bfx):
    """J2 at point volume: 2,000 query points bucket-snapped against the
    3,600-node lattice must agree with the exact full-distance-matrix
    oracle (nearest node, tie -> smaller node_idx, max-snap rejection).
    Exercises the 3x3-ring candidate join where most cells hold multiple
    nodes AND many points fall outside the snap radius."""
    rng = np.random.RandomState(77)
    g = bfx["gnodes_pdf"]
    lon0, lon1 = float(g["lon"].min()), float(g["lon"].max())
    lat0, lat1 = float(g["lat"].min()), float(g["lat"].max())
    # spread beyond the lattice so a margin of points gets rejected
    pts = pd.DataFrame(
        {
            "poi_id": np.arange(2000, dtype=np.int64),
            "lon": rng.uniform(lon0 - 0.01, lon1 + 0.01, 2000),
            "lat": rng.uniform(lat0 - 0.006, lat1 + 0.006, 2000),
        }
    )
    from fifteenmc_spark.plans import snap

    got = (
        snap.snap_points_to_nodes(spark.createDataFrame(pts), bfx["gnodes"], max_snap_m=120.0)
        .orderBy("poi_id")
        .toPandas()
    )
    want = gf.golden_snap(pts, g, max_snap_m=120.0)
    n_rej = 0
    for gr, wr in zip(got.itertuples(), want.itertuples()):
        if wr.node_idx == -1:
            n_rej += 1
            assert gr.node_idx is None or pd.isna(gr.node_idx), f"point {gr.poi_id}"
        else:
            assert gr.node_idx == wr.node_idx, f"point {gr.poi_id}"
            assert abs(gr.dist_to_node_m - wr.dist_to_node_m) < 1e-2
    assert 0 < n_rej < len(pts)  # both regimes really exercised


def test_bench_scale_reach_matches_golden(bfx):
    tiles = grid.tiles_over(bfx["gnodes"], TILE_KM, BUFFER_KM).cache()
    assert tiles.count() >= 9
    got_all = (
        reach.densify_reach(  # golden checks every node's row
            reach.compute_reach(bfx["gnodes"], bfx["gedges"], bfx["pois_sdf"], tiles, limit_m=LIMIT_M),
            bfx["gnodes"],
        )
        .cache()
    )
    n_nodes = K_BENCH * K_BENCH
    for cat in ("supermarket", "pharmacy"):
        sub = bfx["snapped"][bfx["snapped"]["category"] == cat]
        assert len(sub) > 0
        dist, winners = gf.golden_reach(
            bfx["gnodes_pdf"], bfx["gedges_pdf"], sub, LIMIT_M
        )
        got = got_all.where(F.col("category") == cat).orderBy("node_idx").toPandas()
        assert len(got) == n_nodes
        n_reach = 0
        for r in got.itertuples():
            want_d = dist[r.node_idx]
            if not np.isfinite(want_d):
                assert pd.isna(r.dist_m), f"node {r.node_idx} should be unreachable"
            else:
                n_reach += 1
                assert abs(r.dist_m - want_d) < 1e-2, f"node {r.node_idx}"
                assert r.poi_id in winners[r.node_idx], f"node {r.node_idx} winner"
        # the bounded region is a real neighborhood: non-trivial but far
        # from the whole lattice (the limit_m bound actually bit)
        assert 0 < n_reach < n_nodes
    got_all.unpersist()
    tiles.unpersist()
