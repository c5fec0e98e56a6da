"""The scale-out invariant, tested on the production path: compute_reach
solved per tile with a buffer halo equals the same solve over one tile
that holds the whole graph, row for row.

This is THE property that makes the engine tile-parallel at 100 TB
(SURVEY.md §3.1): because buffer > reach limit, no shortest path that ends
inside a tile's core can leave the tile's buffer, so tiles never need to
exchange state (grid_creation.py:235-236 + precompute_poi_reach.py:132 in
the reference: 2 km buffer vs 1 km limit).

Here: lattice fixture (~1.3 km × 1.3 km), tiles of 0.4 km with a 0.35 km
buffer, reach limit 300 m < buffer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.plans import graph_build, grid, reach, snap

from . import geo_fixtures as gf

LIMIT_M = 300.0
TILE_KM = 0.4
BUFFER_KM = 0.35


@pytest.fixture(scope="module")
def ctx(spark):
    nodes_pdf = gf.lattice_nodes()
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    pois_pdf = gf.poi_fixture(nodes_pdf)
    gnodes, gedges = graph_build.build_graph(
        spark.createDataFrame(nodes_pdf), graph_build.clean_walkable_edges(spark.createDataFrame(edges_pdf))
    )
    gnodes = gnodes.cache()
    gedges = gedges.cache()
    pois = snap.snap_points_to_nodes(spark.createDataFrame(pois_pdf), gnodes, max_snap_m=300.0).where(
        "node_idx IS NOT NULL"
    ).cache()
    return {
        "gnodes": gnodes,
        "gedges": gedges,
        "pois": pois,
        "tiles": grid.tiles_over(gnodes, TILE_KM, BUFFER_KM).cache(),
        "one_tile": grid.tiles_over(gnodes).cache(),
    }


def test_tiles_cover_and_buffer_exceeds_limit(ctx):
    # buffer must exceed the reach limit on the ground for the invariant
    assert reach._buffer_width_m(ctx["tiles"].collect()) > LIMIT_M
    assert ctx["tiles"].count() >= 4  # the lattice spans several tiles
    assert ctx["one_tile"].count() == 1
    # every node lies in exactly one tile core
    cores = grid.assign_points_to_tiles(ctx["gnodes"], ctx["tiles"], use_buffer=False)
    per_node = cores.groupBy("node_idx").count()
    assert per_node.count() == ctx["gnodes"].count()
    assert per_node.where(F.col("count") != 1).count() == 0


def test_per_tile_reach_equals_whole_graph(ctx):
    def solve(tiles) -> pd.DataFrame:
        return (
            reach.compute_reach(ctx["gnodes"], ctx["gedges"], ctx["pois"], tiles, limit_m=LIMIT_M)
            .orderBy("node_idx", "category")
            .toPandas()
        )

    tiled, whole = solve(ctx["tiles"]), solve(ctx["one_tile"])
    assert len(whole) > 0 and whole["category"].nunique() > 1
    # same rows, same float distances and times, same winning poi_id
    pd.testing.assert_frame_equal(tiled, whole, check_exact=True)


@pytest.fixture(scope="module")
def seam(spark):
    """The lattice moved onto the ±180 meridian: its west half lies just
    below +180, its east half just above -180."""
    nodes_pdf = gf.lattice_nodes()
    lon = nodes_pdf["lon"].astype(np.float64) - gf.ANCHOR_LON + 179.9905
    nodes_pdf = nodes_pdf.assign(lon=((lon + 180.0) % 360.0 - 180.0).astype(np.float32))
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    gnodes, gedges = graph_build.build_graph(
        spark.createDataFrame(nodes_pdf), graph_build.clean_walkable_edges(spark.createDataFrame(edges_pdf))
    )
    golden_nodes, golden_edges = gf.golden_canonical_graph(nodes_pdf, edges_pdf)
    # every 23rd node holds a POI, the categories alternating
    seeds = pd.DataFrame({"node_idx": np.arange(0, len(golden_nodes), 23, dtype=np.int32)})
    seeds["poi_id"] = 9_000 + seeds["node_idx"].astype(np.int64)
    seeds["category"] = np.where(np.arange(len(seeds)) % 2 == 0, "supermarket", "pharmacy")
    return {
        "gnodes": gnodes.cache(),
        "gedges": gedges.cache(),
        "pois": spark.createDataFrame(seeds),
        "golden_nodes": golden_nodes,
        "golden_edges": golden_edges,
        "seeds": seeds,
    }


def test_reach_across_the_antimeridian_matches_golden(seam):
    lon = seam["golden_nodes"]["lon"].to_numpy()
    assert (lon > 179.0).any() and (lon < -179.0).any()
    tiles = grid.tiles_over(seam["gnodes"], TILE_KM, BUFFER_KM).cache()
    # tiled in the eastward frame: a few cells across the seam, not 360 deg
    assert 4 <= tiles.count() <= 30
    got = (
        reach.compute_reach(seam["gnodes"], seam["gedges"], seam["pois"], tiles, limit_m=LIMIT_M)
        .toPandas()
    )
    west_of_seam = dict(zip(seam["golden_nodes"]["node_idx"], lon > 0))
    seed_node = dict(zip(seam["seeds"]["poi_id"], seam["seeds"]["node_idx"]))
    crossed = 0
    for cat in ("supermarket", "pharmacy"):
        sub = seam["seeds"][seam["seeds"]["category"] == cat]
        dist, winners = gf.golden_reach(seam["golden_nodes"], seam["golden_edges"], sub, LIMIT_M)
        rows = got[got["category"] == cat].set_index("node_idx")
        assert set(rows.index) == set(np.flatnonzero(np.isfinite(dist)))
        for node, r in rows.iterrows():
            assert abs(r["dist_m"] - dist[node]) < 1e-2, f"node {node}"
            assert r["poi_id"] in winners[node], f"node {node} winner"
            crossed += west_of_seam[node] != west_of_seam[seed_node[r["poi_id"]]]
    assert crossed > 0  # some nodes are served from across the seam


def test_compute_reach_refuses_tiles_around_the_globe(spark, seam):
    # the seam graph tiled in the plain frame spans 360 deg of longitude:
    # no frame gives each node one position, so the build refuses it
    lats = seam["golden_nodes"]["lat"]
    around = grid.generate_tiles(
        spark, (-179.999, float(lats.min()), 179.999, float(lats.max())), tile_km=100.0, buffer_km=2.0
    )
    with pytest.raises(ValueError, match="span"):
        reach.compute_reach(seam["gnodes"], seam["gedges"], seam["pois"], around, limit_m=LIMIT_M)
