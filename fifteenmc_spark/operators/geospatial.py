"""Declared geospatial queries — the oracle-checkable faces of the
plans/ modules (SURVEY.md §2.8 G2/G6, §2.2 Q1, §2.3 J2).

The full geospatial pipeline is golden-tested against numpy oracles in
tests/test_geo_pipeline.py (DuckDB has no graph/geo runtime for the E2E
path).  These queries project the same operators onto synthetic inputs
both engines can generate from `range()`, so the driver's DuckDB gate
checks the *kernels*: tile-lattice arithmetic, bucketed-kNN snap
semantics, and the bounded shortest-path relaxation loop.

All inputs are derived deterministically from spark.range / DuckDB range —
sf-independent by design (the operators are exercised at fixture scale;
their scale story lives in plans/ and is benchmarked separately).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from ..functions import geo
from ..io import local_frame
from ..plans import grid as grid_mod
from ..plans import layout as layout_mod
from ..plans import reach as reach_mod
from ..plans import snap as snap_mod
from .relational import _register

BBOX = (18.40, 54.20, 18.90, 54.60)
TILE_KM, BUFFER_KM = 10.0, 2.0


# ---------------------------------------------------------------------------
# g1: tile-grid generation (G6)
# ---------------------------------------------------------------------------
def _grid_consts() -> dict[str, float]:
    minlon, minlat, maxlon, maxlat = BBOX
    dlon_t, dlat_t, dlon_b, dlat_b = grid_mod.compute_degrees(maxlat, TILE_KM, BUFFER_KM)
    c0_lon = maxlon - 0.5 * dlon_t
    c0_lat = maxlat - 0.5 * dlat_t
    n_cols = int(math.ceil((c0_lon - (minlon - 0.5 * dlon_t)) / dlon_t)) + 1
    n_rows = int(math.ceil((c0_lat - (minlat - 0.5 * dlat_t)) / dlat_t)) + 1
    return dict(
        minlon=minlon, minlat=minlat, maxlon=maxlon, maxlat=maxlat,
        dlon_t=dlon_t, dlat_t=dlat_t, dlon_b=dlon_b, dlat_b=dlat_b,
        c0_lon=c0_lon, c0_lat=c0_lat, n_cols=n_cols, n_rows=n_rows,
    )


_G = _grid_consts()

# the tile lattice of BBOX in both the grid_id and buffer-box forms the
# g-queries read: CTEs ``cells`` and ``tiles`` (the cells overlapping BBOX)
_TILES_SQL = f"""cells AS (
      SELECT r.range AS row, c.range AS col,
             CAST({_G["c0_lon"]!r} AS DOUBLE) - c.range * CAST({_G["dlon_t"]!r} AS DOUBLE) AS clon,
             CAST({_G["c0_lat"]!r} AS DOUBLE) - r.range * CAST({_G["dlat_t"]!r} AS DOUBLE) AS clat
      FROM range(0, {_G["n_cols"]}) c CROSS JOIN range(0, {_G["n_rows"]}) r),
    tiles AS (
      SELECT 'r' || row || '_c' || col AS grid_id, row, col, clon, clat,
             clon - {0.5 * _G["dlon_t"]!r} - {_G["dlon_b"]!r} AS bminlon,
             clat - {0.5 * _G["dlat_t"]!r} - {_G["dlat_b"]!r} AS bminlat,
             clon + {0.5 * _G["dlon_t"]!r} + {_G["dlon_b"]!r} AS bmaxlon,
             clat + {0.5 * _G["dlat_t"]!r} + {_G["dlat_b"]!r} AS bmaxlat
      FROM cells
      WHERE NOT (clon + {0.5 * _G["dlon_t"]!r} <= {_G["minlon"]!r}
                 OR clon - {0.5 * _G["dlon_t"]!r} >= {_G["maxlon"]!r})
        AND NOT (clat + {0.5 * _G["dlat_t"]!r} <= {_G["minlat"]!r}
                 OR clat - {0.5 * _G["dlat_t"]!r} >= {_G["maxlat"]!r}))"""


def _points(spark, n: int, lon0: float, lat0: float, wlon: float, wlat: float):
    """(point_id, lon, lat): n pseudo-random points in the box [lon0,
    lon0 + wlon) x [lat0, lat0 + wlat) — the one point generator of g2,
    g4, g5 and g6.  _points_sql spells the same expression from the same
    float constants, so both engines compute identical doubles."""
    i = F.col("id")
    return spark.range(n).select(
        i.cast("int").alias("point_id"),
        (F.lit(lon0) + (((i * 37 + 11) % 193).cast("double") / 193.0) * wlon).alias("lon"),
        (F.lit(lat0) + (((i * 53 + 29) % 181).cast("double") / 181.0) * wlat).alias("lat"),
    )


def _points_sql(n: int, lon0: float, lat0: float, wlon: float, wlat: float) -> str:
    """CTE ``pts`` (point_id, lon, lat): oracle twin of _points."""
    return f"""pts AS (
      SELECT CAST(range AS INT) AS point_id,
             {lon0!r} + (CAST((range * 37 + 11) % 193 AS DOUBLE) / 193.0) * {wlon!r} AS lon,
             {lat0!r} + (CAST((range * 53 + 29) % 181 AS DOUBLE) / 181.0) * {wlat!r} AS lat
      FROM range(0, {n}))"""


_BBOX_PTS = (BBOX[0], BBOX[1], BBOX[2] - BBOX[0], BBOX[3] - BBOX[1])  # points over all of BBOX

_G1_SQL = f"""
    WITH {_TILES_SQL}
    SELECT grid_id, CAST(row AS INT) AS row, CAST(col AS INT) AS col,
           ROUND(clon, 6) AS clon, ROUND(clat, 6) AS clat,
           ROUND(bminlon, 6) AS buf_minlon, ROUND(bminlat, 6) AS buf_minlat
    FROM tiles
    ORDER BY grid_id
    """


@_register(
    "g1_grid_tiles",
    "Tile-grid lattice (G6, grid_creation.py:47-104): range×range cross "
    "join + column math, top-right anchored.  Oracle recomputes the "
    "lattice from the same scalar constants in DuckDB.",
    _G1_SQL,
    ("geo", "grid"),
)
def g1(spark, sf_dir):
    t = grid_mod.generate_tiles(spark, BBOX, TILE_KM, BUFFER_KM)
    return t.select(
        "grid_id",
        "row",
        "col",
        F.round(F.col("centroid.lon"), 6).alias("clon"),
        F.round(F.col("centroid.lat"), 6).alias("clat"),
        F.round(F.col("buffer_bbox.minlon"), 6).alias("buf_minlon"),
        F.round(F.col("buffer_bbox.minlat"), 6).alias("buf_minlat"),
    ).orderBy("grid_id")


# ---------------------------------------------------------------------------
# g2: kNN snap join (J2) on a synthetic lattice
# ---------------------------------------------------------------------------
_K = 20  # 400 nodes
_NPTS = 60

# node i: lattice position; point j: pseudo-random offset inside the lattice
_NODE_LON = "18.60 + CAST({i} % 20 AS DOUBLE) * 0.001"
_NODE_LAT = "54.35 + CAST({i} // 20 AS DOUBLE) * 0.0006"
_G2_BOX = (18.60, 54.35, 0.019, 0.0114)  # (lon0, lat0, wlon, wlat) over the lattice

_MERC_X = "(6378137.0 * RADIANS({lon}))"
_MERC_Y = "(6378137.0 * LN(TAN(PI() / 4.0 + RADIANS({lat}) / 2.0)))"

_G2_SQL = f"""
    WITH nodes AS (
      SELECT CAST(range AS INT) AS node_idx,
             {_NODE_LON.format(i="range")} AS lon, {_NODE_LAT.format(i="range")} AS lat
      FROM range(0, {_K * _K})),
    {_points_sql(_NPTS, *_G2_BOX)},
    scored AS (
      SELECT p.point_id, n.node_idx,
             SQRT(POW({_MERC_X.format(lon="p.lon")} - {_MERC_X.format(lon="n.lon")}, 2)
                + POW({_MERC_Y.format(lat="p.lat")} - {_MERC_Y.format(lat="n.lat")}, 2)) AS d
      FROM pts p CROSS JOIN nodes n),
    best AS (
      SELECT point_id, node_idx, d,
             ROW_NUMBER() OVER (PARTITION BY point_id ORDER BY d, node_idx) AS rn
      FROM scored)
    SELECT point_id, node_idx, ROUND(d, 4) AS dist_to_node_m
    FROM best WHERE rn = 1 ORDER BY point_id
    """


@_register(
    "g2_knn_snap",
    "Bucketed kNN(k=1) snap join (J2, snap_poi_to_nodes.py:176-188): "
    "Web-Mercator cell buckets + 3x3 ring + agg-min top-1.  Oracle does "
    "the exact cross-join argmin — same winners, same distances.",
    _G2_SQL,
    ("geo", "knn", "join"),
)
def g2(spark, sf_dir):
    i = F.col("id")
    nodes = spark.range(_K * _K).select(
        i.cast("int").alias("node_idx"),
        (F.lit(18.60) + (i % 20).cast("double") * 0.001).alias("lon"),
        (F.lit(54.35) + F.floor(i / 20).cast("double") * 0.0006).alias("lat"),
    )
    pts = _points(spark, _NPTS, *_G2_BOX)
    snapped = snap_mod.snap_points_to_nodes(pts, nodes, point_id_col="point_id")
    return snapped.select(
        "point_id", "node_idx", F.round(F.col("dist_to_node_m").cast("double"), 4).alias("dist_to_node_m")
    ).orderBy("point_id")


# ---------------------------------------------------------------------------
# g3: bounded multi-source shortest paths (G2) on a directed tree
# ---------------------------------------------------------------------------
_N_TREE = 127  # complete binary tree, 7 levels
_LIMIT = 12.0

_G3_SQL = f"""
    WITH RECURSIVE e AS (
      SELECT CAST((range - 1) // 2 AS INT) AS src, CAST(range AS INT) AS dst,
             1.0 + CAST(range % 7 AS DOUBLE) * 0.5 AS w
      FROM range(1, {_N_TREE})),
    sp(node_idx, dist_m, poi_id) AS (
      SELECT 0, CAST(0.0 AS DOUBLE), CAST(100 AS BIGINT)
      UNION ALL SELECT 5, CAST(0.0 AS DOUBLE), CAST(105 AS BIGINT)
      UNION ALL
      SELECT e.dst, sp.dist_m + e.w, sp.poi_id
      FROM sp JOIN e ON e.src = sp.node_idx
      WHERE sp.dist_m + e.w <= {_LIMIT}),
    best AS (
      SELECT node_idx, dist_m, poi_id,
             ROW_NUMBER() OVER (PARTITION BY node_idx ORDER BY dist_m, poi_id) AS rn
      FROM sp)
    SELECT node_idx, ROUND(dist_m, 4) AS dist_m, poi_id
    FROM best WHERE rn = 1 ORDER BY node_idx
    """


@_register(
    "g3_bounded_reach",
    "Bounded multi-source shortest paths (G2, precompute_poi_reach.py:"
    "86-125) through the engine's one solver, the one-task heap Dijkstra "
    "of plans/reach.py, on a coordinate-free 127-node directed binary "
    "tree with two seeds, solved as one group.  Oracle: recursive CTE "
    "path enumeration + per-node min — an independent fixed point of the "
    "same relaxation.",
    _G3_SQL,
    ("geo", "graph", "iterative"),
)
def g3(spark, sf_dir):
    i = F.col("id")
    edges = spark.range(1, _N_TREE).select(
        F.floor((i - 1) / 2).cast("int").alias("src"),
        i.cast("int").alias("dst"),
        (F.lit(1.0) + (i % 7).cast("double") * 0.5).alias("w"),
    )
    seeds = local_frame(
        spark,
        pd.DataFrame({"node_idx": np.int32([0, 5]), "category": ["c", "c"], "poi_id": np.int64([100, 105])}),
        "node_idx INT, category STRING, poi_id BIGINT",
    )
    rows = reach_mod.graph_rows(edges, seeds, spark.range(_N_TREE).select(F.col("id").alias("node_idx")))
    # one group, every node core
    sp = reach_mod.shortest_paths_bounded_local(
        rows.select(F.lit("tree").alias("grid_id"), F.lit(True).alias("core"), "*"), limit_m=_LIMIT
    )
    # checkpoint before the sort: the range sampler would re-run the
    # one-task Dijkstra (a Python worker round-trip) a second time
    return (
        sp.select("node_idx", F.round(F.col("dist_m"), 4).alias("dist_m"), "poi_id")
        .localCheckpoint(eager=False)
        .orderBy("node_idx")
    )


# ---------------------------------------------------------------------------
# g4: buffer-halo tile assignment (Q1)
# ---------------------------------------------------------------------------
_G4_SQL = f"""
    WITH {_TILES_SQL},
    {_points_sql(80, *_BBOX_PTS)}
    SELECT p.point_id, t.grid_id
    FROM pts p JOIN tiles t
      ON p.lon >= t.bminlon AND p.lon < t.bmaxlon
     AND p.lat >= t.bminlat AND p.lat < t.bmaxlat
    ORDER BY point_id, grid_id
    """


@_register(
    "g4_tile_assign",
    "Buffer-halo tile assignment (Q1, extract_map_from_json.py:60-74): "
    "1-to-many point→tile containment join against broadcast tiles — the "
    "duplication that makes per-tile reach independent.",
    _G4_SQL,
    ("geo", "grid", "join"),
)
def g4(spark, sf_dir):
    pts = _points(spark, 80, *_BBOX_PTS)
    tiles = grid_mod.generate_tiles(spark, BBOX, TILE_KM, BUFFER_KM)
    return (
        grid_mod.assign_points_to_tiles(pts, tiles, use_buffer=True)
        .select("point_id", "grid_id")
        .orderBy("point_id", "grid_id")
    )


# ---------------------------------------------------------------------------
# g5: per-tile occupancy report + empty-tile flag (the cleanup twin)
# ---------------------------------------------------------------------------
# points confined to the WEST 40% of the bbox so the east tile columns
# are genuinely EMPTY — the case the report exists for
_G5_FRAC = 0.4
_G5_BOX = (BBOX[0], BBOX[1], (BBOX[2] - BBOX[0]) * _G5_FRAC, BBOX[3] - BBOX[1])

_G5_SQL = f"""
    WITH {_TILES_SQL},
    {_points_sql(80, *_G5_BOX)},
    asg AS (
      SELECT p.point_id, t.grid_id
      FROM pts p JOIN tiles t
        ON p.lon >= t.bminlon AND p.lon < t.bmaxlon
       AND p.lat >= t.bminlat AND p.lat < t.bmaxlat)
    SELECT t.grid_id,
           CAST(COUNT(a.point_id) AS BIGINT) AS n_points,
           COUNT(a.point_id) = 0 AS is_empty
    FROM tiles t LEFT JOIN asg a ON a.grid_id = t.grid_id
    GROUP BY t.grid_id
    ORDER BY t.grid_id
    """


@_register(
    "g5_tile_occupancy",
    "Per-tile occupancy report with empty-tile flag (the relational core "
    "of the reference's per-tile cleanup loop, extract_map_from_json.py:"
    "86-100: osmium count per extracted tile + delete the empties): "
    "every lattice tile appears — a LEFT join from the tile table, so "
    "zero-point tiles report n_points=0 / is_empty=TRUE instead of "
    "vanishing from a bare groupBy.  Points are confined to the west "
    "40% of the bbox so the east tile columns are genuinely empty.  "
    "ingest_pbf_tiles (sources/pbf.py) is the materialized form: ingest "
    "per-tile extracts, report counts, drop empty tile dirs.",
    _G5_SQL,
    ("geo", "grid", "cleanup"),
)
def g5(spark, sf_dir):
    pts = _points(spark, 80, *_G5_BOX)
    tiles = grid_mod.generate_tiles(spark, BBOX, TILE_KM, BUFFER_KM)
    asg = grid_mod.assign_points_to_tiles(pts, tiles, use_buffer=True).select(
        "point_id", "grid_id"
    )
    return grid_mod.tile_occupancy(asg, tiles).orderBy("grid_id")


# ---------------------------------------------------------------------------
# g6: Z-order (Morton) layout key — the clustering the 100 TB layout keys on
# ---------------------------------------------------------------------------
_G6_NPTS = 200

_G6_SQL = f"""
    WITH {_points_sql(_G6_NPTS, *_BBOX_PTS)},
    keyed AS (
      SELECT point_id,
             {layout_mod.zorder_key_sql("lon", "lat", BBOX)} AS zkey
      FROM pts)
    SELECT point_id, zkey,
           CAST(zkey >> {2 * (layout_mod.ZORDER_BITS - layout_mod.ZORDER_LEVELS)} AS INT) AS zp
    FROM keyed ORDER BY point_id
    """


@_register(
    "g6_zorder_layout",
    "Z-order (Morton) layout key: quantize lon/lat to "
    f"{layout_mod.ZORDER_BITS} bits each and bit-interleave — the "
    "space-filling-curve clustering key the engine writes fact tables "
    "with (plans/layout.py), replacing the reference's per-bbox osmium "
    "re-extract (extract_map_from_json.py:60-74) with write-once / "
    "partition-pruned-read-many: zp (the key's top bits = the quadtree "
    "cell) is the directory-partition column, so a later bbox query "
    "prunes at file-listing time and the exact residual filter keeps "
    "correctness independent of the cell math.  Pure shift/and/or "
    "column arithmetic — whole-stage codegen, no UDF; the oracle "
    "recomputes the identical key from the same generated bit "
    "expression.  The layout writer/reader pair (balanced "
    "range-partition on the full key, prefix directories, one-quantum-"
    "widened cell enumeration) is golden-tested in tests/test_layout.py.",
    _G6_SQL,
    ("geo", "layout", "zorder"),
)
def g6(spark, sf_dir):
    pts = _points(spark, _G6_NPTS, *_BBOX_PTS)
    zkey = layout_mod.zorder_key("lon", "lat", BBOX)
    return pts.select(
        "point_id",
        zkey.alias("zkey"),
        layout_mod.zprefix(zkey).alias("zp"),
    ).orderBy("point_id")
