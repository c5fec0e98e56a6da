"""Tile-grid generation and tile assignment (SURVEY.md §2.8 G6, §2.2 Q1,
§2.3 J7).

The reference builds the grid as a driver-side double loop producing JSON
records (``grid_creation.py:47-104``) and assigns work to tiles by invoking
``osmium extract`` per tile bbox (``extract_map_from_json.py:60-74``).  Here
the lattice is a ``spark.range × spark.range`` cross join — embarrassingly
parallel and identical struct-for-struct — and tile assignment is a
broadcast bbox-containment join, which is what partition pruning keys on.

Scale notes
-----------
- The tiles table is tiny even for a continent (Poland at 10 km tiles is
  ~7k rows) → always broadcast; the points side never shuffles for
  assignment.
- A point can fall in several tiles' *buffer* bboxes (the 2 km halo); the
  assignment join is deliberately 1-to-many so each tile's subgraph is
  self-contained — that property is what makes the reach computation
  per-tile independent (buffer 2 km > reach limit 1 km,
  ``grid_creation.py:235-236`` + ``precompute_poi_reach.py:132``).
- Writing fact tables partitioned by ``grid_id`` turns every bbox query
  into a partition-pruned scan.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import geo

TILE_KM_DEFAULT = 10.0   # grid_creation.py:235
BUFFER_KM_DEFAULT = 2.0  # grid_creation.py:236


def compute_degrees(maxlat: float, tile_km: float, buffer_km: float) -> tuple[float, float, float, float]:
    """Degree extents of tile and buffer at the bbox's top latitude
    (ref ``compute_degrees``, grid_creation.py:40-45): lat degrees are
    constant (111.32 km/deg), lon degrees shrink with cos(lat) with the
    reference's 1e-9 floor."""
    dlat_tile = tile_km / geo.KM_PER_DEG_LAT
    dlon_tile = tile_km / max(geo.KM_PER_DEG_LAT * math.cos(math.radians(maxlat)), 1e-9)
    dlat_buf = buffer_km / geo.KM_PER_DEG_LAT
    dlon_buf = buffer_km / max(geo.KM_PER_DEG_LAT * math.cos(math.radians(maxlat)), 1e-9)
    return dlon_tile, dlat_tile, dlon_buf, dlat_buf


def generate_tiles(
    spark: SparkSession,
    bbox: tuple[float, float, float, float],
    tile_km: float = TILE_KM_DEFAULT,
    buffer_km: float = BUFFER_KM_DEFAULT,
) -> DataFrame:
    """G6: lattice of tile_km cells + buffer_km halos over bbox, anchored at
    the top-right corner, ordered right-to-left / top-to-bottom
    (grid_creation.py:47-104).  Columns struct-for-struct with the
    reference's JSON records (grid_id, row, col, centroid, tile_bbox,
    buffer_bbox, tile_deg, buffer_deg)."""
    minlon, minlat, maxlon, maxlat = bbox
    dlon_tile, dlat_tile, dlon_buf, dlat_buf = compute_degrees(maxlat, tile_km, buffer_km)

    # first tile centroid sits half a tile in from the top-right corner
    first_clon = maxlon - 0.5 * dlon_tile
    first_clat = maxlat - 0.5 * dlat_tile
    span_lon = first_clon - (minlon - 0.5 * dlon_tile)
    span_lat = first_clat - (minlat - 0.5 * dlat_tile)
    n_cols = int(math.ceil(span_lon / dlon_tile)) + 1
    n_rows = int(math.ceil(span_lat / dlat_tile)) + 1

    cols = spark.range(n_cols).select(F.col("id").cast("int").alias("col"))
    rows = spark.range(n_rows).select(F.col("id").cast("int").alias("row"))

    clon = F.lit(first_clon) - F.col("col") * F.lit(dlon_tile)
    clat = F.lit(first_clat) - F.col("row") * F.lit(dlat_tile)
    tile_minx = clon - F.lit(0.5 * dlon_tile)
    tile_maxx = clon + F.lit(0.5 * dlon_tile)
    tile_miny = clat - F.lit(0.5 * dlat_tile)
    tile_maxy = clat + F.lit(0.5 * dlat_tile)

    def bbox_struct(minx, miny, maxx, maxy):
        return F.struct(
            minx.alias("minlon"), miny.alias("minlat"), maxx.alias("maxlon"), maxy.alias("maxlat")
        )

    return (
        cols.crossJoin(rows)
        # ref drops tiles that fell entirely outside the bbox (strict
        # inequalities: an edge-touching tile is kept)
        .where(~((tile_maxx <= minlon) | (tile_minx >= maxlon)))
        .where(~((tile_maxy <= minlat) | (tile_miny >= maxlat)))
        .select(
            F.concat(F.lit("r"), F.col("row"), F.lit("_c"), F.col("col")).alias("grid_id"),
            "row",
            "col",
            F.struct(clon.alias("lon"), clat.alias("lat")).alias("centroid"),
            bbox_struct(tile_minx, tile_miny, tile_maxx, tile_maxy).alias("tile_bbox"),
            bbox_struct(
                tile_minx - F.lit(dlon_buf),
                tile_miny - F.lit(dlat_buf),
                tile_maxx + F.lit(dlon_buf),
                tile_maxy + F.lit(dlat_buf),
            ).alias("buffer_bbox"),
            F.struct(F.lit(dlon_tile).alias("dlon"), F.lit(dlat_tile).alias("dlat")).alias("tile_deg"),
            F.struct(F.lit(dlon_buf).alias("dlon"), F.lit(dlat_buf).alias("dlat")).alias("buffer_deg"),
        )
    )


def tiles_over(
    nodes: DataFrame,
    tile_km: float = TILE_KM_DEFAULT,
    buffer_km: float = BUFFER_KM_DEFAULT,
) -> DataFrame:
    """generate_tiles over the extent of ``nodes(lon, lat)``, with both max
    edges pushed out by 1e-9 deg: tile cores exclude their max edges, so
    a node on the extent's max lon or lat would otherwise lie in no core.

    A graph across the ±180 meridian is tiled in its eastward frame
    (longitudes in [0, 360), negative ones shifted by 360) whenever that
    extent is the narrower one, so its tiles are a few cells wide and not
    the whole globe; frame_lon maps node longitudes into that frame."""
    lon = F.col("lon").cast("double")
    east = frame_lon(lon, 0.0)
    r = nodes.agg(
        F.min(lon), F.max(lon), F.min(east), F.max(east), F.min("lat"), F.max("lat")
    ).first()
    minlon, maxlon = (r[0], r[1]) if r[1] - r[0] <= r[3] - r[2] else (r[2], r[3])
    bbox = (minlon, float(r[4]), maxlon + 1e-9, float(r[5]) + 1e-9)
    return generate_tiles(nodes.sparkSession, bbox, tile_km=tile_km, buffer_km=buffer_km)


def frame_lon(lon: Column, west: float) -> Column:
    """``lon`` (degrees in [-180, 180]) as a double in the 360-degree
    frame that starts at ``west``: shifted by ±360 only when it falls
    outside [west, west + 360), so a longitude already in the frame is
    unchanged to the bit."""
    lon = lon.cast("double")
    return (
        F.when(lon < west, lon + 360.0).when(lon >= west + 360.0, lon - 360.0).otherwise(lon)
    )


def assign_points_to_tiles(points: DataFrame, tiles: DataFrame, use_buffer: bool = True) -> DataFrame:
    """Q1 buffer-halo assignment: point → every tile whose (buffer) bbox
    contains it.  1-to-many by design — the halo duplication is what makes
    per-tile reach computation independent.  Tiles broadcast (small side);
    the points scan never shuffles."""
    bb = F.col("buffer_bbox") if use_buffer else F.col("tile_bbox")
    return points.join(F.broadcast(tiles), contains(bb), "inner")


def contains(bb: Column) -> Column:
    """Half-open containment of the row's (lon, lat) in the bbox struct
    ``bb``: min edges inclusive, max edges exclusive, so adjacent tile
    cores never share a point."""
    return (
        (F.col("lon") >= bb["minlon"])
        & (F.col("lon") < bb["maxlon"])
        & (F.col("lat") >= bb["minlat"])
        & (F.col("lat") < bb["maxlat"])
    )


def k_nearest_tiles(tiles: DataFrame, lon: float, lat: float, k: int = 5) -> DataFrame:
    """J7: k nearest tile centroids by haversine (R=6371.0088 km,
    grid_creation.py:107-131).  Tiny table → orderBy+limit is a
    TakeOrderedAndProject, no full sort materialization."""
    d_km = (
        geo.haversine_m(
            F.lit(lon), F.lit(lat), F.col("centroid.lon"), F.col("centroid.lat"), geo.R_GRID_KM * 1000.0
        )
        / 1000.0
    )
    return tiles.withColumn("dist_km", d_km).orderBy("dist_km", "grid_id").limit(k)


def tile_occupancy(assigned: DataFrame, tiles: DataFrame) -> DataFrame:
    """Per-tile occupancy report (grid_id, n_points, is_empty) with EVERY
    tile present — empty tiles included via a LEFT join from the lattice.
    The relational core of the reference's per-tile empty-extract cleanup
    (extract_map_from_json.py:86-100: osmium count per tile + delete the
    zero-element extracts): consumers drop is_empty tiles (cleanup) or
    alert on them (ingest QA).  Scale shape: counts are a map-side-
    combinable aggregate on the assignment table; the tile lattice is
    broadcast-tiny by construction."""
    counts = assigned.groupBy("grid_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    n = F.coalesce(F.col("n"), F.lit(0)).cast("bigint")
    return (
        tiles.select("grid_id")
        .join(F.broadcast(counts), "grid_id", "left")
        .select("grid_id", n.alias("n_points"), (n == 0).alias("is_empty"))
    )
