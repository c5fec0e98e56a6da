"""Spatial kNN snap join (SURVEY.md §2.3 J2-J4): each point → nearest
graph node, with snap distance.

The reference builds a cKDTree over all nodes in EPSG:3857 and queries k=1
per POI (`snap_poi_to_nodes.py:81-86,176-188`) — a single-machine spatial
index.  Spark has no native kNN join, so the engine uses the bucketed form:

1. project both sides to Web-Mercator meters (closed-form, no pyproj);
2. assign each node to a square grid cell of side `cell_m`;
3. candidate pairs = point's cell × its 3×3 neighbor ring (9 cell keys per
   point, generated scan-side with `explode`);
4. exact Euclidean 3857 distance (matches the KD-tree's metric, so
   `dist_to_node_m` is bit-comparable to the reference) + top-1 via
   `row_number` (W2), ties broken by smaller node_idx.

Correctness requires cell_m >= the max snap radius of interest: any true
nearest node within `cell_m` of the point is guaranteed to be in the ring.
Nodes farther than `cell_m` can only win if no node is inside the ring —
those points are reported unmatched (NULL node_idx), exactly the max-snap
rejection semantics of `test_path.py:374` when cell_m >= max_snap_m.

Scale notes
-----------
- The shuffle key is the cell id — spatially local, so skew follows urban
  density; AQE skew-join splitting handles downtown cells.
- Candidate fan-out is bounded: 9 cells/point × nodes-per-cell; cell size
  tunes the tradeoff (default 600 m > the 300 m default snap radius).
- No driver-side index, no collect: both sides stream.
- Antimeridian (r15): EPSG:3857 x is periodic with the world width
  2*pi*R, so the seam at lon=±180 wraps by GHOSTING seam-adjacent
  nodes — a node within 2*cell_m of either seam edge also registers
  under the cell of x -/+ world-width.  A point whose 3x3 ring crosses
  the seam then finds other-side nodes in its ring, and the Euclidean
  distance computed from the ghost's shifted x IS the wrapped metric
  (Mercator is a cylinder).  2*cell_m because a point at the far edge
  of a seam cell reaches one full ring cell past the seam; with it the
  seam behaves exactly like grid interior, matching the single-point
  path's wrap (snap_disc_boxes).  The ghost rows are bounded by seam
  node density — a planet corpus adds a vanishing fraction of rows.
- Known domain limit (documented, matching the reference's KD-tree in
  the same metric): Mercator y diverges toward the poles (the
  projection is undefined at ±90).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import geo

DEFAULT_CELL_M = 600.0  # 2x the reference's 300 m max snap (test_path.py:374)

# EPSG:3857 x period (world width) and east-edge x, meters
_WORLD_W_M = 2.0 * math.pi * geo.R_WGS84_EQUATORIAL_M
_HALF_W_M = math.pi * geo.R_WGS84_EQUATORIAL_M


def _cell(coord: Column, cell_m: float) -> Column:
    return F.floor(coord / F.lit(cell_m)).cast("long")


def _cell_key(cx: Column, cy: Column) -> Column:
    # pack two 32-bit cell coords into one 64-bit join key
    return cx * F.lit(4_294_967_296) + cy


def snap_points_to_nodes(
    points: DataFrame,
    nodes: DataFrame,
    point_id_col: str = "poi_id",
    max_snap_m: float | None = None,
    cell_m: float = DEFAULT_CELL_M,
) -> DataFrame:
    """J2: bucketed kNN(k=1) join.  Input ``points(point_id, lon, lat,
    ...)`` and ``nodes(node_idx, lon, lat)``; output = points plus
    ``node_idx`` and ``dist_to_node_m`` (float32, Euclidean in EPSG:3857 —
    the reference KD-tree's metric), NULL when no node within reach.

    If ``max_snap_m`` is given, matches farther than it are rejected
    (NULL), mirroring test_path.py:262-268.
    """
    if max_snap_m is not None and max_snap_m > cell_m:
        cell_m = max_snap_m  # keep the 3x3-ring correctness guarantee

    npx = geo.web_mercator_x(F.col("lon"))
    npy = geo.web_mercator_y(F.col("lat"))
    # Antimeridian mirror keys (module docstring): a node within
    # 2*cell_m of either seam edge also registers as a ghost shifted by
    # -/+ one world width, so seam-crossing rings see it and the
    # Euclidean distance from the shifted x is the wrapped metric.
    # Generated scan-side (explode over a 1-2 element array); interior
    # nodes emit exactly one row, so a non-seam corpus pays nothing.
    seam = F.lit(2.0 * cell_m)
    shifts = (
        F.when(npx > F.lit(_HALF_W_M) - seam, F.array(F.lit(0.0), F.lit(-_WORLD_W_M)))
        .when(npx < F.lit(-_HALF_W_M) + seam, F.array(F.lit(0.0), F.lit(_WORLD_W_M)))
        .otherwise(F.array(F.lit(0.0)))
    )
    nx = F.col("__nx0") + F.col("__sh")
    n = (
        nodes.select(
            "node_idx",
            npx.alias("__nx0"),
            npy.alias("ny"),
            F.explode(shifts).alias("__sh"),
        )
        .select(
            "node_idx",
            nx.alias("nx"),
            "ny",
            _cell_key(_cell(nx, cell_m), _cell(F.col("ny"), cell_m)).alias("cell"),
        )
    )

    ppx = geo.web_mercator_x(F.col("lon"))
    ppy = geo.web_mercator_y(F.col("lat"))
    # 3x3 neighbor ring, generated scan-side (9 rows per point)
    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy")) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    )
    p = points.select(
        F.col(point_id_col).alias("__pid"),
        ppx.alias("px"),
        ppy.alias("py"),
        F.explode(offsets).alias("o"),
    ).select(
        "__pid",
        "px",
        "py",
        _cell_key(_cell(F.col("px"), cell_m) + F.col("o.dx"), _cell(F.col("py"), cell_m) + F.col("o.dy")).alias(
            "cell"
        ),
    )

    dx = F.col("px") - F.col("nx")
    dy = F.col("py") - F.col("ny")
    dist = F.sqrt(dx * dx + dy * dy)
    cand = p.join(n, "cell").select("__pid", dist.alias("dist_to_node_m"), "node_idx")
    if max_snap_m is not None:
        cand = cand.where(F.col("dist_to_node_m") <= F.lit(float(max_snap_m)))

    # W2 top-1 per point, deterministic tie-break by node_idx — implemented
    # as min(struct(dist, node_idx)): a plain aggregation with map-side
    # partial combine, cheaper than a row_number sort-window at scale
    best = cand.groupBy("__pid").agg(F.min(F.struct("dist_to_node_m", "node_idx")).alias("b"))
    out = points.join(best, points[point_id_col] == best["__pid"], "left").select(
        *[points[c] for c in points.columns],
        F.col("b.node_idx").alias("node_idx"),
        F.col("b.dist_to_node_m").cast("float").alias("dist_to_node_m"),
    )
    return out


def snap_single_point(
    nodes: DataFrame, lon: float, lat: float, max_snap_m: float | None = None
) -> tuple[int, float] | None:
    """J4: snap one query point — equirectangular pre-filter then exact
    haversine R=6371000 (`poi_query.py:21-47`), as a TakeOrdered(1) over
    the node table.  Returns (node_idx, dist_m) or None if beyond
    max_snap_m.

    The pre-filter keeps the sort key cheap: the exact haversine is only
    evaluated on the 256 equirectangular-nearest candidates."""
    approx = geo.equirectangular_m2(F.col("lon"), F.col("lat"), F.lit(lon), F.lit(lat))
    cand = nodes.select("node_idx", "lon", "lat", approx.alias("a2")).orderBy("a2", "node_idx").limit(256)
    exact = cand.select("node_idx", snap_m(lon, lat).alias("dist_m")).orderBy("dist_m", "node_idx")
    row = exact.first()
    if row is None:
        return None
    if max_snap_m is not None and row["dist_m"] > max_snap_m:
        return None
    return int(row["node_idx"]), float(row["dist_m"])


def snap_m(lon: float, lat: float) -> Column:
    """J4's distance from a row's (lon, lat) to the query point: the exact
    haversine at R=6371000 that snap_single_point ranks by."""
    return geo.haversine_m(F.col("lon"), F.col("lat"), F.lit(lon), F.lit(lat), geo.R_QUERY_M)


def nearest_node(rows, max_snap_m: float) -> int | None:
    """J4 on the driver over collected rows carrying ``snap_m`` (NaN on rows
    that are not nodes): the node_idx of the minimum (snap_m, node_idx)
    within ``max_snap_m``, the node snap_single_point picks, or None."""
    near = rows[rows["snap_m"] <= max_snap_m]
    if near.empty:
        return None
    return int(min(zip(near["snap_m"].tolist(), near["node_idx"].tolist()))[1])


# WGS84 polar radius — the SMALLEST earth radius any engine path uses, so a
# max_snap_m disc converted to degrees with it always CONTAINS the disc the
# exact haversine (R=6371000) measures: the pruned read can only over-scan,
# never drop the true nearest node
_R_MIN_M = 6_356_752.3


def snap_disc_boxes(
    lon: float, lat: float, max_snap_m: float
) -> list[tuple[float, float, float, float]]:
    """The pruning bbox(es) containing every point within ``max_snap_m``
    of (lon, lat): the angular radius is derived with the SMALLEST earth
    radius so the boxes always contain the haversine disc.  Three
    geometry cases (r14 review findings):

    - A disc whose cap CONTAINS a pole (lat ± r crosses ±90) spans every
      longitude — one full-width box extended to that pole.
    - The longitude half-width is the EXACT spherical-cap extent
      asin(sin r / cos lat) (Matuschek's bounding-box formula), not the
      flat-earth r / cos lat, which UNDERESTIMATES the cap within ~2.5 km
      of the poles and would drop true nearest rows there.
    - A disc crossing lon = ±180 splits into the two wrapped longitude
      ranges; every east edge clamped at 180 is nudged one ulp past it so
      the half-open residual filter (lon < maxlon) keeps a row stored at
      exactly lon = +180.0 — a legal WGS84 longitude the raw unclamped
      box used to include.

    Shared by the z-ordered snap and the z-ordered reach read so the two
    prune with identical geometry."""
    import math

    r = max_snap_m / _R_MIN_M  # cap angular radius, radians
    dlat = math.degrees(r)
    east = math.nextafter(180.0, math.inf)  # includes lon == +180.0 rows
    lat_lo, lat_hi = lat - dlat, lat + dlat
    if lat_hi >= 90.0 or lat_lo <= -90.0:
        # the cap contains a pole: all longitudes, lat range to the pole
        # (north edge nudged past 90 — the residual is half-open on lat
        # too, and lat == 90.0 is a legal coordinate)
        if lat_hi >= 90.0:
            return [(-180.0, max(lat_lo, -90.0), east, math.nextafter(90.0, math.inf))]
        return [(-180.0, -90.0, east, lat_hi)]
    # exact cap longitude half-width: asin(sin r / cos lat); the argument
    # is < 1 here (pole-crossing handled above), but clamp for float edge
    s = min(math.sin(r) / math.cos(math.radians(lat)), 1.0)
    dlon = math.degrees(math.asin(s))
    lo, hi = lon - dlon, lon + dlon
    # dlon = degrees(asin(...)) is bounded at 90°, and the pole-crossing
    # case (the only way a cap spans all longitudes) returned above — so
    # no dlon >= 180 full-width branch can ever be reached here.
    boxes: list[tuple[float, float, float, float]] = []
    if lo < -180.0:
        boxes.append((-180.0, lat_lo, hi, lat_hi))
        boxes.append((lo + 360.0, lat_lo, east, lat_hi))
    elif hi > 180.0:
        boxes.append((lo, lat_lo, east, lat_hi))
        boxes.append((-180.0, lat_lo, hi - 360.0, lat_hi))
    else:
        boxes.append((lo, lat_lo, hi, lat_hi))
    return boxes


def read_zordered_disc(
    spark,
    layout_path: str,
    layout_bbox: tuple[float, float, float, float],
    lon: float,
    lat: float,
    max_snap_m: float,
):
    """Partition-pruned read of every row whose (lon, lat) could lie
    within ``max_snap_m`` of the query point — the union of the disc's
    pruning boxes over a write_zorder_layout table."""
    from . import layout as layout_mod

    out = None
    for box in snap_disc_boxes(lon, lat, max_snap_m):
        part = layout_mod.read_zorder_bbox(spark, layout_path, box, layout_bbox)
        out = part if out is None else out.unionByName(part)
    return out


def snap_single_point_zordered(
    spark,
    layout_path: str,
    layout_bbox: tuple[float, float, float, float],
    lon: float,
    lat: float,
    max_snap_m: float = 300.0,
) -> tuple[int, float] | None:
    """J4 served from the z-ordered node layout (plans/layout.py): instead
    of scanning the full node table per point query — the Spark shape of
    the reference's per-bbox ``osmium extract`` re-run — read ONLY the
    quadtree cells intersecting the max_snap_m disc around the query point
    (pruned from the layout's once-per-session listing — see
    layout.read_zorder_bbox), then run the exact snap on that
    slice.  Identical contract to snap_single_point with max_snap_m set:
    every node within max_snap_m of the point lies inside the pruned box
    by construction (degree box derived with the smallest earth radius, so
    it contains the haversine disc), and nodes beyond it can only lose the
    TakeOrdered or fall to the max_snap_m gate — same winner, same None.

    Antimeridian wrap (r13 ADVICE): a disc within max_snap_m of lon=±180
    extends past the valid longitude range, and a single clamped box
    would silently drop nodes on the other side of the dateline — the
    pruned snap would miss a true nearest node the full scan finds.
    snap_disc_boxes splits the pruning box into the two wrapped
    longitude ranges (full-width at near-polar latitudes) and the pruned
    reads are unioned, so the exact snap sees every candidate the disc
    actually covers.

    At 100 TB this is the difference between a point query touching a
    handful of files and touching the planet table."""
    nodes = read_zordered_disc(spark, layout_path, layout_bbox, lon, lat, max_snap_m)
    return snap_single_point(nodes, lon, lat, max_snap_m=max_snap_m)
