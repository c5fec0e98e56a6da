"""Geo column-expression library (SURVEY.md §2.7, F1-F14).

Everything here is a pure ``pyspark.sql.Column`` expression — JVM-side,
whole-stage-codegen friendly, no Python UDFs.  The reference computes the
same formulas row-at-a-time in NumPy.

The reference uses FOUR different Earth radii depending on call site
(SURVEY.md §6); parity requires keeping them per-call-site, so every
function takes ``radius_m`` explicitly with the right default documented.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# Per-call-site Earth radii (reference: graph_construction.py:165,
# poi_query.py:29, grid_creation.py:108, grid_extraction_script.py:19).
R_EDGE_WEIGHTS_M = 6371008.8
R_QUERY_M = 6371000.0
R_GRID_KM = 6371.0088
R_WGS84_EQUATORIAL_M = 6378137.0

# km per degree latitude (reference: grid_creation.py:15).
KM_PER_DEG_LAT = 111.32

# default walking speed m/s (reference: precompute_poi_reach.py:134).
WALK_SPEED_MPS = 1.111

# zero-length edge clamp, meters (reference: graph_construction.py:180).
MIN_EDGE_WEIGHT_M = 0.01


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def haversine_m(lon1, lat1, lon2, lat2, radius_m: float = R_EDGE_WEIGHTS_M) -> Column:
    """F1/F2: great-circle distance in meters, float64 trig with the
    reference's `clip(a, 0, 1)` guard (graph_construction.py:164-181).

    No zero clamp here — see :func:`edge_weight_m` for the weight variant.
    """
    lon1, lat1, lon2, lat2 = (_c(v).cast("double") for v in (lon1, lat1, lon2, lat2))
    rlat1, rlat2 = F.radians(lat1), F.radians(lat2)
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = F.pow(F.sin(dlat / 2), 2) + F.cos(rlat1) * F.cos(rlat2) * F.pow(F.sin(dlon / 2), 2)
    a = F.least(F.greatest(a, F.lit(0.0)), F.lit(1.0))  # clip(a, 0, 1)
    return F.lit(2.0 * radius_m) * F.asin(F.sqrt(a))


def haversine_m_local(
    lon1: float, lat1: float, lon2: float, lat2: float, radius_m: float = R_EDGE_WEIGHTS_M
) -> float:
    """haversine_m on driver-side floats, in its float64 operation order."""
    rlat1, rlat2 = math.radians(lat1), math.radians(lat2)
    a = math.sin(math.radians(lat2 - lat1) / 2) ** 2 + math.cos(rlat1) * math.cos(rlat2) * math.sin(
        math.radians(lon2 - lon1) / 2
    ) ** 2
    return 2.0 * radius_m * math.asin(math.sqrt(min(max(a, 0.0), 1.0)))


def edge_weight_m(lon1, lat1, lon2, lat2) -> Column:
    """F1 exactly as used for edge weights: R=6371008.8, zero-length edges
    clamped to 0.01 m, stored float32 (graph_construction.py:164-181)."""
    h = haversine_m(lon1, lat1, lon2, lat2, R_EDGE_WEIGHTS_M)
    return F.when(h == 0.0, F.lit(MIN_EDGE_WEIGHT_M)).otherwise(h).cast("float")


def equirectangular_m2(lon, lat, lon0, lat0) -> Column:
    """F3: cheap squared-distance pre-filter (poi_query.py:29-47) — used to
    prune kNN candidates before one exact haversine.  Returns squared
    degrees scaled by cos(lat0); monotone in true distance locally.

    The longitude delta is WRAPPED (min(|dl|, 360-|dl|)): a raw
    difference ranks a cross-dateline candidate ~360 deg away, so the
    256-candidate shortlist in snap_single_point would drop the true
    nearest node near lon=±180 (and the pruned/full snap paths could
    diverge there — r14 review finding).  The reference's prefilter has
    the same latent defect on raw deltas; the exact haversine downstream
    was always wrap-correct, so wrapping here only ever improves the
    shortlist's monotonicity."""
    lon, lat = _c(lon).cast("double"), _c(lat).cast("double")
    lon0, lat0 = _c(lon0).cast("double"), _c(lat0).cast("double")
    dl = F.abs(lon - lon0)
    dl = F.least(dl, F.lit(360.0) - dl)
    x = dl * F.cos(F.radians(lat0))
    y = lat - lat0
    return x * x + y * y


def walking_time_s(dist_m, speed_mps: float = WALK_SPEED_MPS) -> Column:
    """F6: time_s = dist_m / speed (precompute_poi_reach.py:134,166,197)."""
    return _c(dist_m).cast("double") / F.lit(float(speed_mps))


def sanitize_key(col) -> Column:
    """F7: category key sanitizer (precompute_poi_reach.py:22-30):
    lower → non-[a-z0-9._-] runs → '_' → collapse '_'+ → strip '_' →
    fallback 'cat' → truncate 60."""
    s = F.lower(_c(col))
    s = F.regexp_replace(s, "[^a-z0-9._-]+", "_")
    s = F.regexp_replace(s, "_+", "_")
    s = F.regexp_replace(s, "^_|_$", "")
    s = F.when(s == "", F.lit("cat")).otherwise(s)
    return F.substring(s, 1, 60)


def norm_tag(col) -> Column:
    """F8: strip().lower() with None→'' (graph_construction.py:34-35)."""
    return F.lower(F.trim(F.coalesce(_c(col), F.lit(""))))


def web_mercator_x(lon) -> Column:
    """F12 (closed form, no pyproj): x = R * radians(lon), EPSG:3857."""
    return F.lit(R_WGS84_EQUATORIAL_M) * F.radians(_c(lon).cast("double"))


def web_mercator_y(lat) -> Column:
    """F12: y = R * ln(tan(pi/4 + radians(lat)/2)), EPSG:3857."""
    return F.lit(R_WGS84_EQUATORIAL_M) * F.log(
        F.tan(F.lit(math.pi / 4.0) + F.radians(_c(lat).cast("double")) / 2)
    )
