"""Z-order (Morton) data layout — spatial clustering for the 100 TB shape.

The reference answers "give me this bbox's data" by re-running ``osmium
extract`` over the planet file per tile (``extract_map_from_json.py:60-74``)
— a full input pass per query.  The Spark-native answer is a LAYOUT: write
the fact table once, clustered on a space-filling curve, so every later
bbox query is a partition-pruned scan that reads only the curve cells the
box touches.  This is the same idea behind Delta/Iceberg ``ZORDER BY`` —
re-expressed here as plain parquet + a partition column, so it works on any
Spark and the pruning is visible in the plan (``PartitionFilters``).

Scale shape
-----------
- The Morton key is pure JVM column arithmetic (shift/and/or — whole-stage
  codegen, no UDF); quantization is ZORDER_BITS per dimension (16 → a
  32-bit key, ~600 m cells at planet scale).
- ``write_zorder_layout`` range-partitions on the FULL key (balanced output
  files regardless of point skew — a dense city and an empty ocean get the
  same rows per task) and directory-partitions on the key's top
  ``2*ZORDER_LEVELS`` bits (the quadtree cell at depth ZORDER_LEVELS).
  Because the prefix is a prefix OF the range key, each write task
  touches ~1-2 directories — no small-file explosion, which is the
  classic failure of partitionBy over a shuffled column.
- ``read_zorder_bbox`` enumerates the 4^ZORDER_LEVELS quadtree cells
  driver-side (bounded, tiny — 64 here), keeps the ones whose extent
  intersects the query box (widened by one quantum so float rounding can
  only ADD a cell, never drop one), and scans with ``zp IN (...)`` — a
  partition filter — plus the exact residual lon/lat predicate.
  False-positive cells cost one extra partition read; correctness never
  depends on the cell math because the residual filter is exact.
- List once, prune many: each layout path is opened once per Spark
  session (``session_index.session_cached``, key ``zorder_layout``), on
  its first read.  The cached DataFrame keeps its file listing and its
  resolved schema, so every later request prunes ``zp`` against that
  listing and starts no listing or schema-inference job.
  ``write_zorder_layout`` evicts the path before it writes; any other
  rewrite of a layout directory must call
  ``session_index.invalidate(path)``, or reads keep serving the old
  listing (and fail on its deleted files).
- The geometry is module constants, not parameters: a layout records
  neither, so a layout written with one value and read with another
  would silently prune the wrong cells.  Every writer and reader uses
  the same ZORDER_BITS/ZORDER_LEVELS and the ``lon``/``lat`` columns.
- At 100 TB with a depth of 6 a city-block query reads a handful of the
  4,096 directories instead of the whole table; the curve keeps nearby
  boxes in nearby files, so the OS/page-cache locality story holds too.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

ZORDER_BITS = 16      # per-dimension quantization (32-bit Morton key)
ZORDER_LEVELS = 3     # quadtree depth of the directory partition (4^3 = 64 cells)


def _quantize(coord, lo: float, hi: float) -> Column:
    """ZORDER_BITS-bit integer cell index of ``coord`` within [lo, hi] —
    clamped so out-of-box rows land in the edge cells instead of
    corrupting the key."""
    n = (1 << ZORDER_BITS) - 1
    scaled = F.floor((coord - F.lit(lo)) / F.lit(hi - lo) * F.lit(float(n)))
    return F.least(F.greatest(scaled, F.lit(0)), F.lit(n)).cast("bigint")


def zorder_key(lon, lat, bbox: tuple[float, float, float, float]) -> Column:
    """Morton-interleaved key of (lon, lat) over ``bbox``: lon bits at even
    positions, lat bits at odd.  Pure shift/and/or column expression —
    whole-stage codegen end to end."""
    minlon, minlat, maxlon, maxlat = bbox
    u = _quantize(F.col(lon) if isinstance(lon, str) else lon, minlon, maxlon)
    v = _quantize(F.col(lat) if isinstance(lat, str) else lat, minlat, maxlat)
    z: Column = F.lit(0).cast("bigint")
    for i in range(ZORDER_BITS):
        z = z.bitwiseOR(F.shiftleft(F.shiftright(u, i).bitwiseAND(F.lit(1)), 2 * i))
        z = z.bitwiseOR(F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), 2 * i + 1))
    return z


def zorder_key_sql(lon_expr: str, lat_expr: str, bbox: tuple[float, float, float, float]) -> str:
    """The ANSI-SQL twin of :func:`zorder_key` (DuckDB-runnable) — generated
    from the same constants so the oracle computes the identical key."""
    minlon, minlat, maxlon, maxlat = bbox
    n = (1 << ZORDER_BITS) - 1

    def q(expr: str, lo: float, hi: float) -> str:
        return (
            f"CAST(LEAST(GREATEST(FLOOR(({expr} - {lo!r}) / {hi - lo!r} * {float(n)!r}), 0), {n}) AS BIGINT)"
        )

    u, v = q(lon_expr, minlon, maxlon), q(lat_expr, minlat, maxlat)
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({v} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " | ".join(terms) + ")"


def zprefix(zkey: Column) -> Column:
    """Top ``2*ZORDER_LEVELS`` bits of the Morton key = the quadtree cell
    id at depth ZORDER_LEVELS (the directory-partition column)."""
    return F.shiftright(zkey, 2 * (ZORDER_BITS - ZORDER_LEVELS)).cast("int")


def _interleave_int(i: int, j: int, p: int) -> int:
    """Driver-side Morton interleave of two p-bit ints (i = lon index at
    even bits, j = lat index at odd) — must mirror zorder_key's bit order."""
    z = 0
    for k in range(p):
        z |= ((i >> k) & 1) << (2 * k)
        z |= ((j >> k) & 1) << (2 * k + 1)
    return z


def zprefixes_for_bbox(
    query_bbox: tuple[float, float, float, float],
    layout_bbox: tuple[float, float, float, float],
) -> list[int]:
    """The depth-ZORDER_LEVELS quadtree cells whose extent intersects
    ``query_bbox`` — the partition-filter value set for a bbox read.

    Driver-side over 4^ZORDER_LEVELS cells (bounded by construction — the
    depth IS the listing granularity, it never tracks row count).  Each
    cell's lon/lat extent is derived from the quantization inverse and
    widened by one quantum so float rounding can only produce a false
    positive (an extra partition scanned), never a false negative (a
    dropped row — the exact residual filter downstream makes FPs harmless).
    """
    minlon, minlat, maxlon, maxlat = layout_bbox
    qminlon, qminlat, qmaxlon, qmaxlat = query_bbox
    bits, levels = ZORDER_BITS, ZORDER_LEVELS
    n = (1 << bits) - 1
    last = (1 << levels) - 1
    span = 1 << (bits - levels)  # quanta per cell edge
    wlon, wlat = (maxlon - minlon) / n, (maxlat - minlat) / n  # one quantum
    inf = float("inf")
    out: list[int] = []
    for i in range(1 << levels):        # lon cell index
        # The writer CLAMPS out-of-box coordinates into the edge cells
        # (_quantize), so each edge cell owns everything beyond the layout
        # extent on its side — its pruning extent is unbounded outward.
        # Without this, a query box lying wholly past the layout edge
        # would enumerate zero cells and silently drop the clamped rows
        # the exact residual filter would have returned.
        c_minlon = -inf if i == 0 else minlon + i * span * wlon - wlon
        c_maxlon = inf if i == last else minlon + (i + 1) * span * wlon + wlon
        if c_maxlon <= qminlon or c_minlon >= qmaxlon:
            continue
        for j in range(1 << levels):    # lat cell index
            c_minlat = -inf if j == 0 else minlat + j * span * wlat - wlat
            c_maxlat = inf if j == last else minlat + (j + 1) * span * wlat + wlat
            if c_maxlat <= qminlat or c_minlat >= qmaxlat:
                continue
            out.append(_interleave_int(i, j, levels))
    return sorted(out)


def write_zorder_layout(
    df: DataFrame,
    out_dir: str,
    layout_bbox: tuple[float, float, float, float],
) -> None:
    """Write ``df`` parquet clustered on the Morton curve: directory
    partitions on ``zp`` (quadtree cell), rows range-clustered and sorted on
    the full ``zkey`` within files.  See the module docstring for why the
    prefix-of-range-key construction avoids the small-file explosion.

    Evicts ``out_dir``'s session-index entries first, so a rewritten
    layout is never read through the listing of the files it replaces."""
    from ..operators.session_index import invalidate

    invalidate(out_dir)
    z = zorder_key("lon", "lat", layout_bbox)
    keyed = df.withColumn("zkey", z).withColumn("zp", zprefix(F.col("zkey")))
    (
        keyed.repartitionByRange(F.col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite")
        .partitionBy("zp")
        .parquet(out_dir)
    )


def read_zorder_bbox(
    spark: SparkSession,
    path: str,
    query_bbox: tuple[float, float, float, float],
    layout_bbox: tuple[float, float, float, float],
) -> DataFrame:
    """bbox read over a :func:`write_zorder_layout` table: ``zp IN (cells)``
    is a PARTITION filter, the lon/lat residual is exact — so the result
    equals a full-scan bbox filter while reading only the curve cells the
    box touches.  The layout is listed once per session (on its first
    read) and every call prunes against that cached listing; a rewrite
    outside write_zorder_layout must call ``session_index.invalidate(path)``."""
    from ..operators.session_index import session_cached

    qminlon, qminlat, qmaxlon, qmaxlat = query_bbox
    cells = zprefixes_for_bbox(query_bbox, layout_bbox)
    table = session_cached(spark, path, "zorder_layout", lambda: spark.read.parquet(path))
    return (
        table.where(F.col("zp").isin(cells))
        .where(
            (F.col("lon") >= qminlon)
            & (F.col("lon") < qmaxlon)
            & (F.col("lat") >= qminlat)
            & (F.col("lat") < qmaxlat)
        )
    )
