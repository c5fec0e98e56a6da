"""Table registry and IO helpers (SURVEY.md §2.1, S1-S9 / K1-K6).

Readers are small helpers over `spark.read` — Catalyst handles
pushdown/pruning once the data is parquet.  ``read_table`` normalizes the
synthetic tables' timestamp encodings at runtime.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver-generated synthetic tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long ns
# under spark.sql.legacy.parquet.nanosAsLong (set in session.py); converted
# back to microsecond timestamps here.  DuckDB reads the same column natively.
_NANO_TS_COLS = {"events": ("ts",)}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet source (ref: pd.read_parquet, precompute_poi_reach.py:37).

    Timestamp normalization: the testdata has shipped events.ts as both
    TIMESTAMP(NANOS) (older snapshots) and plain timestamp[us] with no
    isAdjustedToUTC flag (current), which Spark 4 infers as TIMESTAMP_NTZ —
    a type unix_micros() / withWatermark() reject.  Both knobs below are
    runtime-settable so the fix also works when the caller's session (e.g.
    the driver's) was not built by session.get_spark:

    - ``inferTimestampNTZ.enabled=false`` restores pre-3.4 inference: the
      int64 micros are read directly as TIMESTAMP (micros-since-epoch; no
      session-tz shift happens at read time for int64 parquet timestamps),
      matching DuckDB's naive-UTC reading.
    - ``nanosAsLong`` keeps the NANOS encoding readable; the long column is
      converted back to a µs timestamp below.
    """
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    if name in _NANO_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        if c in df.columns and dict(df.dtypes)[c] == "bigint":
            # Integer floor-division ns→µs: (c - pmod(c,1000)) div 1000 stays
            # in long arithmetic end-to-end.  (c/1000).cast("long") would round
            # through a double, which for ns values that are not multiples of
            # ~512 ns can land 1 µs off and flip second-boundary buckets.
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"({c} - pmod({c}, 1000)) div 1000"))
            )
    # Defensive: if an NTZ column slipped through anyway (e.g. a table cached
    # by a foreign session before the conf was set), reinterpret it as an
    # instant.  NTZ→TIMESTAMP casts through the session zone, so pin UTC
    # around the (eagerly analyzed) cast and RESTORE the caller's zone —
    # permanently mutating a non-UTC foreign session would silently change
    # timestamp formatting for its unrelated queries after this read.
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        prev_tz = spark.conf.get("spark.sql.session.timeZone")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        try:
            for c in ntz_cols:
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        finally:
            spark.conf.set("spark.sql.session.timeZone", prev_tz)
    return df


def local_frame(spark: SparkSession, pdf, schema) -> DataFrame:
    """A driver-side pandas frame as a local relation, whose Arrow batches
    live in the plan: an action on it starts no Spark job.  It goes in as
    a pyarrow Table, which Spark converts through Arrow whatever the
    session's Arrow setting.  createDataFrame on a list, or on a pandas
    frame that is empty or meets Arrow switched off, takes the pickled
    path instead: one job per action.  ``pdf`` holds ``schema``'s columns
    (a DDL string or a StructType) in that order."""
    import pyarrow as pa
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    return spark.createDataFrame(pa.Table.from_pandas(pdf, preserve_index=False), schema)


def read_csv(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S3: header CSV source (ref: pd.read_csv, precompute_poi_reach.py:44,
    test_path.py:250).  Explicit schema preferred; inference only as a
    convenience fallback (it costs an extra scan)."""
    r = spark.read.option("header", True)
    return (r.schema(schema) if schema is not None else r.option("inferSchema", True)).csv(path)


def read_reference_metrics(spark: SparkSession, path: str) -> DataFrame:
    """S3 variant: the reference's published evaluation CSV
    (Documents/metrics.csv) — Polish headers (szerokosc_geo = latitude,
    dlugosc_geo = longitude, metry_na_mapach = map-measured meters,
    metry_z_algorytmu = algorithm meters, zaliczone_jako_poprawne =
    counted-as-correct), decimal-COMMA numerics in quoted fields, and a
    trailing summary row (empty id, the published accuracy in the last
    cell).  Normalizes to the canonical A8 metrics frame:
    (point_id, lat, lon, map_m, algo_m, offset_m, ref_passed)."""

    def num(c: str):
        return F.regexp_replace(F.col(c), ",", ".").cast("double")

    raw = spark.read.option("header", True).csv(path)
    return raw.where(F.col("id").isNotNull()).select(
        F.col("id").cast("int").alias("point_id"),
        num("szerokosc_geo").alias("lat"),
        num("dlugosc_geo").alias("lon"),
        num("metry_na_mapach").alias("map_m"),
        num("metry_z_algorytmu").alias("algo_m"),
        num("offset_m").alias("offset_m"),
        F.col("zaliczone_jako_poprawne").cast("int").alias("ref_passed"),
    )


def read_json_records(spark: SparkSession, path: str) -> DataFrame:
    """S7: multiline JSON-array source — the reference's grid-cells file
    (extract_map_from_json.py:11-16) is one JSON list of nested records."""
    return spark.read.option("multiLine", True).json(path)


def read_grid_id_list(spark: SparkSession, path: str) -> DataFrame:
    """S9: text-list source (parse_grid_file, extract_map_from_json.py:
    18-38): '#'-comment lines skipped, remaining lines split on commas and
    whitespace, first occurrence kept in file order.

    spark.read.text + regexp/split/explode — the dedup uses min(line, pos)
    per id, not a driver-side seen-set."""
    lines = spark.read.text(path).select(
        F.monotonically_increasing_id().alias("pos"), F.col("value")
    )
    toks = (
        lines.where(~F.trim("value").startswith("#"))
        .select("pos", F.posexplode(F.split(F.trim("value"), "[,\\s]+")).alias("tok_pos", "grid_id"))
        .where(F.col("grid_id") != "")
    )
    first = toks.groupBy("grid_id").agg(F.min(F.struct("pos", "tok_pos")).alias("o"))
    return first.orderBy("o").select("grid_id")


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None, mode: str = "overwrite") -> None:
    """Parquet sink (ref K1/K3: snap_poi_to_nodes.py:245,
    graph_construction.py:298-307 — npz replaced by partitioned parquet).

    Writing ``<dir>/<table>.parquet`` into a directory that has live
    session-index entries evicts them: a table rewrite under an sf_dir
    must not leave consumers reading stale checkpointed artifacts."""
    from .operators.session_index import _norm_dir, invalidate

    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)
    invalidate(os.path.dirname(_norm_dir(path)))


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """CSV sink with header (ref K2: graph_construction.py:246-247)."""
    df.write.mode(mode).option("header", True).csv(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON sink (ref K4: grid_creation.py:134-138)."""
    df.write.mode(mode).json(path)


def write_jdbc(df: DataFrame, url: str, table: str, mode: str = "append", properties: dict | None = None) -> None:
    """DB sink (ref K6: README.md:2 'persisting results in a database')."""
    df.write.mode(mode).jdbc(url, table, properties=properties or {})
