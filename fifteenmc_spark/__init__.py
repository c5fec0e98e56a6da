"""fifteenmc_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the M1A5TO/15MC-Algorithm reference.

The reference (read-only at /root/reference) is a single-process
pandas/GeoPandas/NumPy "15-minute city" geospatial pipeline.  This package
re-expresses every operator it implements (SURVEY.md §2) as idiomatic Spark
DataFrame / SQL plans, plus the large-scale training-data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) that a 100 TB
deployment needs.

Layout
------
- ``session``    SparkSession factory tuned for AQE + Arrow.
- ``io``         table registry + schema-checked parquet readers/writers.
- ``functions``  column-expression libraries (geo math, text metrics) — no UDFs.
- ``operators``  relational/declared-query builders, dedup, similarity, kNN snap.
- ``plans``      multi-step jobs: tile grid, graph build, bounded multi-source
                 Dijkstra reachability, point/path queries.
- ``streaming``  Structured Streaming veneer (windows + watermark).

Importing the package makes it importable in Spark's Python workers too,
whatever the working directory (see ``_ship_to_workers``).
"""

import os

__version__ = "0.1.0"


def _ship_to_workers() -> None:
    """Put the directory holding this package on the Python workers'
    PYTHONPATH.  Workers unpickle this package's functions by importing
    their modules, and a local-mode worker sees only the PYTHONPATH its
    JVM hands it — never the driver's ``sys.path`` — so without this a
    driver that finds the package through ``sys.path`` (or through its
    working directory, run from anywhere else) gets
    ``ModuleNotFoundError`` from every pandas UDF.  Two routes cover both
    orders of session start and import:

    - a JVM launched after this import inherits ``os.environ`` and
      passes its PYTHONPATH to every worker;
    - a SparkContext already running gets the path in its
      ``environment``, which every Python function created afterwards
      (all of this package's) carries to the workers it starts."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    def with_root(path: str | None) -> str:
        parts = [p for p in (path or "").split(os.pathsep) if p]
        return os.pathsep.join(parts if root in parts else [root, *parts])

    os.environ["PYTHONPATH"] = with_root(os.environ.get("PYTHONPATH"))
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.environment["PYTHONPATH"] = with_root(sc.environment.get("PYTHONPATH"))


_ship_to_workers()
