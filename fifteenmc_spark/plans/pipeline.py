"""End-to-end build pipeline (SURVEY.md §3.1): the reference's five-script
ETL DAG as one Spark job graph.

    grid → [ingest: OSM elements parquet] → walkable graph → POI snap →
    bounded reach → gold tables (parquet, partitioned)

The reference runs this as five processes handing off files
(grid_creation → extract_map → graph_construction → snap_poi →
precompute_poi_reach); here every stage is a DataFrame and the only
materialization points are the gold tables.

Scale design: everything downstream of the grid is partitionable by
grid_id (Q1 halo assignment) — tiles are independent because the 2 km
buffer exceeds the 1 km reach limit (grid_creation.py:235-236,
precompute_poi_reach.py:132).  The gold `reach` table is written
partitioned by category so point queries partition-prune.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..io import write_parquet
from . import graph_build, grid, poi, reach, snap


@dataclass
class GoldTables:
    tiles: DataFrame
    graph_nodes: DataFrame
    graph_edges: DataFrame
    pois: DataFrame
    reach: DataFrame
    summary: DataFrame


def build_all(
    spark: SparkSession,
    nodes_raw: DataFrame,
    edges_raw: DataFrame,
    elements: DataFrame | None = None,
    pois_raw: DataFrame | None = None,
    limit_m: float = reach.LIMIT_M_DEFAULT,
    max_snap_m: float = 300.0,
) -> GoldTables:
    """Run the full DAG.  POIs come either from an OSM `elements` table
    (classified via the tag map) or pre-extracted `pois_raw(poi_id,
    category, lon, lat, name)`.  Tiles are grid.TILE_KM_DEFAULT cells
    with grid.BUFFER_KM_DEFAULT halos over the graph nodes' extent
    (grid.tiles_over), so every graph node lies in exactly one tile core.
    The tile table is cached: reach reads it to check its buffer and to
    assign nodes, and write_gold writes it."""
    gnodes, gedges = graph_build.build_graph(nodes_raw, graph_build.clean_walkable_edges(edges_raw))
    gnodes = gnodes.cache()
    gedges = gedges.cache()

    tiles = grid.tiles_over(gnodes).cache()

    if pois_raw is None:
        if elements is None:
            raise ValueError("need elements or pois_raw")
        pois_raw = poi.classify_pois(elements)
    pois_snapped = snap.snap_points_to_nodes(pois_raw, gnodes, max_snap_m=max_snap_m)

    reach_df = reach.compute_reach(gnodes, gedges, pois_snapped.where("node_idx IS NOT NULL"), tiles, limit_m=limit_m)
    summary = reach.reach_summary(reach_df, pois_snapped, gnodes, limit_m)
    return GoldTables(tiles, gnodes, gedges, pois_snapped, reach_df, summary)


def write_gold(g: GoldTables, base: str) -> None:
    """Persist the gold layer.  `reach` partitioned by category (point
    queries prune to one directory); graph tables plain parquet (they are
    re-read whole by the iterative job)."""
    write_parquet(g.tiles, f"{base}/tiles")
    write_parquet(g.graph_nodes, f"{base}/graph_nodes")
    write_parquet(g.graph_edges, f"{base}/graph_edges")
    write_parquet(g.pois, f"{base}/pois")
    write_parquet(g.reach, f"{base}/reach", partition_by=["category"])
    write_parquet(g.summary, f"{base}/reach_summary")
