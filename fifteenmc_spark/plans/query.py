"""Serving-side queries over the gold tables (SURVEY.md §3.2, §3.3):
point reachability (G7), path-to-nearest-POI (G4/G5 + W1) and the
point-to-point route (G3).

Every request is one collect, or two, finished on the driver; the
answer goes back as a local relation (io.local_frame), which collects
without a Spark job.

Point queries consume the precomputed `reach` table — the
materialized-view design the reference pins (`poi_query.py:97-99`): a
point query never touches the graph.  The full-scan form snaps (J4,
snap.snap_single_point) and collects the snapped node's reach rows; the
z-ordered form collects the node and reach rows of one snap.disc of
radius ``max_snap_m`` from their layouts (snap.read_zordered_disc) and
snaps on the driver (snap.nearest_node).  P5/P6 and the O2 sort run on
the driver over those few rows.  Both path queries collect the graph in
the snap.disc of radius ``max_snap_m + limit_m`` around their start point
in one Arrow collect (_read_disc), snap the start from it, and
reach.nearest_seed_chain solves and walks it there.  Each request kind
has one code path, and every spatial read in it is snap.disc.  The disc
is bounded by geometry, not by graph size; the trade is that concurrent
requests finish under the driver's one GIL.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from ..io import local_frame
from . import reach as reach_mod
from . import snap as snap_mod

MAX_SNAP_M_DEFAULT = 300.0  # test_path.py:374
# disc slack over max_snap_m + limit_m: float32 edge weights may sum a
# path a few millimetres shorter than its great-circle length
_DISC_PAD_M = 1.0

_REACH_COLS = ["category", "dist_m", "time_s", "poi_id"]
_PATH_SCHEMA = "seq INT, node_idx INT, lon FLOAT, lat FLOAT, step_m FLOAT, cum_m FLOAT"


def point_reachability(
    reach: DataFrame,
    nodes: DataFrame,
    lon: float,
    lat: float,
    radius_m: float = 1000.0,
    categories: list[str] | None = None,
    max_snap_m: float | None = None,
) -> DataFrame:
    """G7 (poi_query.py:60-118): snap the query point to its nearest node
    (J4), return that node's per-category reach rows within ``radius_m``
    (P6), sorted by distance (O2).

    Output: category, dist_m, time_s, poi_id, as a local relation.  Empty
    result if the point cannot be snapped."""
    snapped = snap_mod.snap_single_point(nodes, lon, lat, max_snap_m=max_snap_m)
    if snapped is None:
        rows = pd.DataFrame(columns=_REACH_COLS)
    else:
        # one unsorted collect (an orderBy's range-bound sampling would cost
        # a job of its own).  P6's NULL test stays in Spark: a densified
        # table's unreached rows carry a NULL poi_id, which would widen the
        # collected column to float
        mine = (F.col("node_idx") == F.lit(snapped[0])) & F.col("dist_m").isNotNull()
        rows = reach.where(mine).select(*_REACH_COLS).toPandas()
    return _reach_answer(reach.sparkSession, rows, reach.select(*_REACH_COLS).schema, radius_m, categories)


def _reach_answer(spark, rows, schema, radius_m, categories):
    """P5/P6 + O2 on the driver over one node's collected reach rows: the
    rows within ``radius_m``, compared in float64 as Spark widens a FLOAT
    dist_m against the DOUBLE radius, in ``categories`` if given, sorted
    by (dist_m, category), as a local relation of ``schema``."""
    keep = rows["dist_m"].to_numpy(np.float64) <= float(radius_m)  # P6
    if categories:  # P5
        keep &= rows["category"].isin(categories).to_numpy()
    out = rows[keep].sort_values(["dist_m", "category"], na_position="first")  # O2
    return local_frame(spark, out, schema)


def point_reachability_zordered(
    spark,
    reach: DataFrame | None,
    nodes_layout_path: str,
    layout_bbox: tuple[float, float, float, float],
    lon: float,
    lat: float,
    radius_m: float = 1000.0,
    categories: list[str] | None = None,
    max_snap_m: float = MAX_SNAP_M_DEFAULT,
    reach_layout_path: str | None = None,
) -> DataFrame:
    """G7 served from z-order layouts: ``nodes_layout_path`` (a
    layout.write_zorder_layout node table) and ``reach_layout_path`` (a
    reach.write_reach_zordered table on the SAME layout_bbox).  The
    snapped node lies within ``max_snap_m`` of the query point, so its
    reach rows lie in the same disc: the node and reach rows of
    snap.read_zordered_disc come to the driver as ONE collect, the snap
    (snap.nearest_node) and P5/P6/O2 run there, and neither full table is
    scanned.  Same rows as point_reachability by construction.
    ``reach`` is accepted and ignored; without ``reach_layout_path`` this
    raises ValueError.

    Each layout path is listed once per Spark session, on its first
    read (layout.read_zorder_bbox), and every later request prunes its
    cells from that cached listing: a warm request starts no listing or
    schema-inference job, only its collect.  A layout
    rewritten outside layout.write_zorder_layout must be evicted with
    ``session_index.invalidate(path)``."""
    if reach_layout_path is None:
        raise ValueError("point_reachability_zordered needs reach_layout_path")

    # node rows carry snap_m and a 0 poi_id (a NULL would widen the
    # collected poi_id to float); reach rows carry snap_m NULL
    node_disc = snap_mod.read_zordered_disc(spark, nodes_layout_path, layout_bbox, lon, lat, max_snap_m)
    reach_disc = snap_mod.read_zordered_disc(spark, reach_layout_path, layout_bbox, lon, lat, max_snap_m)
    reach_rows = reach_disc.where(F.col("dist_m").isNotNull()).select("node_idx", *_REACH_COLS)
    rows = (
        node_disc.select("node_idx", "snap_m", F.lit(0).alias("poi_id"))
        .unionByName(reach_rows, allowMissingColumns=True)
        .toPandas()
    )
    node_idx = snap_mod.nearest_node(rows, max_snap_m)
    mine = rows["snap_m"].isna() & (rows["node_idx"] == node_idx)  # None matches no row
    return _reach_answer(spark, rows.loc[mine, _REACH_COLS], reach_rows.drop("node_idx").schema, radius_m, categories)


def point_to_point_path(
    nodes: DataFrame,
    edges: DataFrame,
    start_lonlat: tuple[float, float],
    end_lonlat: tuple[float, float],
    limit_m: float = 5000.0,
    max_snap_m: float = MAX_SNAP_M_DEFAULT,
) -> DataFrame:
    """G3 (`astar_csr`, test_path.py:33-76): point-to-point walking route.

    SURVEY's "bounded G2" with one seed: the start point's limit disc
    comes to the driver in one collect (_read_disc), the start snaps from
    it and is the only seed, built on the driver, and
    reach.nearest_seed_chain solves the bounded shortest paths from it
    over the disc (no A* pruning) and walks prev from the target back to
    the start.  The target snaps with snap.snap_single_point, because its
    snap disc need not lie inside the start's limit disc.  The chain is
    reversed and re-costed (G5 + W1); every step of the forward chain is
    an edge, so the haversine fallback never fires.  Ties between equal-length routes
    go to the lexicographic min (dist, prev).

    Output rows: seq, node_idx, lon, lat, step_m, cum_m (B7 shape minus the
    POI columns); empty when either point cannot be snapped or the target
    lies beyond ``limit_m``."""
    spark = nodes.sparkSession
    t = snap_mod.snap_single_point(nodes, *end_lonlat, max_snap_m=max_snap_m)
    steps = _recost(None, [])
    if t is not None:
        disc, s = _read_disc(nodes, edges, None, start_lonlat, limit_m, max_snap_m)
        if s is not None:
            seed = pd.DataFrame({"node_idx": [s], "category": ["route"], "poi_id": [0]})
            found = _chain(disc, seed, t[0], limit_m)
            if found is not None:
                steps = _recost(disc, found[1][::-1])
    return local_frame(spark, steps, _PATH_SCHEMA)


def _read_disc(nodes, edges, seeds, center, limit_m, max_snap_m):
    """The graph within ``max_snap_m + limit_m`` (plus _DISC_PAD_M) of the
    query point ``center``, collected: ``(disc, start)``, the disc's
    graph_rows with lon, lat, snap_m on its node rows, and the node
    ``center`` snaps to (J4 on the driver, snap.nearest_node) or None.

    The disc loses nothing.  Every node within ``max_snap_m`` of
    ``center`` lies in it, so the snap sees every candidate.  Edges are
    symmetric and weigh their haversine length at R_EDGE_WEIGHTS_M, above
    the disc's R=6371000, so a node on a
    seed-to-tip path no longer than ``limit_m`` lies within ``limit_m``
    great-circle distance of the path's query-side end (the tip for
    path-to-nearest-POI, the seed for the route), and that node lies
    within ``max_snap_m`` of ``center``.  Every node on the winning chain,
    and every tie candidate for its prev, is on such a path.  Only nodes
    in the disc, edges with both ends in it and ``seeds`` on its nodes
    (None for the route) come to the driver, in one Arrow collect: the
    disc slice is bounded by geometry, not graph size."""
    lon, lat = center
    radius_m = float(max_snap_m) + float(limit_m) + _DISC_PAD_M
    disc = snap_mod.disc(nodes.select("node_idx", "lon", "lat"), lon, lat, radius_m)
    # the disc's node ids are a small table: broadcast, the edges never
    # shuffle.  Every semi-join takes the same unrenamed, unfiltered keys,
    # so Spark builds the broadcast once; an unsnapped seed's node_idx -1
    # names no disc node, so the seeds' join is P3 as well.
    keys = F.broadcast(disc.select("node_idx"))

    def in_disc(df, col):
        df = df.withColumnRenamed(col, "node_idx").join(keys, "node_idx", "left_semi")
        return df.withColumnRenamed("node_idx", col)

    disc_edges = in_disc(in_disc(edges, "src"), "dst")
    disc_seeds = None if seeds is None else in_disc(seeds, "node_idx")
    rows = reach_mod.graph_rows(disc_edges, disc_seeds, disc, "lon", "lat", "snap_m").toPandas()
    return rows, snap_mod.nearest_node(rows, max_snap_m)


def _chain(disc, s_pdf, tip_idx, limit_m):
    """reach.nearest_seed_chain over the edges of ``disc`` (_read_disc)."""
    e_pdf = disc[disc["dst"] >= 0].rename(columns={"node_idx": "src"})
    return reach_mod.nearest_seed_chain(e_pdf, s_pdf, tip_idx, limit_m)


def _recost(disc, chain: list[int]) -> pd.DataFrame:
    """G5 + W1 over a node chain of ``disc`` (_read_disc), shared by
    both path queries: each step weighs its edge (graph_build's min-dedup
    leaves one per direction), or the haversine at R=6371000 where no edge
    runs that way, and ``cum_m`` is the running total, summed in float64
    as Spark's window sum does.  Returns the _PATH_SCHEMA columns in seq
    order, empty for an empty chain."""
    lonlat, w = {}, {}
    if chain:
        nd, ed = disc[(disc["dst"] < 0) & ~disc["seed"]], disc[disc["dst"] >= 0]
        lonlat = dict(zip(nd["node_idx"].tolist(), zip(nd["lon"].tolist(), nd["lat"].tolist())))
        w = dict(zip(zip(ed["node_idx"].tolist(), ed["dst"].tolist()), ed["w"].tolist()))
    steps = [0.0] * len(chain)
    for i in range(1, len(chain)):
        u, v = chain[i - 1], chain[i]
        steps[i] = w[(u, v)] if (u, v) in w else geo.haversine_m_local(*lonlat[u], *lonlat[v], geo.R_QUERY_M)
    step_m = np.asarray(steps, dtype=np.float32)
    return pd.DataFrame({
        "seq": np.arange(len(chain), dtype=np.int32),
        "node_idx": np.asarray(chain, dtype=np.int32),
        "lon": np.asarray([lonlat[n][0] for n in chain], dtype=np.float32),
        "lat": np.asarray([lonlat[n][1] for n in chain], dtype=np.float32),
        "step_m": step_m,
        "cum_m": np.cumsum(step_m, dtype=np.float64).astype(np.float32),  # W1
    })


def evaluate_accuracy(metrics: DataFrame, base_tol_m: float = 20.0) -> DataFrame:
    """A8 golden-eval accuracy (Documents/metrics.csv + Metrics M1.pdf
    p.1): pass iff |map_m − algo_m| <= base_tol + offset_m; returns
    (n_points, n_passed, accuracy).  The reference's published figure is
    0.93 over 100 Gdańsk locations."""
    passed = (
        F.abs(F.col("map_m") - F.col("algo_m")) <= F.lit(base_tol_m) + F.col("offset_m")
    ).cast("int")
    return metrics.agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum(passed).alias("n_passed"),
        F.round(F.avg(passed.cast("double")), 4).alias("accuracy"),
    )


def path_to_nearest_poi(
    nodes: DataFrame,
    edges: DataFrame,
    pois: DataFrame,
    lon: float,
    lat: float,
    category: str,
    limit_m: float = reach_mod.LIMIT_M_DEFAULT,
    max_snap_m: float = MAX_SNAP_M_DEFAULT,
) -> DataFrame:
    """§3.3 (test_path.py:366-420): walking path from (lon, lat) to the
    nearest POI of ``category``.

    Solves the bounded multi-source shortest paths from the category's
    POI seeds (G2) and backtracks start→source (G4) on the driver over the
    graph inside the query point's limit disc (_read_disc, whose collect
    also snaps the query point), then
    re-costs each step and accumulates the running total (G5 + W1,
    _recost).  Output rows (B7 schema): seq, node_idx, lon, lat, step_m,
    cum_m, poi_id, category, as a local relation; empty when the point
    cannot be snapped or no POI lies within ``limit_m``."""
    steps, poi_id = _recost(None, []), 0
    key = geo.sanitize_key(F.lit(category))
    seeds = pois.where(geo.sanitize_key(F.col("category")) == key).select(
        "node_idx", F.lit(category).alias("category"), "poi_id"
    )
    disc, start = _read_disc(nodes, edges, seeds, (lon, lat), limit_m, max_snap_m)
    if start is not None:
        found = _chain(disc, disc[disc["seed"]], start, limit_m)
        if found is not None:
            poi_id, steps = found[0], _recost(disc, found[1])
    steps["poi_id"] = np.full(len(steps), poi_id, dtype=np.int64)
    steps["category"] = pd.Series([category] * len(steps), dtype=object)
    return local_frame(nodes.sparkSession, steps, _PATH_SCHEMA + ", poi_id BIGINT, category STRING")
