"""Bounded shortest paths → the `reach` gold table (SURVEY.md §2.8 G2,
the reference's compute core), and the one solver behind every bounded
shortest path in the engine.

The reference runs a binary-heap Dijkstra over CSR arrays per category
(`precompute_poi_reach.py:86-125`), bounded at `limit_m`, once per tile,
and the same heap for its point-to-point A* (`test_path.py:33-76`).  Here
that heap (``_heap_dijkstra``) is the only solver:

- G2 reach (compute_reach) groups by tile: a tile's group holds the edges
  out of its buffer nodes and the seeds in its buffer, and keeps the rows
  of its core nodes.  The buffer is wider than `limit_m`
  (grid_creation.py:235-236: 2 km against 1 km), so no shortest path that
  ends in a core leaves its tile's buffer and tiles never exchange state;
  compute_reach refuses a buffer narrower than `limit_m` on the ground.
- the start → nearest-seed chain of path-to-nearest-POI (G4) and the
  point-to-point route (G3) solve on the driver (nearest_seed_chain,
  called from plans/query.py) over the graph inside their limit disc,
  which comes to the driver in one Arrow collect: bounded by geometry,
  not graph size, and without a Python worker per request.  The trade:
  concurrent path requests solve under the driver's one GIL.

A tile that outgrows a task calls for a smaller grid.TILE_KM_DEFAULT, not
a second solver.

Differences from the reference, by design:
- ALL categories run in one pass (category is a state column) instead of
  the reference's per-category loop — one task per tile, shared edge scan.
- Tie-break is deterministic set semantics: the winning source for a node
  is min(dist, poi_id) lexicographically.  The reference's winner on
  exact distance ties depends on heap pop order
  (`precompute_poi_reach.py:119-123`, strict `<` keeps first-settled);
  the engine pins the order-free rule instead, so results are stable
  under any partitioning.
- Unreachable = NULL (reference: inf / -1); sentinels are materialized
  only at reference-shaped sinks (SURVEY.md §1.2).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo
from . import grid

LIMIT_M_DEFAULT = 1000.0  # precompute_poi_reach.py:132


def _valid_sources(pois: DataFrame, nodes: DataFrame) -> DataFrame:
    """P3: sources snapped to a node that exists in the node table
    (precompute_poi_reach.py:177 checks node_idx in [0, N) against dense
    indices; membership semi-join is the form that also holds for
    subgraphs, e.g. per-tile node sets with global indices)."""
    return pois.where(F.col("node_idx") >= 0).join(
        nodes.select("node_idx"), "node_idx", "left_semi"
    )


def _heap_dijkstra(e_pdf, s_pdf, limit_m: float) -> dict:
    """Binary-heap Dijkstra (the reference's own algorithm,
    precompute_poi_reach.py:86-125) over ``e_pdf(src, dst, w)`` from
    ``s_pdf(node_idx, category, poi_id)``, bounded at ``limit_m``: the
    single solver body behind shortest_paths_bounded_local (one executor
    task per tile) and nearest_seed_chain (on the driver).

    Returns ``state[(node, category)] = (dist, poi_id, prev)``, the
    lexicographic-min winner per key, with prev -1 at seeds so a seed
    orders first on ties."""
    import heapq
    from collections import defaultdict

    adj = defaultdict(list)
    for src, dst, w in zip(e_pdf["src"], e_pdf["dst"], e_pdf["w"]):
        adj[int(src)].append((int(dst), float(w)))
    state: dict = {}
    heap: list = []
    for node, cat, poi in zip(s_pdf["node_idx"], s_pdf["category"], s_pdf["poi_id"]):
        k = (int(node), cat)
        cand = (0.0, int(poi), -1)
        if k not in state or cand < state[k]:
            state[k] = cand
            heapq.heappush(heap, (0.0, int(poi), -1, int(node), cat))
    while heap:
        d, p, pv, node, cat = heapq.heappop(heap)
        if state.get((node, cat)) != (d, p, pv):
            continue  # stale entry (lazy deletion, like the reference)
        for dst, w in adj.get(node, ()):
            nd = d + w
            if nd > limit_m:
                continue
            k = (dst, cat)
            cand = (nd, p, node)
            if k not in state or cand < state[k]:
                state[k] = cand
                heapq.heappush(heap, (nd, p, node, dst, cat))
    return state


def graph_rows(edges: DataFrame, seeds: DataFrame | None, nodes: DataFrame, *carry: str) -> DataFrame:
    """One row per fact about a node, the input shape of
    shortest_paths_bounded_local once keyed by group: ``(node_idx, dst, w,
    seed, category, poi_id)``.  An edge ``edges(src, dst, w)`` is a row of
    its source with ``dst``; a seed ``seeds(node_idx, category, poi_id)``
    is a ``seed`` row (``seeds`` None adds none: the route builds its one
    seed on the driver); every ``nodes(node_idx)`` row gets a bare row, so
    a node with neither still names its group.  Unused fields hold -1,
    0.0, false, NULL and 0, never NULL numbers, which pandas would widen
    to float.  The ``carry`` columns of ``nodes`` (the path queries carry
    lon, lat, snap_m) follow on the bare rows and are NULL on the
    others."""
    nulls = [F.lit(None).cast(nodes.schema[c].dataType).alias(c) for c in carry]
    rows = edges.select(
        F.col("src").cast("int").alias("node_idx"),
        F.col("dst").cast("int").alias("dst"),
        F.col("w").cast("double").alias("w"),
        F.lit(False).alias("seed"),
        F.lit(None).cast("string").alias("category"),
        F.lit(0).cast("bigint").alias("poi_id"),
        *nulls,
    )
    if seeds is not None:
        rows = rows.unionByName(
            seeds.select(
                F.col("node_idx").cast("int").alias("node_idx"),
                F.lit(-1).alias("dst"),
                F.lit(0.0).alias("w"),
                F.lit(True).alias("seed"),
                F.col("category").cast("string").alias("category"),
                F.col("poi_id").cast("bigint").alias("poi_id"),
                *nulls,
            )
        )
    return rows.unionByName(
        nodes.select(
            F.col("node_idx").cast("int").alias("node_idx"),
            F.lit(-1).alias("dst"),
            F.lit(0.0).alias("w"),
            F.lit(False).alias("seed"),
            F.lit(None).cast("string").alias("category"),
            F.lit(0).cast("bigint").alias("poi_id"),
            *carry,
        )
    )


def shortest_paths_bounded_local(rows: DataFrame, limit_m: float = LIMIT_M_DEFAULT) -> DataFrame:
    """G2 kernel: multi-source bounded shortest paths per ``grid_id``
    group, solved by the heap Dijkstra (_heap_dijkstra) in ONE
    applyInPandas task per group.

    ``rows(grid_id, core, node_idx, dst, w, seed, category, poi_id)`` are
    graph_rows keyed by group: a row with ``dst`` >= 0 holds the edge
    node_idx → dst of weight ``w``, a ``seed`` row holds the seed
    (category, poi_id) on node_idx, and ``core`` on a node's rows keeps
    that node's answers.  Returns ``(node_idx, category, dist_m, poi_id)``
    for every core node within ``limit_m`` of a seed of that category
    inside its group; the winner per (node, category) is the
    lexicographic min (dist, poi_id).  Groups never exchange state, so a
    tiled graph runs as one plain task per tile with no shuffle between
    them."""
    lim = float(limit_m)

    def solve(pdf):
        import pandas as pd

        e_pdf = pdf[pdf["dst"] >= 0].rename(columns={"node_idx": "src"})
        core = set(pdf["node_idx"][pdf["core"]])
        state = _heap_dijkstra(e_pdf, pdf[pdf["seed"]], lim)
        keys = [k for k in state if k[0] in core]
        return pd.DataFrame({
            "node_idx": pd.Series([k[0] for k in keys], dtype="int32"),
            "category": pd.Series([k[1] for k in keys], dtype="object"),
            "dist_m": pd.Series([state[k][0] for k in keys], dtype="float64"),
            "poi_id": pd.Series([state[k][1] for k in keys], dtype="int64"),
        })

    return rows.groupBy("grid_id").applyInPandas(
        solve, schema="node_idx INT, category STRING, dist_m DOUBLE, poi_id BIGINT"
    )


def nearest_seed_chain(e_pdf, s_pdf, tip_idx: int, limit_m: float = LIMIT_M_DEFAULT):
    """G2 + G4 on the driver: solve the bounded Dijkstra over ``e_pdf(src,
    dst, w)`` from ``s_pdf(node_idx, category, poi_id)`` (one category) and
    walk ``prev`` from ``tip_idx`` back to its winning seed.  Returns
    ``(poi_id, chain)`` with the chain in tip → seed order, or None when no
    seed lies within ``limit_m``.

    Zero-weight edges can make the (dist, poi_id, prev) tie-break cyclic
    (hand-made inputs only: graph_build clamps weights at 0.01 m), so the
    walk raises once it takes more steps than there are settled nodes."""
    tip = int(tip_idx)
    # seeds carry one category, so the settled state keys on node
    settled = {node: v for (node, _cat), v in _heap_dijkstra(e_pdf, s_pdf, float(limit_m)).items()}
    if tip not in settled:
        return None
    chain = [tip]
    while settled[chain[-1]][2] >= 0:
        if len(chain) > len(settled):
            raise RuntimeError(
                f"path backtrack did not converge within {len(settled)} settled nodes "
                f"from tip {tip}; prev pointers likely contain a cycle"
            )
        chain.append(settled[chain[-1]][2])
    return settled[tip][1], chain


def _buffer_width_m(rows) -> float:
    """The narrowest ground width of any tile's buffer halo over the
    collected tile ``rows``, in metres of edge-weight haversine
    (geo.R_EDGE_WEIGHTS_M): a node in a tile's core lies at least this
    far, great-circle, from every node outside that tile's buffer, so
    every network path between them is at least as long.

    grid.compute_degrees converts at 111.32 km per degree and sizes the
    longitude halo at the bbox's top latitude, so the nominal
    ``buffer_km`` overstates both: the latitude halo is measured here at
    R_EDGE_WEIGHTS_M, and the longitude halo, as the distance from a point
    to a meridian dlon away, at the core latitude farthest from the
    equator."""
    dlat = min(r["buffer_deg"]["dlat"] for r in rows)
    dlon = min(r["buffer_deg"]["dlon"] for r in rows)
    lat = max(max(abs(r["tile_bbox"]["minlat"]), abs(r["tile_bbox"]["maxlat"])) for r in rows)
    cos_lat = math.cos(math.radians(min(lat, 90.0)))
    lon_rad = math.asin(min(1.0, cos_lat * math.sin(math.radians(min(dlon, 90.0)))))
    return geo.R_EDGE_WEIGHTS_M * min(math.radians(dlat), lon_rad)


def _tile_frame(tiles: DataFrame, limit_m: float) -> float:
    """Read the (small) tile table once and return the west edge of its
    longitude frame, the least buffer minlon.  Raises ValueError when the
    buffer is narrower on the ground than ``limit_m`` (_buffer_width_m),
    or when the buffers span 360 degrees of longitude: a graph that
    circles the globe has no frame in which every node has one position."""
    rows = tiles.select("buffer_deg", "tile_bbox", "buffer_bbox").collect()
    if not rows:
        raise ValueError("compute_reach needs at least one tile")
    width_m = _buffer_width_m(rows)
    if width_m < limit_m:
        raise ValueError(
            f"tile buffer is {width_m:.1f} m wide on the ground, less than limit_m={limit_m}: "
            "a shortest path ending in a tile core could leave the tile's buffer"
        )
    west = min(r["buffer_bbox"]["minlon"] for r in rows)
    east = max(r["buffer_bbox"]["maxlon"] for r in rows)
    if east - west >= 360.0:
        raise ValueError(
            f"tile buffers span {east - west:.1f} degrees of longitude: tile a graph across "
            "the ±180 meridian in its eastward frame (grid.tiles_over)"
        )
    return west


def compute_reach(
    nodes: DataFrame,
    edges: DataFrame,
    pois: DataFrame,
    tiles: DataFrame,
    limit_m: float = LIMIT_M_DEFAULT,
) -> DataFrame:
    """The `reach` gold table (SURVEY.md §1.1, B6): ``node_idx, category,
    dist_m FLOAT, time_s FLOAT, poi_id BIGINT``, with ``time_s`` at
    geo.WALK_SPEED_MPS.  Categories are sanitized keys (F7).

    Solved per tile (grid.tiles_over), the reference's per-tile loop:
    nodes go to every tile whose buffer holds them
    (grid.assign_points_to_tiles, at their longitude in the tiles' frame,
    so a graph across the ±180 meridian tiles like any other), an edge to
    every tile whose buffer holds its source, a seed to every tile whose
    buffer holds its node.  shortest_paths_bounded_local solves each tile
    in one task and keeps the rows of the tile's core nodes; the
    half-open cores give every node inside the tiles exactly one.  An
    edge out of the buffer is a dead end in its tile, since its target
    has no edges there, and every path that ends in a core within
    ``limit_m`` stays inside the buffer: the answer equals the whole
    graph's.  Raises ValueError before solving when the buffer is
    narrower on the ground than ``limit_m`` (_tile_frame).

    SPARSE: one row per REACHED (node, category) pair.  The reference
    emits full length-N arrays per category (inf / -1 for unreachable,
    precompute_poi_reach.py:159-218), but at 100 TB the dense node ×
    category cube stores the unreachable fraction as explicit rows — on a
    country-scale graph with sparse POI categories that fraction
    dominates, and every downstream aggregate/point query already treats
    absent and NULL identically.  ``densify_reach`` materializes the
    reference's cube — NULL rows where unreachable — which is the shape
    the reference-hash parity sinks need.

    Materialized once, partitioned by category on write — point queries
    then read one node's rows, never touching the graph."""
    west = _tile_frame(tiles, limit_m)
    pts = nodes.select("node_idx", grid.frame_lon(F.col("lon"), west).alias("lon"), "lat")
    tiled = grid.assign_points_to_tiles(pts, tiles).select(
        "grid_id", grid.contains(F.col("tile_bbox")).alias("core"), "node_idx"
    )
    seeds = pois.where(F.col("node_idx") >= 0).select(
        "node_idx", geo.sanitize_key(F.col("category")).alias("category"), "poi_id"
    )
    # one join to the tile assignment keys every fact by tile; it also
    # keeps only seeds on graph nodes (P3)
    rows = tiled.join(graph_rows(edges, seeds, nodes), "node_idx")
    return shortest_paths_bounded_local(rows, limit_m).select(
        "node_idx",
        "category",
        F.col("dist_m").cast("float").alias("dist_m"),
        geo.walking_time_s(F.col("dist_m")).cast("float").alias("time_s"),
        "poi_id",
    )


def densify_reach(
    sparse: DataFrame, nodes: DataFrame, categories: DataFrame | None = None
) -> DataFrame:
    """Sparse reach → the reference's dense node × category cube (one row
    per (node, category) for EVERY node, NULL dist/time/poi when
    unreachable).  A sink-side projection: the grid is a lattice
    crossJoin of the node ids against the (tiny, broadcast) category
    list, and the sparse table left-joins onto it — no recompute."""
    cats = categories if categories is not None else sparse.select("category").distinct()
    cube = nodes.select("node_idx").crossJoin(F.broadcast(cats))
    return cube.join(sparse, ["node_idx", "category"], "left").select(
        "node_idx",
        "category",
        F.col("dist_m").cast("float").alias("dist_m"),
        F.col("time_s").cast("float").alias("time_s"),
        "poi_id",
    )


def reach_with_sentinels(reach: DataFrame) -> DataFrame:
    """SURVEY §1.2 sentinel-compat projection: the engine keeps NULL for
    not-reachable-within-limit internally (SQL-correct: NULLs drop out of
    aggregates and comparisons), but the reference's published artifact
    stores ``inf`` distances/times and ``-1`` poi_ids
    (precompute_poi_reach.py:8,58-60,95).  This materializes exactly those
    sentinels at the sink boundary so outputs are hash-comparable with
    reference .npz dumps."""
    return reach.select(
        "node_idx",
        "category",
        F.coalesce(F.col("dist_m"), F.lit(float("inf"))).cast("float").alias("dist_m"),
        F.coalesce(F.col("time_s"), F.lit(float("inf"))).cast("float").alias("time_s"),
        F.coalesce(F.col("poi_id"), F.lit(-1)).cast("bigint").alias("poi_id"),
    )


def reach_from_sentinels(df: DataFrame) -> DataFrame:
    """Inverse of reach_with_sentinels — import a reference-shaped table
    back into NULL semantics (inf→NULL, -1→NULL)."""
    return df.select(
        "node_idx",
        "category",
        F.when(F.col("dist_m") == float("inf"), F.lit(None)).otherwise(F.col("dist_m")).cast("float").alias("dist_m"),
        F.when(F.col("time_s") == float("inf"), F.lit(None)).otherwise(F.col("time_s")).cast("float").alias("time_s"),
        F.when(F.col("poi_id") == -1, F.lit(None)).otherwise(F.col("poi_id")).cast("bigint").alias("poi_id"),
    )


def write_reference_shaped(reach: DataFrame, path: str, nodes: DataFrame | None = None) -> None:
    """K3-parity sink: the reach table in the reference's sentinel
    convention, parquet partitioned by category (the Spark-native stand-in
    for one npz array set per category key,
    precompute_poi_reach.py:159-170).  The reference artifact is DENSE
    (full length-N arrays) — pass ``nodes`` to densify a sparse-form
    table at this sink boundary.  Without ``nodes`` the input is ASSERTED
    dense (count == n_distinct_nodes * n_categories): since r11 the reach
    gold table is sparse by default, and silently writing a sparse table
    would drop every inf/-1 sentinel row and break downstream
    reference-hash parity with no local error (r11 ADVICE)."""
    from ..io import write_parquet

    if nodes is not None:
        reach = densify_reach(reach, nodes)
    else:
        shape = reach.agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("node_idx").alias("nodes"),
            F.countDistinct("category").alias("cats"),
        ).first()
        if shape["n"] != shape["nodes"] * shape["cats"]:
            raise ValueError(
                "write_reference_shaped requires a DENSE reach table when "
                f"nodes is not given: got {shape['n']} rows for "
                f"{shape['nodes']} nodes x {shape['cats']} categories "
                f"(expected {shape['nodes'] * shape['cats']}); the sparse "
                "default reach table must be densified (pass nodes=...)"
            )
    write_parquet(reach_with_sentinels(reach), path, partition_by=["category"])


def write_reach_zordered(
    reach: DataFrame,
    nodes: DataFrame,
    out_dir: str,
    layout_bbox: tuple[float, float, float, float],
) -> None:
    """Write the reach gold table through the Z-order layout, keyed on
    each row's NODE coordinates (r13 verdict item 7): reach is node-keyed
    (not spatial), so the spatial key comes from joining the node table
    once at write time — after that, a point query's reach lookup reads
    only the quadtree cells under its max-snap disc (the snapped node is
    within max_snap_m of the query point, so its reach rows are inside
    the pruned listing by the same containment argument as the node
    read).  The reference precomputes per-tile npz artifacts and loads a
    whole tile per query (poi_query.py); the Spark answer is write-once
    spatial clustering on the SAME layout geometry as the node table, so
    both halves of G7 prune together.  The written table carries
    (node_idx, category, dist_m, time_s, poi_id, lon, lat) + the layout
    columns."""
    from . import layout as layout_mod

    keyed = reach.join(nodes.select("node_idx", "lon", "lat"), "node_idx")
    layout_mod.write_zorder_layout(keyed, out_dir, layout_bbox)


def reach_summary(
    reach: DataFrame, pois: DataFrame, nodes: DataFrame, limit_m: float = LIMIT_M_DEFAULT
) -> DataFrame:
    """A4 per-category summary (precompute_poi_reach.py:204-228):
    category, n_sources, n_within, median_dist_m, median_time_s, limit_m.
    Exact percentile (np.median in the reference), never approx."""
    src_counts = (
        _valid_sources(pois, nodes)
        .select(geo.sanitize_key(F.col("category")).alias("category"))
        .groupBy("category")
        .agg(F.count(F.lit(1)).alias("n_sources"))
    )
    stats = reach.groupBy("category").agg(
        F.sum(F.when(F.col("dist_m").isNotNull(), 1).otherwise(0)).cast("int").alias("n_within"),
        F.round(F.percentile("dist_m", F.lit(0.5)), 4).alias("median_dist_m"),
        F.round(F.percentile("time_s", F.lit(0.5)), 4).alias("median_time_s"),
    )
    return (
        stats.join(src_counts, "category", "left")
        .select(
            "category",
            F.coalesce("n_sources", F.lit(0)).cast("int").alias("n_sources"),
            "n_within",
            "median_dist_m",
            "median_time_s",
            F.lit(float(limit_m)).alias("limit_m"),
        )
        .orderBy("category")
    )


def reach_pivot(reach: DataFrame) -> DataFrame:
    """The reference's wide {dist,time,poi}_{category} layout
    (precompute_poi_reach.py:168-170) as a pivot over the long table —
    kept for sink parity; the long form is the queryable one."""
    cats = [r["category"] for r in reach.select("category").distinct().orderBy("category").collect()]
    return (
        reach.groupBy("node_idx")
        .pivot("category", cats)
        .agg(
            F.first("dist_m").alias("dist"),
            F.first("time_s").alias("time"),
            F.first("poi_id").alias("poi"),
        )
        .orderBy("node_idx")
    )
