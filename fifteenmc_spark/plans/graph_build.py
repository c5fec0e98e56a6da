"""Road-graph construction as a declarative DataFrame pipeline
(SURVEY.md §2.2 P2-P4, §2.3 J1, §2.4 A1-A2, §2.5 W3, §2.6 U1).

The reference builds a single-machine CSR (`graph_construction.py:123-162`):
symmetrize → drop self-loops → lexsort → dedup-min → bincount → cumsum.
In Spark the *edge table is the graph* — CSR is a physical layout for one
address space and is deliberately not replicated.  The same canonical form
falls out of `union` + `where` + `groupBy().min()`, which Catalyst executes
as one shuffle on (src, dst) with map-side partial aggregation.

Scale notes
-----------
- Dense node indexing is the only global-order operation.  A naive
  `row_number() OVER (ORDER BY osm_node_id)` funnels every row through ONE
  partition; instead `assign_dense_index` uses range repartition +
  per-partition offset arithmetic (spark_partition_id /
  monotonically_increasing_id + a broadcast offset map) — fully parallel
  and fully JVM-side, no Python round-trip.
- The weight join broadcasts nothing blindly: node coordinates are joined
  u-side and v-side by key; at 100 TB both are shuffle hash joins on the
  node id, co-partitioned by Catalyst.
- `dedup-min` shuffles (src, dst, w) triples only — geometry and tags are
  projected out before the shuffle (the reference does the same with
  `[[u, v]]` at graph_construction.py:250).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import geo

# Walkability tag sets (graph_construction.py:57-63) — public OSM taxonomy.
ALWAYS_WALKABLE = (
    "footway", "path", "pedestrian", "steps", "platform", "crossing",
    "living_street", "cycleway", "track", "residential", "unclassified", "service",
)
BIG_ROADS = ("primary", "primary_link", "secondary", "secondary_link", "tertiary", "tertiary_link")
SIDEWALK_OK = ("yes", "both", "left", "right")
FOOT_OK = ("yes", "designated", "permissive")
FAST_ROADS = ("motorway", "motorway_link", "trunk", "trunk_link")

_TAG_COLS = ("highway", "foot", "sidewalk", "motorroad", "oneway")


def clean_walkable_edges(edges: DataFrame) -> DataFrame:
    """P2: keep pedestrian-usable ways, drop fast roads
    (`clean_walkable_edges`, graph_construction.py:49-72).

    keep = highway ∈ ALWAYS ∪ (highway ∈ BIG ∧ (sidewalk ok ∨ foot ok)),
    minus (highway ∈ FAST ∨ motorroad = yes).  Tags are normalized with
    strip().lower() and missing columns treated as '' (P1).  Pure predicate
    algebra → pushed into the parquet scan by Catalyst."""
    cols = {c: geo.norm_tag(F.col(c)) if c in edges.columns else F.lit("") for c in _TAG_COLS}
    keep = cols["highway"].isin(*ALWAYS_WALKABLE) | (
        cols["highway"].isin(*BIG_ROADS)
        & (cols["sidewalk"].isin(*SIDEWALK_OK) | cols["foot"].isin(*FOOT_OK))
    )
    is_fast = cols["highway"].isin(*FAST_ROADS) | (cols["motorroad"] == "yes")
    return edges.where(keep & ~is_fast)


def assign_dense_index(nodes: DataFrame, id_col: str = "osm_node_id") -> DataFrame:
    """W3: dense 0..N-1 index in ascending id order
    (graph_construction.py:241-243 uses sort + arange).

    Fully JVM-side partition-offset arithmetic — no global-order window
    (one-partition funnel) and no Python round-trip (the previous
    rdd.zipWithIndex serialized every node to Python objects and back):

    1. repartitionByRange + sortWithinPartitions: partition i holds a
       contiguous ascending id range, rows sorted within it.
    2. spark_partition_id + monotonically_increasing_id projected in the
       same (narrow) stage: mono id = partition_id·2^33 + row_number
       (documented bit layout), so the in-partition 0-based row number is
       mid − pid·2^33 — computed without any exchange.
    3. One tiny count-per-partition agg → cumulative offsets (window over
       ≤ n_partitions rows) → broadcast-joined back:
       node_idx = offset[pid] + in-partition row number.

    localCheckpoint pins the (sampled, hence nondeterministic) range
    boundaries and in-partition order so the offsets job and the main job
    see identical partitions."""
    from pyspark.sql import Window

    ranged = (
        nodes.repartitionByRange(F.col(id_col))
        .sortWithinPartitions(id_col)
        .select(
            F.spark_partition_id().alias("__pid"),
            F.monotonically_increasing_id().alias("__mid"),
            "*",
        )
        .localCheckpoint()
    )
    counts = ranged.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n"))
    w_off = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid", F.coalesce(F.sum("__n").over(w_off), F.lit(0)).alias("__off")
    )
    row_in_part = F.col("__mid") - F.col("__pid").cast("long") * F.lit(1 << 33)
    out_cols = [F.col("node_idx")] + [F.col(f.name) for f in nodes.schema.fields]
    return (
        ranged.join(F.broadcast(offsets), "__pid")
        .withColumn("node_idx", (F.col("__off") + row_in_part).cast("int"))
        .select(*out_cols)
    )


def infer_uv_from_geometry(edges_geo: DataFrame, nodes: DataFrame) -> DataFrame:
    """J3 (`make_uv_if_missing`, graph_construction.py:74-95): when the
    source gives edge geometries but no endpoint ids, snap each edge's
    first/last vertex (F13: element_at 1 / -1) to the nearest graph node
    via the bucketed kNN join.

    Input: edges_geo(edge_id, geometry ARRAY<STRUCT<lon,lat>>, ...tags);
    output: same plus u, v (osm node ids; rows with <2 vertices dropped —
    the reference emits -1 and filters later)."""
    from . import snap as snap_mod

    ends = edges_geo.where(F.size("geometry") >= 2).select(
        "edge_id",
        F.element_at("geometry", 1).alias("p0"),
        F.element_at("geometry", -1).alias("p1"),
    )
    pts = ends.select(
        (F.col("edge_id") * 2).cast("long").alias("__k"),
        F.col("p0.lon").alias("lon"),
        F.col("p0.lat").alias("lat"),
    ).unionAll(
        ends.select(
            (F.col("edge_id") * 2 + 1).cast("long").alias("__k"),
            F.col("p1.lon").alias("lon"),
            F.col("p1.lat").alias("lat"),
        )
    )
    snapped = snap_mod.snap_points_to_nodes(pts, nodes.select("node_idx", "lon", "lat"), point_id_col="__k")
    ids = nodes.select(F.col("node_idx"), F.col("osm_node_id"))
    snapped = snapped.join(ids, "node_idx").select("__k", "osm_node_id")
    u_side = snapped.where(F.col("__k") % 2 == 0).select(
        (F.col("__k") / 2).cast("long").alias("edge_id"), F.col("osm_node_id").alias("u")
    )
    v_side = snapped.where(F.col("__k") % 2 == 1).select(
        ((F.col("__k") - 1) / 2).cast("long").alias("edge_id"), F.col("osm_node_id").alias("v")
    )
    return edges_geo.join(u_side, "edge_id").join(v_side, "edge_id")


def build_graph(nodes_raw: DataFrame, edges_raw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """G1-as-DataFrames: canonical (graph_nodes, graph_edges).

    graph_nodes(node_idx INT, osm_node_id BIGINT, lon FLOAT, lat FLOAT)
    graph_edges(src INT, dst INT, w FLOAT) — symmetrized (U1), self-loops
    dropped (P4), parallel edges deduped to min weight (A1), weights =
    haversine R=6371008.8 with 0.01 m zero clamp, float32
    (graph_construction.py:123-181).

    Input: nodes_raw(osm_node_id, lon, lat), edges_raw(u, v [osm ids], tags).
    Edges whose endpoints have no node row are dropped (inner join — the
    reference's dict .map + dropna, graph_construction.py:250-255).
    """
    nodes = assign_dense_index(
        nodes_raw.select(
            "osm_node_id", F.col("lon").cast("float").alias("lon"), F.col("lat").cast("float").alias("lat")
        )
    )

    e = edges_raw.where((F.col("u") >= 0) & (F.col("v") >= 0)).select("u", "v")  # P3
    nu = nodes.select(
        F.col("osm_node_id").alias("u"),
        F.col("node_idx").alias("src"),
        F.col("lon").alias("u_lon"),
        F.col("lat").alias("u_lat"),
    )
    nv = nodes.select(
        F.col("osm_node_id").alias("v"),
        F.col("node_idx").alias("dst"),
        F.col("lon").alias("v_lon"),
        F.col("lat").alias("v_lat"),
    )
    # J1 ×2: id→index mapping join on each endpoint; inner join drops
    # dangling endpoints exactly like the reference's dropna
    weighted = (
        e.join(nu, "u")
        .join(nv, "v")
        .select(
            "src",
            "dst",
            geo.edge_weight_m(F.col("u_lon"), F.col("u_lat"), F.col("v_lon"), F.col("v_lat")).alias("w"),
        )
    )
    # U1 symmetrize → P4 self-loop drop → A1 min-weight dedup (one shuffle)
    sym = weighted.unionAll(
        weighted.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w")
    )
    edges = (
        sym.where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.min("w").cast("float").alias("w"))
    )
    return nodes, edges


def reciprocity_violations(edges: DataFrame) -> DataFrame:
    """J8 existence check (validate_csr.py:21-29): edges (u,v) with no
    (v,u) — must be empty for the symmetrized graph.  Left-anti self-join
    on the swapped key."""
    swapped = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return edges.select("src", "dst").join(swapped, ["src", "dst"], "left_anti")


def validate_weights(edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Metamorphic weight check (validate_dist.py:1-22): recompute haversine
    from node coordinates and compare to stored weights — median and p90 of
    the ratio plus the count of edges off by >2×."""
    nu = nodes.select(F.col("node_idx").alias("src"), F.col("lon").alias("u_lon"), F.col("lat").alias("u_lat"))
    nv = nodes.select(F.col("node_idx").alias("dst"), F.col("lon").alias("v_lon"), F.col("lat").alias("v_lat"))
    ratio = F.col("w") / geo.edge_weight_m(
        F.col("u_lon"), F.col("u_lat"), F.col("v_lon"), F.col("v_lat")
    ).cast("double")
    return (
        edges.join(nu, "src")
        .join(nv, "dst")
        .select(ratio.alias("ratio"))
        .agg(
            F.round(F.percentile("ratio", F.lit(0.5)), 6).alias("median_ratio"),
            F.round(F.percentile("ratio", F.lit(0.9)), 6).alias("p90_ratio"),
            F.sum(F.when(F.col("ratio") > 2.0, 1).otherwise(0)).alias("n_bad"),
        )
    )
