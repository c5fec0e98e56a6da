"""POI extraction & classification (SURVEY.md §2.1 S2, §2.7 F11/F15).

The reference classifies OSM elements into 20 POI categories via a
category→tag-pairs map, issuing one pyrosm tag-filter scan per category
(`snap_poi_to_nodes.py:88-144`) and normalizing way/relation geometries to
centroid points (`safe_centroid`, snap_poi_to_nodes.py:43-70).

Engine form: ONE scan.  The tag map is a 25-row broadcast lookup table;
classification is `map_entries(tags)` exploded against it — Catalyst turns
that into a broadcast hash join, so the element scan happens once no
matter how many categories exist (the reference scans the pbf 20 times).
Centroids are column math over the coordinate array (no shapely needed:
average of vertices for ways/relations, identity for nodes).

Element table contract (what a pbf→parquet ingest step produces):
    elements(elem_id BIGINT, elem_type STRING,  -- node|way|relation
             tags MAP<STRING,STRING>,
             geometry ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>)
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..io import local_frame

# Category → OSM tag pairs; public OSM taxonomy, mirrors
# snap_poi_to_nodes.py:88-114 (20 categories / 25 pairs).
TAG_MAP: dict[str, list[tuple[str, str]]] = {
    "supermarket": [("shop", "supermarket")],
    "convenience": [("shop", "convenience")],
    "bakery": [("shop", "bakery")],
    "pet_shop": [("shop", "pet")],
    "pharmacy": [("amenity", "pharmacy")],
    "clinic_hospital": [("amenity", "clinic"), ("amenity", "hospital")],
    "parcel_locker": [("amenity", "parcel_locker")],
    "university": [("amenity", "university"), ("amenity", "college")],
    "library": [("amenity", "library")],
    "nightclub": [("amenity", "nightclub")],
    "school": [("amenity", "school")],
    "kinder_childcare": [("amenity", "kindergarten"), ("amenity", "childcare")],
    "veterinary": [("amenity", "veterinary")],
    "pub": [("amenity", "pub")],
    "fitness_centre": [("leisure", "fitness_centre")],
    "playground": [("leisure", "playground")],
    "park": [("leisure", "park")],
    "bus_stop": [("highway", "bus_stop")],
    "tram_stop": [("railway", "tram_stop")],
    "rail_station": [
        ("railway", "station"),
        ("railway", "halt"),
        ("public_transport", "station"),
        ("public_transport", "halt"),
    ],
}


def tag_table(spark: SparkSession) -> DataFrame:
    """F15 as data: the inverted (category, key, value) lookup — 25 rows,
    always broadcast."""
    rows = [(cat, k, v) for cat, pairs in TAG_MAP.items() for (k, v) in pairs]
    pdf = pd.DataFrame(rows, columns=["category", "tag_key", "tag_value"], dtype=object)
    return local_frame(spark, pdf, "category STRING, tag_key STRING, tag_value STRING")


def centroid_cols(geom) -> tuple:
    """F11 without a geometry lib: centroid = vertex average (nodes have a
    1-element geometry → identity).  Invalid/empty geometries → NULL,
    dropped downstream like the reference's safe_centroid failures."""
    n = F.size(geom)
    lon = F.when(n > 0, F.aggregate(geom, F.lit(0.0), lambda a, p: a + p["lon"]) / n)
    lat = F.when(n > 0, F.aggregate(geom, F.lit(0.0), lambda a, p: a + p["lat"]) / n)
    return lon.alias("lon"), lat.alias("lat")


def classify_pois(elements: DataFrame, categories: list[str] | None = None) -> DataFrame:
    """S2+F15: one-pass POI extraction.

    Explodes each element's tag map and broadcast-joins the 25-row tag
    table; an element matching several pairs yields one row per matching
    category (same as the reference's per-category scans).  Output:
    poi_id, category, lon, lat, name — ready for the J2 snap join.

    Predicate pushdown note: the `tags` map filter cannot push to parquet,
    but the exploded join keeps the scan single-pass; at 100 TB the ingest
    step should additionally write `tag_key` partition columns for the
    hot keys so the scan prunes."""
    t = tag_table(elements.sparkSession)
    if categories:
        t = t.where(F.col("category").isin(*categories))
    kv = elements.select(
        F.col("elem_id"),
        F.col("elem_type"),
        F.col("geometry"),
        F.element_at(F.col("tags"), "name").alias("name"),
        F.explode(F.map_entries("tags")).alias("kv"),
    ).select(
        "elem_id",
        "elem_type",
        "geometry",
        "name",
        F.col("kv.key").alias("tag_key"),
        F.col("kv.value").alias("tag_value"),
    )
    matched = kv.join(F.broadcast(t), ["tag_key", "tag_value"])
    lon, lat = centroid_cols(F.col("geometry"))
    return (
        matched.select(
            F.col("elem_id").alias("poi_id"),
            "category",
            lon,
            lat,
            "name",
        )
        .where(F.col("lon").isNotNull() & F.col("lat").isNotNull())
    )


def write_pois_zordered(
    pois: DataFrame,
    out_dir: str,
    layout_bbox: tuple[float, float, float, float],
) -> None:
    """Write the classified POI table through the Z-order layout (r14
    verdict item 6): POIs carry their own (lon, lat), so unlike the reach
    table no keying join is needed — one write_zorder_layout pass puts
    them under the SAME quadtree geometry as the node and reach tables,
    and the path query's seed read (path_to_nearest_poi_zordered) prunes
    its POI side from the identical disc-box computation the snap and
    reach halves already share.  The reference keeps pois.csv whole and
    re-filters it per query (snap_poi_to_nodes.py writes one flat CSV);
    the Spark answer is write-once spatial clustering, category kept as a
    plain column (the residual category filter runs on the pruned read —
    a category partition would multiply the file count by 20 and defeat
    the spatial clustering)."""
    from . import layout as layout_mod

    layout_mod.write_zorder_layout(pois, out_dir, layout_bbox)
