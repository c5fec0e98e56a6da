"""Coverage for the remaining SURVEY.md §2 surface: S3/S7/S9 sources,
F15 POI classification, J3 endpoint inference, and the §3.1 end-to-end
pipeline writing partitioned gold tables."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.io import read_csv, read_grid_id_list, read_json_records
from fifteenmc_spark.plans import graph_build, grid, pipeline, poi

from . import geo_fixtures as gf


# ---------------------------------------------------------------------------
# S3 / S7 / S9 sources
# ---------------------------------------------------------------------------
def test_csv_source(spark, tmp_path):
    p = tmp_path / "t.csv"
    p.write_text("a,b\n1,x\n2,y\n")
    df = read_csv(spark, str(p), schema="a INT, b STRING")
    assert [tuple(r) for r in df.orderBy("a").collect()] == [(1, "x"), (2, "y")]


def test_json_records_source(spark, tmp_path):
    p = tmp_path / "grid.json"
    p.write_text('[{"grid_id": "r0_c0", "centroid": {"lon": 18.6, "lat": 54.3}},'
                 ' {"grid_id": "r0_c1", "centroid": {"lon": 18.5, "lat": 54.3}}]')
    df = read_json_records(spark, str(p))
    assert df.count() == 2
    assert df.where(F.col("centroid.lon") == 18.6).first()["grid_id"] == "r0_c0"


def test_grid_id_list_source(spark, tmp_path):
    p = tmp_path / "ids.txt"
    p.write_text("# comment line\nr0_c0, r0_c1 r1_c0\nr0_c0\n\nr2_c2,r0_c1\n")
    got = [r["grid_id"] for r in read_grid_id_list(spark, str(p)).collect()]
    # first-occurrence order, comments skipped, dups dropped
    assert got == ["r0_c0", "r0_c1", "r1_c0", "r2_c2"]


# ---------------------------------------------------------------------------
# F15 POI classification over OSM-like elements
# ---------------------------------------------------------------------------
def test_classify_pois(spark):
    rows = [
        # node with a matching tag
        (1, "node", {"shop": "supermarket", "name": "S1"}, [(18.60, 54.35)]),
        # way: centroid of vertices; two matching pairs on one element
        (2, "way", {"amenity": "clinic", "name": "C1"}, [(18.0, 54.0), (18.2, 54.2)]),
        # relation with tag in the rail_station group
        (3, "relation", {"railway": "halt"}, [(10.0, 50.0)]),
        # non-POI element
        (4, "node", {"shop": "car_repair"}, [(18.7, 54.4)]),
        # empty geometry → dropped
        (5, "node", {"shop": "bakery"}, []),
    ]
    elements = spark.createDataFrame(
        [(i, t, tags, [{"lon": x, "lat": y} for x, y in geom]) for i, t, tags, geom in rows],
        "elem_id BIGINT, elem_type STRING, tags MAP<STRING,STRING>, "
        "geometry ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>",
    )
    got = {r["poi_id"]: r for r in poi.classify_pois(elements).collect()}
    assert set(got) == {1, 2, 3}
    assert got[1]["category"] == "supermarket" and got[1]["name"] == "S1"
    assert got[2]["category"] == "clinic_hospital"
    assert abs(got[2]["lon"] - 18.1) < 1e-9 and abs(got[2]["lat"] - 54.1) < 1e-9
    assert got[3]["category"] == "rail_station" and got[3]["name"] is None


def test_classify_category_filter(spark):
    elements = spark.createDataFrame(
        [(1, "node", {"shop": "supermarket"}, [{"lon": 1.0, "lat": 2.0}]),
         (2, "node", {"amenity": "pub"}, [{"lon": 1.0, "lat": 2.0}])],
        "elem_id BIGINT, elem_type STRING, tags MAP<STRING,STRING>, "
        "geometry ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>",
    )
    got = poi.classify_pois(elements, categories=["pub"]).collect()
    assert len(got) == 1 and got[0]["category"] == "pub"


# ---------------------------------------------------------------------------
# J3 endpoint inference
# ---------------------------------------------------------------------------
def test_infer_uv_from_geometry(spark):
    nodes_pdf = gf.lattice_nodes(k=5)
    nodes_raw = spark.createDataFrame(nodes_pdf)
    gnodes = graph_build.assign_dense_index(
        nodes_raw.selectExpr("osm_node_id", "cast(lon as float) lon", "cast(lat as float) lat")
    )
    # edges whose geometry endpoints sit exactly on two known nodes
    np_sorted = nodes_pdf.sort_values("osm_node_id").reset_index(drop=True)
    a, b, c = np_sorted.iloc[0], np_sorted.iloc[7], np_sorted.iloc[12]
    edges_geo = spark.createDataFrame(
        [
            (0, [{"lon": float(a.lon), "lat": float(a.lat)}, {"lon": float(b.lon), "lat": float(b.lat)}]),
            (1, [{"lon": float(b.lon), "lat": float(b.lat)},
                 {"lon": 18.6005, "lat": 54.3505},
                 {"lon": float(c.lon), "lat": float(c.lat)}]),
            (2, [{"lon": 18.0, "lat": 54.0}]),  # degenerate: <2 vertices → dropped
        ],
        "edge_id BIGINT, geometry ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>",
    )
    got = {r["edge_id"]: r for r in graph_build.infer_uv_from_geometry(edges_geo, gnodes).collect()}
    assert set(got) == {0, 1}
    assert got[0]["u"] == a.osm_node_id and got[0]["v"] == b.osm_node_id
    assert got[1]["u"] == b.osm_node_id and got[1]["v"] == c.osm_node_id


def test_csv_json_sink_roundtrip(spark, tmp_path):
    from fifteenmc_spark.io import write_csv, write_json

    df = spark.range(5).select(
        F.col("id").alias("k"), F.concat(F.lit("v"), F.col("id")).alias("s")
    )
    write_csv(df, str(tmp_path / "c"))
    write_json(df, str(tmp_path / "j"))
    c = read_csv(spark, str(tmp_path / "c"), schema="k BIGINT, s STRING")
    j = spark.read.json(str(tmp_path / "j"))
    want = {(r["k"], r["s"]) for r in df.collect()}
    assert {(r["k"], r["s"]) for r in c.collect()} == want
    assert {(r["k"], r["s"]) for r in j.collect()} == want


def test_jdbc_sink_roundtrip(spark, tmp_path):
    """K6 DB sink (README.md:2 'persisting results in a database'):
    roundtrip through embedded Derby — the JDBC driver Spark already
    ships for its Hive metastore — so the sink is exercised without an
    external DB server."""
    from fifteenmc_spark.io import write_jdbc

    url = f"jdbc:derby:{tmp_path}/k6db;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    df = spark.range(7).select(
        F.col("id").alias("node_idx"),
        (F.col("id") * 10.0).alias("dist_m"),
        F.concat(F.lit("cat"), F.col("id") % 2).alias("category"),
    )
    write_jdbc(df, url, "reach_out", mode="overwrite", properties=props)
    back = spark.read.jdbc(url, "reach_out", properties=props)
    want = {(r["node_idx"], r["dist_m"], r["category"]) for r in df.collect()}
    got = {(r["node_idx"], r["dist_m"], r["category"]) for r in back.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# A8 golden-eval accuracy
# ---------------------------------------------------------------------------
def test_accuracy_eval(spark):
    from fifteenmc_spark.plans.query import evaluate_accuracy

    metrics = spark.createDataFrame(
        pd.DataFrame(
            {
                "id": [1, 2, 3, 4],
                "map_m": [100.0, 200.0, 300.0, 50.0],
                "algo_m": [110.0, 260.0, 301.0, 50.0],
                "offset_m": [5.0, 10.0, 1.0, 1.0],
            }
        )
    )
    r = evaluate_accuracy(metrics).first()
    # pass iff |map-algo| <= 20 + offset: 10<=25 yes, 60<=30 no, 1<=21 yes, 0 yes
    assert r["n_points"] == 4 and r["n_passed"] == 3 and abs(r["accuracy"] - 0.75) < 1e-9


_REF_METRICS_CSV = "/root/reference/Documents/metrics.csv"


@pytest.mark.skipif(
    not os.path.exists(_REF_METRICS_CSV), reason="reference metrics.csv not present"
)
def test_accuracy_eval_reproduces_published_metrics(spark):
    """A8 golden eval against the REAL published evaluation table: the
    reference's only quantitative result is accuracy 0.93 over 100 Gdańsk
    locations (Documents/metrics.csv, summary cell "0,93").  The
    decimal-comma reader + evaluate_accuracy must reproduce the published
    aggregate AND every per-row pass flag."""
    from fifteenmc_spark.io import read_reference_metrics
    from fifteenmc_spark.plans.query import evaluate_accuracy

    m = read_reference_metrics(spark, _REF_METRICS_CSV)
    r = evaluate_accuracy(m).first()
    assert r["n_points"] == 100
    assert r["n_passed"] == 93
    assert abs(r["accuracy"] - 0.93) < 1e-9
    # per-row agreement with the reference's own zaliczone_jako_poprawne
    flag = (
        F.abs(F.col("map_m") - F.col("algo_m")) <= F.lit(20.0) + F.col("offset_m")
    ).cast("int")
    assert m.where(flag != F.col("ref_passed")).count() == 0


# ---------------------------------------------------------------------------
# §3.1 E2E pipeline → partitioned gold tables
# ---------------------------------------------------------------------------
def test_pipeline_end_to_end(spark, tmp_path):
    nodes_pdf = gf.lattice_nodes()
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    pois_pdf = gf.poi_fixture(nodes_pdf)

    g = pipeline.build_all(
        spark,
        spark.createDataFrame(nodes_pdf),
        spark.createDataFrame(edges_pdf),
        pois_raw=spark.createDataFrame(pois_pdf),
        limit_m=1000.0,
    )
    base = str(tmp_path / "gold")
    pipeline.write_gold(g, base)

    # re-read the partitioned reach table with a category filter → pruned scan
    reach = spark.read.parquet(f"{base}/reach")
    one_cat = reach.where(F.col("category") == "supermarket")
    plan = one_cat._sc._jvm.PythonSQLUtils.explainString(one_cat._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [" in plan
    # sparse gold table (r11): one row per REACHED node for the category —
    # present, non-null, and bounded by the node count (the dense cube is
    # a sink-side option, covered by test_reach_sentinel_sink_roundtrip)
    n = one_cat.count()
    assert 0 < n <= len(nodes_pdf)
    assert one_cat.where(F.col("dist_m").isNull()).count() == 0

    # reach distances round-trip: parquet read equals computed frame
    want = g.reach.where(F.col("category") == "supermarket").agg(F.sum("dist_m")).first()[0]
    got = one_cat.agg(F.sum("dist_m")).first()[0]
    assert abs(got - want) < 1e-3

    # summary shape (B8)
    s = spark.read.parquet(f"{base}/reach_summary").toPandas()
    assert set(s.columns) == {"category", "n_sources", "n_within", "median_dist_m", "median_time_s", "limit_m"}
    assert (s["n_within"] <= len(nodes_pdf)).all()


def test_build_all_gives_every_graph_node_one_core(spark):
    # tile cores exclude their max edges, so a bbox that ends exactly on
    # the easternmost or northernmost node leaves that node in no core,
    # and a per-tile reach gives it no rows; float32 coordinates (the
    # graph's own precision) put the extent exactly on those nodes
    nodes_pdf = gf.lattice_nodes()
    nodes_pdf = nodes_pdf.assign(
        lon=nodes_pdf["lon"].astype(np.float32).astype(float),
        lat=nodes_pdf["lat"].astype(np.float32).astype(float),
    )
    east = nodes_pdf.loc[nodes_pdf["lon"].idxmax()]
    pois_pdf = pd.DataFrame(
        [(1, "supermarket", float(east["lon"]), float(east["lat"]), "east")],
        columns=["poi_id", "category", "lon", "lat", "name"],
    )
    g = pipeline.build_all(
        spark,
        spark.createDataFrame(nodes_pdf),
        spark.createDataFrame(gf.lattice_edges_raw(nodes_pdf)),
        pois_raw=spark.createDataFrame(pois_pdf),
    )
    cores = grid.assign_points_to_tiles(g.graph_nodes, g.tiles, use_buffer=False)
    per_node = {r["node_idx"]: r["count"] for r in cores.groupBy("node_idx").count().collect()}
    assert len(per_node) == len(nodes_pdf)
    assert set(per_node.values()) == {1}
    east_idx = g.graph_nodes.where(F.col("osm_node_id") == int(east["osm_node_id"])).first()["node_idx"]
    rows = g.reach.where(F.col("node_idx") == east_idx).collect()
    assert [(r["category"], r["dist_m"]) for r in rows] == [("supermarket", 0.0)]


def test_text_sink_roundtrip(spark, tmp_path):
    # K5: one string column per line
    df = spark.range(4).select(F.concat(F.lit("line-"), F.col("id")).alias("value"))
    df.coalesce(1).write.mode("overwrite").text(str(tmp_path / "t"))
    back = spark.read.text(str(tmp_path / "t"))
    assert {r["value"] for r in back.collect()} == {f"line-{i}" for i in range(4)}


def test_geojson_source(spark, tmp_path):
    # S8: a FeatureCollection through the multiline JSON source; features
    # explode to rows, coordinates stay typed arrays
    import json as _json

    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": f"p{i}"},
                "geometry": {"type": "Point", "coordinates": [18.6 + i, 54.35]},
            }
            for i in range(3)
        ],
    }
    p = tmp_path / "fc.geojson"
    p.write_text(_json.dumps(gj))
    from fifteenmc_spark.io import read_json_records

    feats = (
        read_json_records(spark, str(p))
        .select(F.explode("features").alias("f"))
        .select(
            F.col("f.properties.name").alias("name"),
            F.col("f.geometry.coordinates")[0].alias("lon"),
            F.col("f.geometry.coordinates")[1].alias("lat"),
        )
    )
    rows = {(r["name"], r["lon"], r["lat"]) for r in feats.collect()}
    assert rows == {(f"p{i}", 18.6 + i, 54.35) for i in range(3)}


# ---------------------------------------------------------------------------
# K7 plot sinks (SVG twins of the reference's matplotlib previews)
# ---------------------------------------------------------------------------
def test_plot_sinks_svg(spark, tmp_path):
    import xml.etree.ElementTree as ET

    from fifteenmc_spark import plot as plot_sink
    from fifteenmc_spark.plans import grid

    nodes = spark.createDataFrame(
        [(0, 18.60, 54.37), (1, 18.61, 54.372), (2, 18.62, 54.371)],
        "node_idx INT, lon DOUBLE, lat DOUBLE",
    )
    edges = spark.createDataFrame(
        [
            (18.60, 54.37, 18.61, 54.372, "footway"),
            (18.61, 54.372, 18.62, 54.371, "residential"),
        ],
        "u_lon DOUBLE, u_lat DOUBLE, v_lon DOUBLE, v_lat DOUBLE, highway STRING",
    )
    net = plot_sink.write_network_svg(nodes, edges, str(tmp_path / "net.svg"))
    root = ET.parse(net).getroot()  # well-formed XML
    tags = [el.tag.rsplit("}", 1)[-1] for el in root.iter()]
    assert tags.count("line") == 2
    assert tags.count("circle") == 3

    tiles = grid.generate_tiles(spark, (18.4, 54.2, 18.8, 54.5), tile_km=10.0, buffer_km=2.0)
    gsvg = plot_sink.write_grid_svg(tiles, str(tmp_path / "grid.svg"))
    groot = ET.parse(gsvg).getroot()
    gtags = [el.tag.rsplit("}", 1)[-1] for el in groot.iter()]
    n_tiles = tiles.count()
    # one tile rect + one buffer rect per tile (+ the background rect)
    assert gtags.count("rect") == 2 * n_tiles + 1
    assert gtags.count("text") == n_tiles


def test_plot_grid_svg_country_outline(spark, tmp_path):
    """K7 grid overview with the country-outline layer (reference
    grid_creation.py:157,145-229 draws the grid over the GeoJSON
    boundary): a MultiPolygon country file flows through the S8 JSON
    source → geojson_outline_rings → one outline polyline per ring,
    drawn alongside the tile/buffer rects, and outline points extend the
    drawing extent."""
    import json as _json
    import xml.etree.ElementTree as ET

    from fifteenmc_spark import plot as plot_sink
    from fifteenmc_spark.plans import grid

    # mainland ring + one island ring: the MultiPolygon (depth-4) path
    gj = {
        "type": "FeatureCollection",
        "features": [
            {
                "type": "Feature",
                "properties": {"name": "country"},
                "geometry": {
                    "type": "MultiPolygon",
                    "coordinates": [
                        [[[18.0, 54.0], [19.2, 54.0], [19.2, 54.8], [18.0, 54.8], [18.0, 54.0]]],
                        [[[17.6, 54.1], [17.8, 54.1], [17.8, 54.3], [17.6, 54.1]]],
                    ],
                },
            }
        ],
    }
    p = tmp_path / "country.geojson"
    p.write_text(_json.dumps(gj))
    rings = plot_sink.geojson_outline_rings(spark, str(p))
    ring_rows = rings.collect()
    assert {r["ring_id"] for r in ring_rows} == {"0-0-0", "0-1-0"}
    assert len(ring_rows) == 9  # 5 + 4 closed-ring points

    tiles = grid.generate_tiles(spark, (18.4, 54.2, 18.8, 54.5), tile_km=10.0, buffer_km=2.0)
    gsvg = plot_sink.write_grid_svg(tiles, str(tmp_path / "grid_outline.svg"), outline=rings)
    groot = ET.parse(gsvg).getroot()
    outlines = [
        el
        for el in groot.iter()
        if el.tag.rsplit("}", 1)[-1] == "polyline" and el.get("class") == "outline"
    ]
    assert len(outlines) == 2  # one polyline per ring, under the grid
    n_tiles = tiles.count()
    gtags = [el.tag.rsplit("}", 1)[-1] for el in groot.iter()]
    assert gtags.count("rect") == 2 * n_tiles + 1  # grid layers still drawn

    # Polygon (depth-3) path: single ring
    gj1 = dict(gj)
    gj1["features"] = [
        {
            "type": "Feature",
            "properties": {"name": "simple"},
            "geometry": {
                "type": "Polygon",
                "coordinates": [[[18.0, 54.0], [19.0, 54.0], [18.5, 54.5], [18.0, 54.0]]],
            },
        }
    ]
    p1 = tmp_path / "simple.geojson"
    p1.write_text(_json.dumps(gj1))
    rings1 = plot_sink.geojson_outline_rings(spark, str(p1))
    assert rings1.count() == 4 and rings1.select("ring_id").distinct().count() == 1

    # MIXED file (Polygon + MultiPolygon + a stray Point — the common shape
    # of published boundary datasets): JSON inference collapses coordinates
    # to STRING; the per-type from_json path must still yield every polygon
    # ring and silently skip the point
    gj2 = dict(gj)
    gj2["features"] = [
        gj1["features"][0],
        gj["features"][0],
        {
            "type": "Feature",
            "properties": {"name": "capital"},
            "geometry": {"type": "Point", "coordinates": [19.0, 54.2]},
        },
    ]
    p2 = tmp_path / "mixed.geojson"
    p2.write_text(_json.dumps(gj2))
    rings2 = plot_sink.geojson_outline_rings(spark, str(p2))
    rows2 = rings2.collect()
    assert {r["ring_id"] for r in rows2} == {"0-0-0", "1-0-0", "1-1-0"}
    assert len(rows2) == 4 + 5 + 4  # polygon ring + the two multipolygon rings
    # coordinates survive the string round-trip
    assert {(r["lon"], r["lat"]) for r in rows2 if r["ring_id"] == "0-0-0"} == {
        (18.0, 54.0), (19.0, 54.0), (18.5, 54.5),
    }


def test_plot_path_overlay_svg(spark, tmp_path):
    """K7 path-overlay twin (reference test_path.py:336-364): route
    polyline over the local network halo, start + POI markers, and
    spark-side halo pruning (the far-away edge must not be drawn)."""
    import xml.etree.ElementTree as ET

    from fifteenmc_spark import plot as plot_sink

    edges = spark.createDataFrame(
        [
            (18.60, 54.37, 18.61, 54.372),   # inside the halo
            (18.605, 54.371, 18.615, 54.372),  # inside
            (19.90, 55.30, 19.91, 55.31),    # ~100 km away — pruned
            (18.61, 54.372, 19.90, 55.30),   # u inside, v far — pruned too
        ],
        "u_lon DOUBLE, u_lat DOUBLE, v_lon DOUBLE, v_lat DOUBLE",
    )
    steps = spark.createDataFrame(
        [
            (0, 18.60, 54.37, 0.0, 0.0),
            (1, 18.61, 54.372, 700.0, 700.0),
            (2, 18.62, 54.371, 750.0, 1450.0),
        ],
        "seq INT, lon DOUBLE, lat DOUBLE, step_m DOUBLE, cum_m DOUBLE",
    )
    svg = plot_sink.write_path_svg(edges, steps, str(tmp_path / "path.svg"))
    root = ET.parse(svg).getroot()
    tags = [el.tag.rsplit("}", 1)[-1] for el in root.iter()]
    # far edge AND the boundary-crossing edge pruned spark-side (both
    # endpoints must sit in the halo, matching the reference's prune)
    assert tags.count("line") == 2
    assert tags.count("polyline") == 1  # the route
    classes = [el.get("class") for el in root.iter() if el.get("class")]
    assert sorted(classes) == ["poi", "route", "start"]
    # the route polyline has one point per path step
    poly = next(el for el in root.iter() if el.tag.rsplit("}", 1)[-1] == "polyline")
    assert len(poly.get("points").split()) == 3


def test_plot_sinks_png_raster_roundtrip(spark, tmp_path):
    """K7 raster twins (reference save_network_png / render_local_png):
    real .png artifacts from the stdlib encoder — verified by a stdlib
    decoder (chunk CRCs, IHDR truecolor, zlib scanlines): dimensions,
    white background, the palette's edge colors and the route/marker
    colors present, and byte-identical across two writes (deterministic
    like every other sink)."""
    import numpy as np

    from fifteenmc_spark import plot as plot_sink

    nodes = spark.createDataFrame(
        [(0, 18.60, 54.37), (1, 18.61, 54.372), (2, 18.62, 54.371)],
        "node_idx INT, lon DOUBLE, lat DOUBLE",
    )
    edges = spark.createDataFrame(
        [
            (18.60, 54.37, 18.61, 54.372, "footway"),
            (18.61, 54.372, 18.62, 54.371, "residential"),
        ],
        "u_lon DOUBLE, u_lat DOUBLE, v_lon DOUBLE, v_lat DOUBLE, highway STRING",
    )
    p1 = plot_sink.write_network_png(nodes, edges, str(tmp_path / "net.png"))
    img = plot_sink.read_png_rgb(p1)
    assert img.shape == (900, 900, 3)
    colors = {tuple(c) for c in np.unique(img.reshape(-1, 3), axis=0)}
    assert (255, 255, 255) in colors  # background
    # both highway classes drawn in the first two palette colors
    assert plot_sink._hex_rgb(plot_sink._PALETTE[0]) in colors
    assert plot_sink._hex_rgb(plot_sink._PALETTE[1]) in colors
    p2 = plot_sink.write_network_png(nodes, edges, str(tmp_path / "net2.png"))
    assert open(p1, "rb").read() == open(p2, "rb").read()  # deterministic

    steps = spark.createDataFrame(
        [
            (0, 18.60, 54.37, 0.0, 0.0),
            (1, 18.61, 54.372, 700.0, 700.0),
            (2, 18.62, 54.371, 750.0, 1450.0),
        ],
        "seq INT, lon DOUBLE, lat DOUBLE, step_m DOUBLE, cum_m DOUBLE",
    )
    # an in-halo edge OFF the route — the route polyline overdraws edges
    # it coincides with, so this is the one that must stay gray
    pedges = spark.createDataFrame(
        [
            (18.60, 54.37, 18.61, 54.372),
            (18.605, 54.371, 18.615, 54.372),
        ],
        "u_lon DOUBLE, u_lat DOUBLE, v_lon DOUBLE, v_lat DOUBLE",
    )
    pp = plot_sink.write_path_png(pedges, steps, str(tmp_path / "path.png"))
    pimg = plot_sink.read_png_rgb(pp)
    pcolors = {tuple(c) for c in np.unique(pimg.reshape(-1, 3), axis=0)}
    for hexc in ("#d62728", "#2ca02c", "#ff7f0e"):  # route, start, poi
        assert plot_sink._hex_rgb(hexc) in pcolors
    assert (158, 158, 158) in pcolors  # local network gray
