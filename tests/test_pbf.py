"""S1: .osm.pbf → elements contract → POI classification + graph build.

The fixture .pbf is written by tests/pbf_fixture.py (public PBF format,
DenseNodes/Ways/Relations over two OSMData blobs) and read back by
fifteenmc_spark.sources.pbf — covering the ingest gap the reference fills
with pyrosm (graph_construction.py:216-217, snap_poi_to_nodes.py:118-144)
and osmium tags-filter (osm_full_data_filter_script.ps1:19-59)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.plans import graph_build, poi
from fifteenmc_spark.sources import pbf

from .pbf_fixture import write_pbf

NODES = [
    (100, 18.600, 54.370, {}),
    (101, 18.602, 54.371, {}),
    (102, 18.604, 54.372, {}),
    (103, 18.606, 54.373, {}),
    (200, 18.6010, 54.3705, {"shop": "supermarket", "name": "S1"}),
    (201, 18.6030, 54.3715, {"amenity": "pharmacy"}),
]
WAYS = [
    (500, [100, 101, 102], {"highway": "footway"}),
    (501, [100, 101, 102, 103], {"leisure": "park", "name": "P1"}),
    (502, [102, 103], {"highway": "motorway"}),  # fast road: graph-filtered
]
RELS = [
    # way-member + node-member, in that order; railway=station → rail_station
    (900, [("way", 501, "outer"), ("node", 200, "")], {"type": "multipolygon", "railway": "station"}),
    # relation-of-relations: member 900 resolves via the depth-2 pass
    (901, [("relation", 900, "outer"), ("node", 201, "")], {"type": "multipolygon", "site": "campus"}),
]


@pytest.fixture(scope="module")
def pbf_path(spark, tmp_path_factory):
    p = tmp_path_factory.mktemp("pbf") / "fixture.osm.pbf"
    return write_pbf(str(p), nodes=NODES, ways=WAYS, relations=RELS)


@pytest.fixture(scope="module")
def elements(spark, pbf_path):
    return pbf.read_pbf_elements(spark, pbf_path, keep_untagged=True).cache()


def _coords(nid):
    n = next(x for x in NODES if x[0] == nid)
    return (n[1], n[2])


def test_pbf_roundtrip_counts_and_tags(spark, pbf_path, elements):
    rows = {(r["elem_id"], r["elem_type"]): r for r in elements.collect()}
    assert len(rows) == len(NODES) + len(WAYS) + len(RELS)
    assert rows[(200, "node")]["tags"] == {"shop": "supermarket", "name": "S1"}
    assert rows[(502, "way")]["tags"] == {"highway": "motorway"}
    assert rows[(900, "relation")]["tags"] == {"type": "multipolygon", "railway": "station"}
    # untagged elements drop from the default (tags-filtered) output
    tagged = pbf.read_pbf_elements(spark, pbf_path)
    assert {r["elem_id"] for r in tagged.collect()} == {200, 201, 500, 501, 502, 900, 901}


def test_pbf_geometry_resolution(elements):
    rows = {(r["elem_id"], r["elem_type"]): r for r in elements.collect()}
    # node: a single point
    g200 = rows[(200, "node")]["geometry"]
    assert len(g200) == 1 and abs(g200[0]["lon"] - 18.6010) < 1e-6
    # way: ordered ref coordinates
    g500 = [(p["lon"], p["lat"]) for p in rows[(500, "way")]["geometry"]]
    assert len(g500) == 3
    for got, nid in zip(g500, [100, 101, 102]):
        want = _coords(nid)
        assert abs(got[0] - want[0]) < 1e-6 and abs(got[1] - want[1]) < 1e-6
    # relation: way-member vertex run then node-member point, member order
    g900 = [(round(p["lon"], 6), round(p["lat"], 6)) for p in rows[(900, "relation")]["geometry"]]
    want = [_coords(n) for n in [100, 101, 102, 103]] + [_coords(200)]
    assert g900 == [(round(lo, 6), round(la, 6)) for lo, la in want]


def test_pbf_nested_relation_geometry(elements):
    """Relation-in-relation members resolve through the depth-2 pass
    (sources/pbf.py: rel_pts): 901's geometry = member relation 900's full
    depth-1 geometry (way 501's vertex run + node 200), then node-member
    201 — in member order."""
    rows = {(r["elem_id"], r["elem_type"]): r for r in elements.collect()}
    g901 = [(round(p["lon"], 6), round(p["lat"], 6)) for p in rows[(901, "relation")]["geometry"]]
    want = [_coords(n) for n in [100, 101, 102, 103]] + [_coords(200), _coords(201)]
    assert g901 == [(round(lo, 6), round(la, 6)) for lo, la in want]


def test_pbf_relation_depth_bound(spark, tmp_path_factory):
    """max_rel_depth is a true fixpoint bound: a site→multipolygon→
    multipolygon nest (902→901→900) resolves fully at max_rel_depth=3,
    while the default 2 keeps the resolved prefix — 902 sees member 901's
    depth-1 geometry (its direct node member) and the depth-3 leaf's
    point drops."""
    p = tmp_path_factory.mktemp("pbf_deep") / "deep.osm.pbf"
    nodes = [(100, 18.0, 54.0, {}), (101, 18.1, 54.1, {}), (102, 18.2, 54.2, {})]
    rels = [
        (900, [("node", 100, "")], {"type": "multipolygon"}),
        (901, [("relation", 900, "outer"), ("node", 101, "")], {"type": "multipolygon"}),
        (902, [("relation", 901, "outer"), ("node", 102, "")], {"type": "site"}),
    ]
    path = write_pbf(str(p), nodes=nodes, relations=rels)

    def geo(df, eid):
        rows = {r["elem_id"]: r for r in df.where(F.col("elem_type") == "relation").collect()}
        return [(round(pt["lon"], 6), round(pt["lat"], 6)) for pt in rows[eid]["geometry"]]

    d2 = pbf.read_pbf_elements(spark, path, keep_untagged=True)
    assert geo(d2, 901) == [(18.0, 54.0), (18.1, 54.1)]  # depth 2 suffices here
    assert geo(d2, 902) == [(18.1, 54.1), (18.2, 54.2)]  # leaf 100 dropped
    d3 = pbf.read_pbf_elements(spark, path, keep_untagged=True, max_rel_depth=3)
    assert geo(d3, 902) == [(18.0, 54.0), (18.1, 54.1), (18.2, 54.2)]


def test_pbf_feeds_classify_pois(elements):
    pois = poi.classify_pois(elements)
    got = {(r["poi_id"], r["category"]): r for r in pois.collect()}
    assert set(got) == {
        (200, "supermarket"),
        (201, "pharmacy"),
        (501, "park"),
        (900, "rail_station"),
    }
    assert got[(200, "supermarket")]["name"] == "S1"
    # park centroid = vertex average of way 501
    cs = [_coords(n) for n in [100, 101, 102, 103]]
    assert abs(got[(501, "park")]["lon"] - sum(c[0] for c in cs) / 4) < 1e-6
    assert abs(got[(501, "park")]["lat"] - sum(c[1] for c in cs) / 4) < 1e-6


def test_pbf_feeds_build_graph(spark, pbf_path):
    nodes_raw, edges_raw = pbf.pbf_graph_inputs(spark, pbf_path)
    # the nodes of highway ways 500 and 502 (the motorway's 103 too: the
    # walkability filter drops edges, not nodes); POI nodes 200/201 and
    # the park's shape points are on no highway
    assert {r["osm_node_id"] for r in nodes_raw.collect()} == {100, 101, 102, 103}
    walkable = graph_build.clean_walkable_edges(edges_raw)
    segs = {(r["u"], r["v"]) for r in walkable.collect()}
    # footway 500 contributes its 2 segments; park 501 has no highway tag;
    # motorway 502 is a fast road — both filtered
    assert segs == {(100, 101), (101, 102)}
    nodes, edges = graph_build.build_graph(nodes_raw, walkable)
    e = edges.collect()
    assert len(e) == 4  # symmetrized, no self-loops
    pairs = {(r["src"], r["dst"]) for r in e}
    assert all((d, s) in pairs for s, d in pairs)
    assert all(r["w"] > 0 for r in e)


def test_pbf_poi_off_a_footway_snaps_to_the_footway(spark, tmp_path):
    # a shop node ~11 m off a 20-node footway is not a graph vertex, so
    # it snaps onto the footway and every footway node reaches it
    from fifteenmc_spark.plans import pipeline

    way_nodes = [(1000 + i, 18.600 + 0.0002 * i, 54.370, {}) for i in range(20)]
    shop = (2000, 18.602, 54.3701, {"shop": "supermarket", "name": "S"})
    path = write_pbf(
        str(tmp_path / "footway.osm.pbf"),
        nodes=way_nodes + [shop],
        ways=[(3000, [n[0] for n in way_nodes], {"highway": "footway"})],
    )
    nodes_raw, edges_raw = pbf.pbf_graph_inputs(spark, path)
    assert {r["osm_node_id"] for r in nodes_raw.collect()} == {n[0] for n in way_nodes}
    g = pipeline.build_all(spark, nodes_raw, edges_raw, elements=pbf.read_pbf_elements(spark, path))
    snapped = g.pois.collect()
    assert len(snapped) == 1
    node = g.graph_nodes.where(F.col("node_idx") == snapped[0]["node_idx"]).first()
    assert node["osm_node_id"] == 1010  # the footway node under the shop
    assert g.graph_nodes.count() == 20
    reach = g.reach.collect()
    assert len(reach) == 20
    assert {r["category"] for r in reach} == {"supermarket"}
    assert max(r["dist_m"] for r in reach) < 260.0


def test_pbf_ingest_parquet_roundtrip(spark, pbf_path, tmp_path, elements):
    out = str(tmp_path / "elements_pq")
    pbf.ingest_pbf(spark, pbf_path, out)
    back = spark.read.parquet(out)
    assert back.count() == 7  # tagged elements only (incl. nested rel 901)
    assert {r["elem_type"] for r in back.select("elem_type").distinct().collect()} == {
        "node",
        "way",
        "relation",
    }
    # partition pruning by elem_type: a node-only scan reads one partition
    assert back.where(F.col("elem_type") == "node").count() == 2


def test_pbf_bbox_ingest_equals_full_ingest_filtered(spark, pbf_path, tmp_path, elements):
    # ingest_pbf(bbox=...) is the per-tile osmium-extract twin
    # (extract_map_from_json.py:60-74): the bbox ingest must equal the
    # full ingest filtered by the complete-object predicate (keep an
    # element iff ANY geometry point falls in the box), with the kept
    # objects' geometry UNclipped
    bbox = (18.599, 54.369, 18.6025, 54.3712)  # nodes 100/101/200 inside

    def inside(pts):
        return any(
            bbox[0] <= p["lon"] <= bbox[2] and bbox[1] <= p["lat"] <= bbox[3]
            for p in pts
        )

    full = pbf.read_pbf_elements(spark, pbf_path).collect()  # tagged, like ingest
    want = {
        (r["elem_id"], r["elem_type"]): [tuple(p) for p in r["geometry"]]
        for r in full
        if inside(r["geometry"])
    }
    # the fixture exercises all outcomes: a dropped way (502 fully
    # outside), a kept way crossing the border (501), a kept relation
    # whose own node member is outside (900 via way 501's vertices)
    assert (502, "way") not in want and (501, "way") in want and (900, "relation") in want
    assert 0 < len(want) < len(full)

    out = str(tmp_path / "elements_tile_pq")
    pbf.ingest_pbf(spark, pbf_path, out, bbox=bbox)
    back = spark.read.parquet(out)
    got = {
        (r["elem_id"], r["elem_type"]): [tuple(p) for p in r["geometry"]]
        for r in back.collect()
    }
    assert got == want  # same objects, geometry complete (not clipped)


def test_pbf_tile_ingest_reports_and_drops_empty_tiles(spark, pbf_path, tmp_path):
    # the reference's per-tile cleanup loop (extract_map_from_json.py:
    # 86-100): ingest two tiles — one covering the fixture, one over
    # open ocean — the empty tile is reported at 0 elements AND absent
    # from the partition listing; the occupied tile ingests the same
    # rows a direct bbox ingest would
    import os

    out_root = str(tmp_path / "tiles")
    tiles = {
        "r0_c0": (18.59, 54.36, 18.61, 54.38),  # covers the fixture
        "r9_c9": (0.0, 0.0, 0.1, 0.1),  # open ocean: no elements
    }
    summary = pbf.ingest_pbf_tiles(spark, pbf_path, out_root, tiles)
    assert summary["r9_c9"] == 0 and summary["r0_c0"] > 0
    listed = sorted(os.listdir(out_root))
    assert "tile=r0_c0" in listed and "tile=r9_c9" not in listed
    # the kept tile's extract equals the single-tile bbox ingest
    direct = str(tmp_path / "direct")
    pbf.ingest_pbf(spark, pbf_path, direct, bbox=tiles["r0_c0"])
    got = {
        (r["elem_id"], r["elem_type"])
        for r in spark.read.parquet(os.path.join(out_root, "tile=r0_c0")).collect()
    }
    want = {(r["elem_id"], r["elem_type"]) for r in spark.read.parquet(direct).collect()}
    assert got == want
    assert summary["r0_c0"] == len(want)
    # drop_empty=False keeps the empty dir for inspection, same report
    out2 = str(tmp_path / "tiles_keep")
    summary2 = pbf.ingest_pbf_tiles(spark, pbf_path, out2, tiles, drop_empty=False)
    assert summary2 == summary
    assert "tile=r9_c9" in sorted(os.listdir(out2))


def test_pbf_random_roundtrip(spark, tmp_path):
    """Property-style codec roundtrip: random ids (including deltas that
    zigzag negative), extreme coordinates, and unicode tags survive
    write_pbf → read_pbf_elements exactly."""
    import random

    rng = random.Random(42)
    nodes = []
    used = set()
    for _ in range(200):
        nid = rng.randrange(1, 2**40)
        if nid in used:
            continue
        used.add(nid)
        lon = rng.uniform(-179.999, 179.999)
        lat = rng.uniform(-89.999, 89.999)
        tags = {}
        if rng.random() < 0.3:
            tags = {"name": f"zażółć-{nid}", "k" + str(rng.randrange(5)): "v"}
        nodes.append((nid, lon, lat, tags))
    # ways over random node subsets (ids descending too — delta < 0)
    ids = [n[0] for n in nodes]
    ways = [
        (10**12 + i, rng.sample(ids, rng.randrange(2, 6)), {"highway": "path"})
        for i in range(20)
    ]
    p = write_pbf(str(tmp_path / "rand.osm.pbf"), nodes=nodes, ways=ways)
    els = pbf.read_pbf_elements(spark, p, keep_untagged=True)
    got = {(r["elem_id"], r["elem_type"]): r for r in els.collect()}
    assert len(got) == len(nodes) + len(ways)
    for nid, lon, lat, tags in nodes:
        r = got[(nid, "node")]
        assert r["tags"] == tags
        assert abs(r["geometry"][0]["lon"] - lon) < 1e-6
        assert abs(r["geometry"][0]["lat"] - lat) < 1e-6
    coords = {n[0]: (n[1], n[2]) for n in nodes}
    for wid, refs, _tags in ways:
        g = [(p["lon"], p["lat"]) for p in got[(wid, "way")]["geometry"]]
        assert len(g) == len(refs)
        for (glon, glat), ref in zip(g, refs):
            assert abs(glon - coords[ref][0]) < 1e-6
            assert abs(glat - coords[ref][1]) < 1e-6


def test_pbf_datasource_reader_api(spark, pbf_path):
    """S1 through the DataSource API: spark.read.format("pbf").load(path)
    must yield exactly read_pbf_raw's rows (same schema, same elements,
    same tag/ref payloads) — one InputPartition per OSMData blob, decoded
    executor-side."""
    pbf.register_pbf_source(spark)
    via_api = spark.read.format("pbf").load(pbf_path)
    via_fn = pbf.read_pbf_raw(spark, pbf_path)
    assert via_api.schema == via_fn.schema

    def key(df):
        rows = df.select("elem_type", "elem_id", "tag_keys", "tag_vals", "refs").collect()
        return sorted(
            (r["elem_type"], r["elem_id"], tuple(r["tag_keys"] or ()),
             tuple(r["tag_vals"] or ()), tuple(r["refs"] or ()))
            for r in rows
        )

    assert key(via_api) == key(via_fn)
    # scan parallelism comes from the blob index — one InputPartition per
    # OSMData blob, not a single-task read of the whole file
    n_blobs = sum(1 for btype, _, _ in pbf.index_blobs(pbf_path) if btype == "OSMData")
    assert via_api.rdd.getNumPartitions() == n_blobs
