"""Z-order layout: key correctness, write/read equivalence, real pruning."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from fifteenmc_spark.plans import layout

BBOX = (18.40, 54.20, 18.90, 54.60)


def _points(spark, n=500):
    i = F.col("id")
    minlon, minlat, maxlon, maxlat = BBOX
    return spark.range(n).select(
        i.cast("int").alias("point_id"),
        (F.lit(minlon) + (((i * 37 + 11) % 193).cast("double") / 193.0) * (maxlon - minlon)).alias("lon"),
        (F.lit(minlat) + (((i * 53 + 29) % 181).cast("double") / 181.0) * (maxlat - minlat)).alias("lat"),
    )


def _jobs_started(spark, fn):
    """(Spark jobs ``fn`` started, its result): the jobs are read from the
    status tracker under a job group of their own, after the listener
    bus has delivered every job-start event."""
    sc = spark.sparkContext
    group = f"test-layout-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group)), out


def _py_zkey(lon, lat, bbox, bits):
    """Independent driver-side oracle of the Morton key."""
    minlon, minlat, maxlon, maxlat = bbox
    n = (1 << bits) - 1
    import math

    u = min(max(int(math.floor((lon - minlon) / (maxlon - minlon) * n)), 0), n)
    v = min(max(int(math.floor((lat - minlat) / (maxlat - minlat) * n)), 0), n)
    z = 0
    for k in range(bits):
        z |= ((u >> k) & 1) << (2 * k)
        z |= ((v >> k) & 1) << (2 * k + 1)
    return z


def test_zorder_key_matches_python_oracle(spark):
    rows = (
        _points(spark, 100)
        .withColumn("zkey", layout.zorder_key("lon", "lat", BBOX))
        .collect()
    )
    for r in rows:
        assert r["zkey"] == _py_zkey(r["lon"], r["lat"], BBOX, layout.ZORDER_BITS), r


def test_zorder_key_locality_monotone_in_quadrant(spark):
    """Points in the SW quadrant of the box sort strictly before points in
    the NE quadrant — the curve property clustering relies on."""
    minlon, minlat, maxlon, maxlat = BBOX
    midlon, midlat = (minlon + maxlon) / 2, (minlat + maxlat) / 2
    rows = (
        _points(spark, 200)
        .withColumn("zkey", layout.zorder_key("lon", "lat", BBOX))
        .collect()
    )
    sw = [r["zkey"] for r in rows if r["lon"] < midlon and r["lat"] < midlat]
    ne = [r["zkey"] for r in rows if r["lon"] >= midlon and r["lat"] >= midlat]
    assert sw and ne
    assert max(sw) < min(ne)


@pytest.fixture(scope="module")
def layout_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("zorder") / "pts")
    layout.write_zorder_layout(_points(spark, 2000), d, BBOX)
    return d


QUERY_BOX = (18.55, 54.30, 18.65, 54.38)


def test_zorder_read_equals_full_scan_filter(spark, layout_dir):
    got = layout.read_zorder_bbox(spark, layout_dir, QUERY_BOX, BBOX)
    qminlon, qminlat, qmaxlon, qmaxlat = QUERY_BOX
    want = _points(spark, 2000).where(
        (F.col("lon") >= qminlon)
        & (F.col("lon") < qmaxlon)
        & (F.col("lat") >= qminlat)
        & (F.col("lat") < qmaxlat)
    )
    got_ids = sorted(r["point_id"] for r in got.collect())
    want_ids = sorted(r["point_id"] for r in want.collect())
    assert got_ids == want_ids and len(got_ids) > 0


def test_zorder_read_prunes_partitions(spark, layout_dir):
    """The bbox read must list strictly fewer files than the full table —
    pruning is the layout's whole point — and the cell filter must reach
    the scan as a partition filter, not a post-scan predicate."""
    def files_read(df):
        # inputFiles() lists the relation BEFORE partition pruning; the
        # files the scan actually touches are observable at execution
        return {r["f"] for r in df.select(F.input_file_name().alias("f")).distinct().collect()}

    full_files = files_read(spark.read.parquet(layout_dir))
    pruned = layout.read_zorder_bbox(spark, layout_dir, QUERY_BOX, BBOX)
    # drop the residual filter so empty-but-scanned files still report: the
    # pruning being measured is the PARTITION filter alone
    cells = layout.zprefixes_for_bbox(QUERY_BOX, BBOX)
    pruned_files = files_read(spark.read.parquet(layout_dir).where(F.col("zp").isin(cells)))
    assert pruned_files and pruned_files < full_files
    assert len(pruned_files) <= len(full_files) // 2, (
        f"{len(pruned_files)}/{len(full_files)} files read — box covers ~4% of area"
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "zp" in plan


def test_zorder_rewrite_evicts_cached_listing(spark, tmp_path):
    """A layout is listed once per session, so a rewrite through
    write_zorder_layout must evict that listing: the next read returns
    the new rows instead of failing on the deleted files.  The layout is
    opened as a file: URI and rewritten as the plain path — both key the
    same session-index entry."""
    d = str(tmp_path / "pts")

    def ids():
        got = layout.read_zorder_bbox(spark, "file://" + d, BBOX, BBOX)
        return sorted(r["point_id"] for r in got.collect())

    layout.write_zorder_layout(_points(spark, 300), d, BBOX)
    assert ids() == list(range(300))
    moved = _points(spark, 200).withColumn("point_id", F.col("point_id") + 10_000)
    layout.write_zorder_layout(moved, d, BBOX)
    assert ids() == list(range(10_000, 10_200))


def test_zorder_warm_read_starts_no_jobs(spark, layout_dir):
    """After a layout's first read, building another bbox read on it —
    directly or as the union of a disc's boxes — lists nothing and infers
    no schema: 0 Spark jobs.  The first read of the session pays both."""
    from fifteenmc_spark.operators import session_index
    from fifteenmc_spark.plans import snap

    session_index.invalidate(layout_dir)
    cold, _ = _jobs_started(spark, lambda: layout.read_zorder_bbox(spark, layout_dir, QUERY_BOX, BBOX))
    assert cold > 0
    warm, df = _jobs_started(spark, lambda: layout.read_zorder_bbox(spark, layout_dir, BBOX, BBOX))
    assert warm == 0 and df.count() == 2000
    lon, lat = (QUERY_BOX[0] + QUERY_BOX[2]) / 2, (QUERY_BOX[1] + QUERY_BOX[3]) / 2
    warm, _ = _jobs_started(
        spark, lambda: snap.read_zordered_disc(spark, layout_dir, BBOX, lon, lat, 500.0)
    )
    assert warm == 0


def test_zorder_cell_enumeration_never_misses(spark):
    """Every point inside ANY query box falls in an enumerated cell: sweep
    boxes including ones aligned exactly on cell boundaries (the float
    edge the one-quantum widening exists for)."""
    rows = (
        _points(spark, 500)
        .withColumn("zkey", layout.zorder_key("lon", "lat", BBOX))
        .withColumn("zp", layout.zprefix(F.col("zkey")))
        .collect()
    )
    minlon, minlat, maxlon, maxlat = BBOX
    cells_w = (maxlon - minlon) / (1 << layout.ZORDER_LEVELS)
    cells_h = (maxlat - minlat) / (1 << layout.ZORDER_LEVELS)
    boxes = [
        QUERY_BOX,
        # aligned exactly on depth-3 cell boundaries
        (minlon + cells_w, minlat + cells_h, minlon + 2 * cells_w, minlat + 2 * cells_h),
        # the full layout box
        BBOX,
        # a sliver at the east edge (clamp cells)
        (maxlon - 1e-6, minlat, maxlon, maxlat),
    ]
    for box in boxes:
        cells = set(layout.zprefixes_for_bbox(box, BBOX))
        inside = [
            r
            for r in rows
            if box[0] <= r["lon"] < box[2] and box[1] <= r["lat"] < box[3]
        ]
        for r in inside:
            assert r["zp"] in cells, (box, r["point_id"], r["zp"])


def test_zorder_files_cluster_disjoint_key_ranges(spark, layout_dir):
    """Per-file zkey min/max ranges are pairwise disjoint — the clustering
    contract row-group min/max pruning keys on (range partition on the full
    key; the zp directory split preserves disjointness because zp is a
    PREFIX of zkey, i.e. contiguous in key space)."""
    stats = (
        spark.read.parquet(layout_dir)
        .withColumn("f", F.input_file_name())
        .groupBy("f")
        .agg(F.min("zkey").alias("lo"), F.max("zkey").alias("hi"))
        .orderBy("lo")
        .collect()
    )
    assert len(stats) > 1
    for a, b in zip(stats, stats[1:]):
        assert a["hi"] <= b["lo"], "file zkey ranges overlap — range clustering broken"


def test_zorder_read_beyond_layout_edge_returns_clamped_rows(spark, tmp_path_factory):
    """The writer CLAMPS out-of-layout coordinates into edge cells, so a
    query box lying wholly beyond the layout extent must still return the
    out-of-box rows (edge cells own everything outward) — the documented
    equality with a full-scan bbox filter, not an empty result."""
    import pyspark.sql.functions as F

    d = str(tmp_path_factory.mktemp("zorder_edge") / "pts")
    pts = spark.createDataFrame(
        [(1, 18.60, 54.35), (2, 19.70, 54.35), (3, 17.20, 54.35)],
        "point_id int, lon double, lat double",
    )  # 2 and 3 lie outside BBOX's lon extent on either side
    layout.write_zorder_layout(pts, d, BBOX)
    for qbox, want in (
        ((19.60, 54.30, 19.80, 54.40), [2]),   # wholly east of the layout
        ((17.00, 54.30, 17.30, 54.40), [3]),   # wholly west
        ((18.55, 54.30, 18.65, 54.40), [1]),   # interior control
    ):
        got = sorted(
            r["point_id"] for r in layout.read_zorder_bbox(spark, d, qbox, BBOX).collect()
        )
        assert got == want, (qbox, got, want)


# ---------------------------------------------------------------------------
# The geo serving composition (r12 verdict item 6): graph_nodes written
# through the z-order layout, the G7 point query / J4 snap served from the
# pruned read — identical results, strictly fewer files touched.
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def geo_layout(spark, tmp_path_factory):
    from fifteenmc_spark.plans import graph_build

    from . import geo_fixtures as gf

    nodes_pdf = gf.lattice_nodes()
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    gnodes, _ = graph_build.build_graph(
        spark.createDataFrame(nodes_pdf),
        graph_build.clean_walkable_edges(spark.createDataFrame(edges_pdf)),
    )
    gnodes = gnodes.cache()
    # a real deployment sizes the layout bbox to the data extent (the
    # fixture lattice spans ~2 km of the 0.5-degree test BBOX — laid out
    # over BBOX it would occupy one quadtree cell and there would be
    # nothing to prune)
    ext = gnodes.agg(
        F.min("lon"), F.max("lon"), F.min("lat"), F.max("lat")
    ).first()
    gbox = (float(ext[0]), float(ext[2]), float(ext[1]), float(ext[3]))
    d = str(tmp_path_factory.mktemp("zorder_geo") / "graph_nodes")
    layout.write_zorder_layout(gnodes, d, gbox)
    return {"gnodes": gnodes, "path": d, "bbox": gbox}


def test_zordered_snap_equals_full_scan_snap(spark, geo_layout):
    from fifteenmc_spark.plans import snap

    probes = [r for r in geo_layout["gnodes"].limit(200).collect()][::37]
    assert probes
    for r in probes:
        lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) - 1e-4
        full = snap.snap_single_point(geo_layout["gnodes"], lon, lat, max_snap_m=300.0)
        pruned = snap.snap_single_point_zordered(
            spark, geo_layout["path"], geo_layout["bbox"], lon, lat, max_snap_m=300.0
        )
        assert pruned == full, (lon, lat, pruned, full)
    # the None contract survives pruning: a point farther than max_snap_m
    # from every node returns None on both paths (10.0, 50.0 is far
    # outside the lattice — the fixture test_snap_single_point's probe)
    assert snap.snap_single_point_zordered(
        spark, geo_layout["path"], geo_layout["bbox"], 10.0, 50.0, max_snap_m=300.0
    ) is None


def test_zordered_snap_prunes_files(spark, geo_layout):
    """The point query's observed file set shrinks on the z-ordered node
    table: the snap-disc bbox lists strictly fewer files than the layout
    holds (execution-observed, the same evidence as the fact-table test)."""
    import math

    from fifteenmc_spark.plans.snap import _R_MIN_M

    # probe from the CENTER of the layout (an edge cell's pruning extent
    # is unbounded outward by design, which would under-measure pruning)
    minlon, minlat, maxlon, maxlat = geo_layout["bbox"]
    lon, lat = (minlon + maxlon) / 2, (minlat + maxlat) / 2
    dlat = 60.0 / _R_MIN_M * 180.0 / math.pi
    dlon = dlat / math.cos(math.radians(lat))
    box = (lon - dlon, lat - dlat, lon + dlon, lat + dlat)

    def files_read(df):
        return {x["f"] for x in df.select(F.input_file_name().alias("f")).distinct().collect()}

    full_files = files_read(spark.read.parquet(geo_layout["path"]))
    cells = layout.zprefixes_for_bbox(box, geo_layout["bbox"])
    pruned_files = files_read(
        spark.read.parquet(geo_layout["path"]).where(F.col("zp").isin(cells))
    )
    assert pruned_files and pruned_files < full_files
    assert len(pruned_files) <= len(full_files) // 2, (
        f"{len(pruned_files)}/{len(full_files)} files for a 60 m disc"
    )


def test_zordered_point_reachability_equals_full_scan(spark, geo_layout):
    """G7 end-to-end from the layout: same rows as the full-scan form.
    The reach table is node-keyed (not spatial), so a fabricated reach
    exercises the exact post-snap path without the Dijkstra build."""
    from fifteenmc_spark.plans import query as query_mod

    reach = spark.createDataFrame(
        [
            (int(r["node_idx"]), cat, float(50 + 10 * k), float(5 + k), 1000 + k)
            for k, r in enumerate(geo_layout["gnodes"].limit(50).collect())
            for cat in ("shop", "park")
        ],
        "node_idx int, category string, dist_m double, time_s double, poi_id long",
    )
    r = geo_layout["gnodes"].limit(1).collect()[0]
    lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) + 1e-4
    full = query_mod.point_reachability(
        reach, geo_layout["gnodes"], lon, lat, radius_m=1000.0
    )
    pruned = query_mod.point_reachability_zordered(
        spark, reach, geo_layout["path"], geo_layout["bbox"], lon, lat, radius_m=1000.0
    )
    got_full = [tuple(x) for x in full.collect()]
    got_pruned = [tuple(x) for x in pruned.collect()]
    assert got_pruned == got_full


def test_zordered_snap_crosses_antimeridian(spark, tmp_path_factory):
    """r13 ADVICE: a query point within max_snap_m of lon = ±180 must see
    nodes on the OTHER side of the dateline — the pruning box splits into
    the two wrapped longitude ranges instead of silently clamping.  The
    true nearest node here sits across the seam (~33 m wrapped vs ~89 m on
    the same side); before the split fix the pruned snap returned the
    same-side node while the full scan returned the wrapped one."""
    from fifteenmc_spark.plans import snap

    wbox = (-180.0, -1.0, 180.0, 1.0)
    nodes = spark.createDataFrame(
        [
            (0, 179.9990, 0.0),    # same side, ~89 m from the probe
            (1, -179.9999, 0.0),   # across the dateline, ~33 m (the winner)
            (2, 0.0, 0.5),         # filler far away
            (3, -90.0, -0.5),      # filler far away
        ],
        "node_idx int, lon double, lat double",
    )
    d = str(tmp_path_factory.mktemp("zorder_wrap") / "graph_nodes")
    layout.write_zorder_layout(nodes, d, wbox)

    lon, lat = 179.9998, 0.0
    full = snap.snap_single_point(nodes, lon, lat, max_snap_m=300.0)
    pruned = snap.snap_single_point_zordered(spark, d, wbox, lon, lat, max_snap_m=300.0)
    assert full is not None and full[0] == 1, full
    assert pruned == full, (pruned, full)
    # and the mirror probe on the west side of the seam
    full_w = snap.snap_single_point(nodes, -179.9998, 0.0, max_snap_m=300.0)
    pruned_w = snap.snap_single_point_zordered(spark, d, wbox, -179.9998, 0.0, max_snap_m=300.0)
    assert pruned_w == full_w and full_w[0] == 1


def test_zordered_reach_table_serves_g7_pruned(spark, geo_layout, tmp_path_factory):
    """r13 verdict item 7: the reach gold table written through the
    z-order layout (keyed on node lon/lat) serves G7's reach side from a
    partition-pruned read — identical rows to the full-scan form, and the
    observed reach file set shrinks (execution-observed, same evidence as
    the node-table tests)."""
    from fifteenmc_spark.plans import query as query_mod
    from fifteenmc_spark.plans import reach as reach_mod
    from fifteenmc_spark.plans import snap as snap_mod

    gnodes = geo_layout["gnodes"]
    reach = spark.createDataFrame(
        [
            (int(r["node_idx"]), cat, float(50 + 10 * k), float(5 + k), 2000 + k)
            for k, r in enumerate(gnodes.limit(80).collect())
            for cat in ("shop", "park")
        ],
        "node_idx int, category string, dist_m double, time_s double, poi_id long",
    )
    d = str(tmp_path_factory.mktemp("zorder_reach") / "reach")
    reach_mod.write_reach_zordered(reach, gnodes, d, geo_layout["bbox"])

    probes = [r for r in gnodes.limit(120).collect()][::41]
    assert probes
    for r in probes:
        lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) - 1e-4
        full = query_mod.point_reachability(reach, gnodes, lon, lat, radius_m=1000.0)
        pruned = query_mod.point_reachability_zordered(
            spark, None, geo_layout["path"], geo_layout["bbox"], lon, lat,
            radius_m=1000.0, reach_layout_path=d,
        )
        assert [tuple(x) for x in pruned.collect()] == [tuple(x) for x in full.collect()]

    # observed file-set shrink on the REACH side: the disc boxes list
    # strictly fewer reach files than the layout holds.  Probe from the
    # reach-carrying node NEAREST the layout center (an edge cell's
    # pruning extent is unbounded outward, and the disc must actually
    # contain reach rows for the file-set read to be non-empty)
    minlon, minlat, maxlon, maxlat = geo_layout["bbox"]
    c0lon, c0lat = (minlon + maxlon) / 2, (minlat + maxlat) / 2
    reach_nodes = {int(r["node_idx"]) for r in reach.select("node_idx").distinct().collect()}
    clon, clat = min(
        (
            (float(r["lon"]), float(r["lat"]))
            for r in gnodes.collect()
            if int(r["node_idx"]) in reach_nodes
        ),
        key=lambda p: (p[0] - c0lon) ** 2 + (p[1] - c0lat) ** 2,
    )

    def files_read(df):
        return {x["f"] for x in df.select(F.input_file_name().alias("f")).distinct().collect()}

    full_files = files_read(spark.read.parquet(d))
    pruned_files = files_read(
        snap_mod.read_zordered_disc(spark, d, geo_layout["bbox"], clon, clat, 60.0)
    )
    assert pruned_files and pruned_files < full_files
    assert len(pruned_files) <= len(full_files) // 2, (
        f"{len(pruned_files)}/{len(full_files)} reach files for a 60 m disc"
    )

    # the unsnappable probe keeps the empty-result contract on the
    # both-halves-pruned path
    assert (
        query_mod.point_reachability_zordered(
            spark, None, geo_layout["path"], geo_layout["bbox"], 10.0, 50.0,
            radius_m=1000.0, reach_layout_path=d,
        ).count()
        == 0
    )


def test_snap_prefilter_wrap_aware_beyond_shortlist(spark, tmp_path_factory):
    """r14 review finding: the equirectangular prefilter ranked a
    cross-dateline candidate ~360 deg away, so with MORE than 256 nodes
    on the same side the true (wrapped) nearest node fell out of the
    exact-snap shortlist on BOTH the full-scan and pruned paths.  301
    nodes: 300 same-side (100-900 m away) + the wrapped winner (~33 m);
    both paths must return the wrapped node."""
    from fifteenmc_spark.plans import snap

    wbox = (-180.0, -1.0, 180.0, 1.0)
    rows = [(0, -179.9999, 0.0)]  # the wrapped true nearest (~33 m)
    rows += [
        (1 + j, 179.990 - (j % 100) * 1e-5, -0.004 + (j // 100) * 0.004)
        for j in range(300)
    ]
    nodes = spark.createDataFrame(rows, "node_idx int, lon double, lat double")
    d = str(tmp_path_factory.mktemp("zorder_wrap_many") / "graph_nodes")
    layout.write_zorder_layout(nodes, d, wbox)

    lon, lat = 179.9998, 0.0
    full = snap.snap_single_point(nodes, lon, lat, max_snap_m=300.0)
    assert full is not None and full[0] == 0, full
    pruned = snap.snap_single_point_zordered(spark, d, wbox, lon, lat, max_snap_m=300.0)
    assert pruned == full, (pruned, full)


def test_snap_disc_boxes_geometry():
    """Pure geometry contract of the shared pruning helper (r14 review):
    polar caps span all longitudes up to the pole, the exact cap
    longitude half-width is used (not the flat-earth underestimate), and
    boxes clamped at the east/north edge still include rows stored at
    exactly lon=180.0 / lat=90.0 (the residual filter is half-open)."""
    from fifteenmc_spark.plans.snap import snap_disc_boxes

    def contains(boxes, lo, la):
        return any(
            lo >= b[0] and lo < b[2] and la >= b[1] and la < b[3] for b in boxes
        )

    # cap containing the north pole: a node directly across the pole
    # (~440 m away through it) must be inside the listing
    boxes = snap_disc_boxes(0.0, 89.998, 500.0)
    assert contains(boxes, 180.0, 89.998)
    assert contains(boxes, -90.0, 89.9995)
    assert contains(boxes, 0.0, 90.0)  # the pole itself (lat half-open)
    # near-polar but NOT pole-crossing: flat-earth dlon = r/cos(lat)
    # underestimates the cap extent; the exact asin form must cover a
    # node at the cap's widest longitude deviation.  At lat 89.9 a 500 m
    # disc spans ~2.58 deg of longitude (exact) vs 2.577 flat — and the
    # haversine-nearest check is what the residual decides; containment
    # of the exact-width corner is the contract
    import math

    lat0 = 89.9
    r = 500.0 / 6_356_752.3
    dlon_exact = math.degrees(math.asin(math.sin(r) / math.cos(math.radians(lat0))))
    boxes = snap_disc_boxes(0.0, lat0, 500.0)
    assert contains(boxes, dlon_exact * 0.999, lat0)
    # antimeridian split still includes a row at exactly lon = +180.0
    boxes = snap_disc_boxes(179.9998, 0.0, 300.0)
    assert contains(boxes, 180.0, 0.0)
    assert contains(boxes, -179.9999, 0.0)
    # plain mid-latitude disc: two-sided containment, no wrap
    boxes = snap_disc_boxes(18.6, 54.3, 300.0)
    assert len(boxes) == 1 and contains(boxes, 18.6027, 54.3) and contains(boxes, 18.5973, 54.3)


def test_zordered_poi_table_serves_path_query_pruned(spark, geo_layout, tmp_path_factory):
    """r14 verdict item 6: the classified POI table written through the
    Z-order layout serves the path query's seed side from a
    partition-pruned read — identical path rows to the full-scan form
    (containment: winning seeds lie within max_snap+limit+poi_snap of
    the query point), and the observed POI file set shrinks."""
    from fifteenmc_spark.plans import poi as poi_mod
    from fifteenmc_spark.plans import query as query_mod
    from fifteenmc_spark.plans import snap as snap_mod
    from fifteenmc_spark.plans import graph_build

    from . import geo_fixtures as gf

    gnodes = geo_layout["gnodes"]
    nodes_pdf = gf.lattice_nodes()
    edges_pdf = gf.lattice_edges_raw(nodes_pdf)
    _, gedges = graph_build.build_graph(
        spark.createDataFrame(nodes_pdf),
        graph_build.clean_walkable_edges(spark.createDataFrame(edges_pdf)),
    )
    # POIs sitting on a spread of lattice nodes, snapped to them
    picked = gnodes.orderBy("node_idx").collect()[::29]
    pois = spark.createDataFrame(
        [
            (3000 + i, "shop" if i % 2 == 0 else "park", float(r["lon"]),
             float(r["lat"]), int(r["node_idx"]))
            for i, r in enumerate(picked)
        ],
        "poi_id long, category string, lon double, lat double, node_idx int",
    )
    d = str(tmp_path_factory.mktemp("zorder_poi") / "pois")
    poi_mod.write_pois_zordered(pois, d, geo_layout["bbox"])

    limit_m, snap_m, poi_snap_m = 150.0, 60.0, 60.0
    probes = [r for r in gnodes.limit(120).collect()][::37]
    assert probes
    matched = 0
    for r in probes:
        lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) - 1e-4
        full = query_mod.path_to_nearest_poi(
            gnodes, gedges, pois, lon, lat, "shop",
            limit_m=limit_m, max_snap_m=snap_m,
        ).collect()
        pruned = query_mod.path_to_nearest_poi_zordered(
            spark, gnodes, gedges, d, geo_layout["bbox"], lon, lat, "shop",
            limit_m=limit_m, max_snap_m=snap_m, poi_snap_m=poi_snap_m,
        ).collect()
        assert [tuple(x) for x in pruned] == [tuple(x) for x in full]
        matched += bool(full)
    assert matched, "no probe produced a path — fixture radii too tight"

    # observed file-set shrink on the POI side for the pruned disc
    minlon, minlat, maxlon, maxlat = geo_layout["bbox"]
    clon, clat = (minlon + maxlon) / 2, (minlat + maxlat) / 2

    def files_read(df):
        return {x["f"] for x in df.select(F.input_file_name().alias("f")).distinct().collect()}

    full_files = files_read(spark.read.parquet(d))
    pruned_files = files_read(
        snap_mod.read_zordered_disc(
            spark, d, geo_layout["bbox"], clon, clat, snap_m + limit_m + poi_snap_m
        )
    )
    assert pruned_files < full_files, (len(pruned_files), len(full_files))


def _reach_rows(spark, gnodes, poi_base, n=80):
    return spark.createDataFrame(
        [
            (int(r["node_idx"]), cat, float(50 + 10 * k), float(5 + k), poi_base + k)
            for k, r in enumerate(gnodes.orderBy("node_idx").limit(n).collect())
            for cat in ("shop", "park")
        ],
        "node_idx int, category string, dist_m double, time_s double, poi_id long",
    )


def test_zordered_reach_rewrite_serves_new_rows(spark, geo_layout, tmp_path):
    """write_reach_zordered goes through write_zorder_layout, so rewriting
    the reach layout evicts its cached listing: G7 then answers from the
    new table, equal to the full-scan form over it."""
    from fifteenmc_spark.plans import query as query_mod
    from fifteenmc_spark.plans import reach as reach_mod

    gnodes, bbox = geo_layout["gnodes"], geo_layout["bbox"]
    d = str(tmp_path / "reach")
    r = gnodes.orderBy("node_idx").first()
    lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) + 1e-4
    for poi_base in (4000, 5000):
        reach = _reach_rows(spark, gnodes, poi_base)
        reach_mod.write_reach_zordered(reach, gnodes, d, bbox)
        got = query_mod.point_reachability_zordered(
            spark, None, geo_layout["path"], bbox, lon, lat, reach_layout_path=d
        ).collect()
        want = query_mod.point_reachability(reach, gnodes, lon, lat).collect()
        assert got and [tuple(x) for x in got] == [tuple(x) for x in want]
        assert all(x["poi_id"] >= poi_base for x in got)


def test_zordered_g7_warm_jobs_at_most_full_scan(spark, geo_layout, tmp_path):
    """A warm z-ordered G7 (both halves from layouts) is ONE Spark job,
    the collect of its node and reach rows, and no more than the
    full-scan G7 on already-opened gold tables: the layout listing and
    schema are paid once per session, not per request."""
    from fifteenmc_spark.plans import query as query_mod
    from fifteenmc_spark.plans import reach as reach_mod

    gnodes, bbox = geo_layout["gnodes"], geo_layout["bbox"]
    reach = _reach_rows(spark, gnodes, 6000)
    d = str(tmp_path / "reach")
    reach_mod.write_reach_zordered(reach, gnodes, d, bbox)
    gnodes.write.parquet(str(tmp_path / "gold_nodes"))
    reach.write.parquet(str(tmp_path / "gold_reach"))
    gold_nodes = spark.read.parquet(str(tmp_path / "gold_nodes"))
    gold_reach = spark.read.parquet(str(tmp_path / "gold_reach"))

    r = gnodes.orderBy("node_idx").first()
    lon, lat = float(r["lon"]) + 1e-4, float(r["lat"]) + 1e-4

    def zordered():
        return query_mod.point_reachability_zordered(
            spark, None, geo_layout["path"], bbox, lon, lat, reach_layout_path=d
        ).collect()

    zordered()  # opens both layouts
    warm, got = _jobs_started(spark, zordered)
    scan, want = _jobs_started(
        spark, lambda: query_mod.point_reachability(gold_reach, gold_nodes, lon, lat).collect()
    )
    assert got and got == want
    assert warm == 1 and warm <= scan, (warm, scan)
