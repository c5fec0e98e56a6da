"""S1: OpenStreetMap .osm.pbf → the `elements` table contract
(plans/poi.py:15-18):

    elements(elem_id BIGINT, elem_type STRING,  -- node|way|relation
             tags MAP<STRING,STRING>,
             geometry ARRAY<STRUCT<lon DOUBLE, lat DOUBLE>>)

The reference ingests .pbf single-machine via pyrosm (whole file in RAM:
graph_construction.py:216-217, snap_poi_to_nodes.py:118-144, after an
osmium tags-filter pass, osm_scripts/osm_full_data_filter_script.ps1).
This module is the Spark-first replacement, built only on the PUBLIC OSM
PBF format spec (protobuf wire format + zlib, stdlib-decodable — the
container has no osmium/pyrosm/protobuf):

1. **Driver-side blob index** — a .pbf is a sequence of independent
   (BlobHeader, Blob) pairs; the index pass reads ONLY the 4-byte length
   prefixes and headers (seek-skip over payloads), so indexing a 60 GB
   planet file touches a few MB.
2. **Executor-side block decode** — each OSMData blob (zlib'd
   PrimitiveBlock: string table, DenseNodes with delta-coded ids/coords,
   Ways with delta-coded refs, Relations) decodes independently in a
   mapInPandas over the (offset, size) index — embarrassingly parallel,
   no shared state.
3. **DataFrame geometry assembly** — way/relation geometry needs node
   coordinates; pyrosm resolves them in-RAM, here it is a shuffle join:
   posexplode(refs) ⋈ node coords, array_sort(collect_list) per way.
   At 100 TB-scale extracts this is the part that must be distributed —
   ref lists and coords shuffle by node_id/way_id, never whole blocks.

Relations resolve node- and way-members, plus relation-in-relation
members to a PARAMETERIZED fixpoint bound (``max_rel_depth``, default 2
— e.g. a multipolygon whose member is itself a multipolygon).  Nesting
beyond the bound degrades to the resolved prefix rather than recursing
unboundedly: real OSM nesting is shallow, and the reference itself drops
relation geometry entirely when its tag pass fails
(keep_relations=False fallback, snap_poi_to_nodes.py:127-141), so even
the default strictly dominates parity; raise the bound for rare
site→multipolygon→multipolygon nests.
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# protobuf wire-format primitives (public encoding: varint / zigzag / fields)
# ---------------------------------------------------------------------------


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    out = 0
    shift = 0
    while True:
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if not b & 0x80:
            return out, i
        shift += 7


def _zigzag(v: int) -> int:
    return (v >> 1) ^ -(v & 1)


def _parse_message(buf: bytes) -> dict[int, list]:
    """Generic protobuf message → {field_number: [values]}.  Varint fields
    parse to int, length-delimited to bytes; fixed32/64 to raw ints."""
    fields: dict[int, list] = {}
    i, n = 0, len(buf)
    while i < n:
        key, i = _read_varint(buf, i)
        fno, wt = key >> 3, key & 7
        if wt == 0:
            v, i = _read_varint(buf, i)
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            v = bytes(buf[i : i + ln])
            i += ln
        elif wt == 5:
            v = struct.unpack_from("<I", buf, i)[0]
            i += 4
        elif wt == 1:
            v = struct.unpack_from("<Q", buf, i)[0]
            i += 8
        else:  # pragma: no cover - groups are absent from PBF
            raise ValueError(f"unsupported wire type {wt}")
        fields.setdefault(fno, []).append(v)
    return fields


def _packed_varints(chunks: list[bytes], zigzag: bool = False, delta: bool = False) -> list[int]:
    out: list[int] = []
    acc = 0
    for chunk in chunks:
        i, n = 0, len(chunk)
        while i < n:
            v, i = _read_varint(chunk, i)
            if zigzag:
                v = _zigzag(v)
            if delta:
                acc += v
                out.append(acc)
            else:
                out.append(v)
    return out


# ---------------------------------------------------------------------------
# fileformat: blob index (driver-side, header-only reads)
# ---------------------------------------------------------------------------


def index_blobs(path: str) -> list[tuple[str, int, int]]:
    """[(blob_type, payload_offset, payload_size)] — reads only the 4-byte
    length prefixes + BlobHeaders, seeking past every payload."""
    out = []
    with open(path, "rb") as f:
        while True:
            raw = f.read(4)
            if len(raw) < 4:
                break
            hdr_len = struct.unpack(">I", raw)[0]
            hdr = _parse_message(f.read(hdr_len))
            btype = hdr[1][0].decode("utf-8")
            datasize = hdr[3][0]
            out.append((btype, f.tell(), datasize))
            f.seek(datasize, 1)
    return out


def _blob_block(path: str, offset: int, size: int) -> bytes:
    """Read one Blob payload and return the decompressed PrimitiveBlock."""
    with open(path, "rb") as f:
        f.seek(offset)
        blob = _parse_message(f.read(size))
    if 3 in blob:  # zlib_data
        return zlib.decompress(blob[3][0])
    if 1 in blob:  # raw
        return blob[1][0]
    raise ValueError("unsupported blob compression (only raw/zlib handled)")


# ---------------------------------------------------------------------------
# osmformat: PrimitiveBlock decode (executor-side)
# ---------------------------------------------------------------------------


def _decode_block(block: bytes) -> list[tuple]:
    """PrimitiveBlock → rows (elem_type, elem_id, tag_keys, tag_vals, lon,
    lat, refs, member_ids, member_types).  Dense and plain nodes, ways,
    relations."""
    msg = _parse_message(block)
    strings = [s.decode("utf-8") for s in _parse_message(msg[1][0]).get(1, [])]
    gran = msg.get(17, [100])[0]
    lat_off = msg.get(19, [0])[0]
    lon_off = msg.get(20, [0])[0]

    def coord(off: int, g: int, v: int) -> float:
        return 1e-9 * (off + g * v)

    rows: list[tuple] = []
    for group_buf in msg.get(2, ()):
        g = _parse_message(group_buf)
        # DenseNodes (field 2)
        for dense_buf in g.get(2, ()):
            d = _parse_message(dense_buf)
            ids = _packed_varints(d.get(1, []), zigzag=True, delta=True)
            lats = _packed_varints(d.get(8, []), zigzag=True, delta=True)
            lons = _packed_varints(d.get(9, []), zigzag=True, delta=True)
            kv = _packed_varints(d.get(10, []))
            ki = 0
            for nid, la, lo in zip(ids, lats, lons):
                keys, vals = [], []
                while ki < len(kv) and kv[ki] != 0:
                    keys.append(strings[kv[ki]])
                    vals.append(strings[kv[ki + 1]])
                    ki += 2
                ki += 1  # the 0 separator (absent entirely if no node has tags)
                rows.append(
                    ("node", nid, keys, vals, coord(lon_off, gran, lo), coord(lat_off, gran, la), None, None, None)
                )
        # plain Nodes (field 1)
        for node_buf in g.get(1, ()):
            nd = _parse_message(node_buf)
            keys = [strings[k] for k in _packed_varints(nd.get(2, []))]
            vals = [strings[v] for v in _packed_varints(nd.get(3, []))]
            rows.append(
                (
                    "node",
                    _zigzag(nd[1][0]),
                    keys,
                    vals,
                    coord(lon_off, gran, _zigzag(nd[9][0])),
                    coord(lat_off, gran, _zigzag(nd[8][0])),
                    None,
                    None,
                    None,
                )
            )
        # Ways (field 3)
        for way_buf in g.get(3, ()):
            wy = _parse_message(way_buf)
            keys = [strings[k] for k in _packed_varints(wy.get(2, []))]
            vals = [strings[v] for v in _packed_varints(wy.get(3, []))]
            refs = _packed_varints(wy.get(8, []), zigzag=True, delta=True)
            rows.append(("way", wy[1][0], keys, vals, None, None, refs, None, None))
        # Relations (field 4)
        for rel_buf in g.get(4, ()):
            rl = _parse_message(rel_buf)
            keys = [strings[k] for k in _packed_varints(rl.get(2, []))]
            vals = [strings[v] for v in _packed_varints(rl.get(3, []))]
            mids = _packed_varints(rl.get(9, []), zigzag=True, delta=True)
            mtypes = [("node", "way", "relation")[t] for t in _packed_varints(rl.get(10, []))]
            rows.append(("relation", rl[1][0], keys, vals, None, None, None, mids, mtypes))
    return rows


_RAW_SCHEMA = (
    "elem_type STRING, elem_id BIGINT, tag_keys ARRAY<STRING>, tag_vals ARRAY<STRING>, "
    "lon DOUBLE, lat DOUBLE, refs ARRAY<BIGINT>, member_ids ARRAY<BIGINT>, member_types ARRAY<STRING>"
)


def read_pbf_raw(spark: SparkSession, path: str) -> DataFrame:
    """Parallel block decode: one row per OSM element, geometry unresolved
    (nodes carry lon/lat; ways carry refs; relations carry members)."""
    import pandas as pd

    blobs = [(path, off, size) for btype, off, size in index_blobs(path) if btype == "OSMData"]
    if not blobs:
        raise ValueError(f"no OSMData blobs in {path}")
    par = min(len(blobs), spark.sparkContext.defaultParallelism)
    bdf = spark.createDataFrame(blobs, "path STRING, offset BIGINT, size BIGINT").repartition(par)

    cols = [
        "elem_type",
        "elem_id",
        "tag_keys",
        "tag_vals",
        "lon",
        "lat",
        "refs",
        "member_ids",
        "member_types",
    ]

    def decode(batches):
        for pdf in batches:
            rows: list[tuple] = []
            for p, off, size in zip(pdf["path"], pdf["offset"], pdf["size"]):
                rows.extend(_decode_block(_blob_block(p, int(off), int(size))))
            yield pd.DataFrame(rows, columns=cols)

    return bdf.mapInPandas(decode, schema=_RAW_SCHEMA)


def _pt(lon, lat):
    return F.struct(lon.alias("lon"), lat.alias("lat"))


def bbox_filter_elements(elements: DataFrame, bbox: tuple) -> DataFrame:
    """Complete-object bbox filter over the elements contract: keep an
    element iff ANY of its geometry points falls inside ``bbox =
    (minlon, minlat, maxlon, maxlat)``, bounds inclusive — the osmium
    ``extract -b … -s complete_ways`` semantics the reference runs per
    tile (extract_map_from_json.py:60-74, grid_extraction_script.py:32-49):
    a way/relation clipped by the box keeps its full geometry, so graphs
    built from a tile extract have no torn edges at the border."""
    minlon, minlat, maxlon, maxlat = (float(x) for x in bbox)
    inside = F.exists(
        F.col("geometry"),
        lambda p: (p["lon"] >= F.lit(minlon))
        & (p["lon"] <= F.lit(maxlon))
        & (p["lat"] >= F.lit(minlat))
        & (p["lat"] <= F.lit(maxlat)),
    )
    return elements.where(inside)


def read_pbf_elements(
    spark: SparkSession,
    path: str,
    keep_untagged: bool = False,
    max_rel_depth: int = 2,
    bbox: tuple | None = None,
) -> DataFrame:
    """S1 end-to-end: .pbf → the `elements` contract, geometry resolved.

    Way geometry = ordered node coordinates (posexplode refs ⋈ coords,
    array_sort(collect_list)); relation geometry = node-member points ++
    way-member vertex runs, in member order.  ``keep_untagged=False``
    (default) drops tagless elements from the OUTPUT — they still feed
    geometry resolution — matching the osmium tags-filter front door.

    ``max_rel_depth`` bounds relation-in-relation resolution: each extra
    level re-assembles relation geometry against the previous level's
    child geometries (a bounded fixpoint — depth d resolves members whose
    own nesting is < d).  Members nested deeper than the bound contribute
    no geometry (the resolved prefix is kept), mirroring the reference's
    own degrade — it drops relation geometry entirely when its tag pass
    fails (snap_poi_to_nodes.py:127-141 keep_relations fallback).  The
    default 2 covers real OSM (multipolygon-in-multipolygon); rare
    site→multipolygon→multipolygon nests need ``max_rel_depth=3``
    (fixture-tested both ways).

    ``bbox`` (minlon, minlat, maxlon, maxlat) applies the complete-object
    tile filter AFTER geometry assembly (bbox_filter_elements) — the twin
    of the reference's per-tile osmium extract, which likewise reads the
    whole file and emits one tile's objects
    (extract_map_from_json.py:60-74)."""
    raw = read_pbf_raw(spark, path)
    # node coords are joined twice (way refs, relation members); at real
    # scale this frame is the big dimension — cache only the 3 columns.
    coords = raw.where(F.col("elem_type") == "node").select(
        F.col("elem_id").alias("node_id"), "lon", "lat"
    )

    nodes = raw.where(F.col("elem_type") == "node").select(
        "elem_id",
        "elem_type",
        "tag_keys",
        "tag_vals",
        F.array(_pt(F.col("lon"), F.col("lat"))).alias("geometry"),
    )

    wrefs = (
        raw.where(F.col("elem_type") == "way")
        .select("elem_id", F.posexplode("refs").alias("pos", "node_id"))
        .join(coords, "node_id")
    )
    wgeo = wrefs.groupBy("elem_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "lon", "lat"))),
            lambda s: _pt(s["lon"], s["lat"]),
        ).alias("geometry")
    )
    ways = (
        raw.where(F.col("elem_type") == "way")
        .select("elem_id", "elem_type", "tag_keys", "tag_vals")
        .join(wgeo, "elem_id", "left")
        .withColumn("geometry", F.coalesce("geometry", F.array().cast("array<struct<lon:double,lat:double>>")))
    )

    rels = raw.where(F.col("elem_type") == "relation")
    mem = rels.select(
        "elem_id", F.posexplode(F.arrays_zip("member_ids", "member_types")).alias("pos", "m")
    ).select("elem_id", "pos", F.col("m.member_ids").alias("mid"), F.col("m.member_types").alias("mtype"))
    node_pts = (
        mem.where(F.col("mtype") == "node")
        .join(coords, mem["mid"] == coords["node_id"])
        .select("elem_id", "pos", F.array(_pt(F.col("lon"), F.col("lat"))).alias("pts"))
    )
    way_pts = (
        mem.where(F.col("mtype") == "way")
        .join(wgeo.select(F.col("elem_id").alias("way_id"), F.col("geometry").alias("pts")), mem["mid"] == F.col("way_id"))
        .select("elem_id", "pos", "pts")
    )
    def _assemble(parts: DataFrame) -> DataFrame:
        return parts.groupBy("elem_id").agg(
            F.flatten(
                F.transform(F.array_sort(F.collect_list(F.struct("pos", "pts"))), lambda s: s["pts"])
            ).alias("geometry")
        )

    base_pts = node_pts.unionAll(way_pts)
    # bounded fixpoint: depth-1 resolves node/way members; each further
    # round re-assembles against the previous round's relation geometries,
    # so round d resolves relation members nested < d deep.  Lineage grows
    # linearly in max_rel_depth — fine for the single-digit depths real
    # OSM needs; localCheckpoint between rounds if a pathological bound is
    # ever required.
    rel_mem = mem.where(F.col("mtype") == "relation")
    rgeo = _assemble(base_pts)
    for _ in range(max(0, max_rel_depth - 1)):
        rel_pts = (
            rel_mem.join(
                rgeo.select(
                    F.col("elem_id").alias("child_id"), F.col("geometry").alias("pts")
                ),
                rel_mem["mid"] == F.col("child_id"),
            )
            .select("elem_id", "pos", "pts")
        )
        rgeo = _assemble(base_pts.unionAll(rel_pts))
    relations = (
        rels.select("elem_id", "elem_type", "tag_keys", "tag_vals")
        .join(rgeo, "elem_id", "left")
        .withColumn("geometry", F.coalesce("geometry", F.array().cast("array<struct<lon:double,lat:double>>")))
    )

    out = nodes.unionByName(ways).unionByName(relations)
    if not keep_untagged:
        out = out.where(F.size("tag_keys") > 0)
    out = out.select(
        "elem_id",
        "elem_type",
        F.map_from_arrays("tag_keys", "tag_vals").alias("tags"),
        "geometry",
    )
    return bbox_filter_elements(out, bbox) if bbox is not None else out


def pbf_graph_inputs(spark: SparkSession, path: str) -> tuple[DataFrame, DataFrame]:
    """S1 → graph front door: (nodes_raw, edges_raw) in build_graph's
    contract (plans/graph_build.py:150-162) straight from the raw decode.

    The reference gets this from pyrosm's get_network("walking")
    (graph_construction.py:216-217), whose node table holds the
    network's nodes only; here each way explodes into consecutive-ref
    segments (u, v) carrying the way's walkability tags, and nodes_raw is
    every node (tagged or not — way shape points ARE the graph vertices)
    that a ``highway`` way references.  Standalone POI nodes and the shape
    points of buildings or parks stay out: as isolated vertices they would
    win a POI's snap and cut it off from the network.
    clean_walkable_edges then prunes edges by tag exactly as the
    reference's clean step does, and, as there, the nodes of the ways it
    drops stay in the node table (graph_construction.py:229-243 indexes
    every node of the network)."""
    raw = read_pbf_raw(spark, path)
    tags = F.map_from_arrays("tag_keys", "tag_vals")
    on_highway = raw.where(
        (F.col("elem_type") == "way") & F.element_at(tags, "highway").isNotNull()
    ).select(F.explode("refs").alias("osm_node_id"))
    nodes_raw = (
        raw.where(F.col("elem_type") == "node")
        .select(F.col("elem_id").alias("osm_node_id"), "lon", "lat")
        .join(on_highway, "osm_node_id", "left_semi")
    )
    # slice() is 1-based but bracket indexing is 0-based: slice element i
    # (0-based lambda index) IS refs[i], so its successor is refs[i + 1].
    segs = F.expr(
        "transform(slice(refs, 1, size(refs) - 1), (r, i) -> struct(r AS u, refs[i + 1] AS v))"
    )
    edges_raw = (
        raw.where((F.col("elem_type") == "way") & (F.size("refs") >= 2))
        .select(
            F.col("elem_id").alias("way_id"),
            *[F.element_at(tags, k).alias(k) for k in ("highway", "foot", "sidewalk", "motorroad", "oneway")],
            F.explode(segs).alias("seg"),
        )
        .select("way_id", "highway", "foot", "sidewalk", "motorroad", "oneway",
                F.col("seg.u").alias("u"), F.col("seg.v").alias("v"))
    )
    return nodes_raw, edges_raw


# ---------------------------------------------------------------------------
# Python DataSource registration: spark.read.format("pbf").load(path)
# ---------------------------------------------------------------------------
try:  # pyspark >= 4.0
    from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

    class PbfDataSource(DataSource):
        """S1 behind the DataSource API (SURVEY §7.3's last "optional
        later"): ``spark.read.format("pbf").load(path)`` scans the raw
        element stream — one InputPartition per OSMData blob, indexed
        driver-side by header-only reads (index_blobs) and decoded
        executor-side (_decode_block), the same split/scan layering a
        parquet source uses.  Yields the _RAW_SCHEMA rows of
        read_pbf_raw; geometry assembly stays a PLAN on top
        (read_pbf_elements / pbf_graph_inputs), exactly as joins do not
        live inside a file source."""

        @classmethod
        def name(cls) -> str:
            return "pbf"

        def schema(self) -> str:
            return _RAW_SCHEMA

        def reader(self, schema):
            return _PbfReader(self.options)

    class _PbfReader(DataSourceReader):
        def __init__(self, options):
            path = options.get("path")
            if not path:
                raise ValueError("pbf source: .load(path) is required")
            self._path = path

        def partitions(self):
            blobs = [
                InputPartition((self._path, off, size))
                for btype, off, size in index_blobs(self._path)
                if btype == "OSMData"
            ]
            if not blobs:
                raise ValueError(f"no OSMData blobs in {self._path}")
            return blobs

        def read(self, partition):
            path, off, size = partition.value
            yield from _decode_block(_blob_block(path, off, size))

except ImportError:  # pragma: no cover - pyspark < 4 lacks the API
    PbfDataSource = None


def register_pbf_source(spark: SparkSession) -> None:
    """Register the "pbf" format on a session (idempotent — re-registering
    replaces the entry)."""
    if PbfDataSource is None:  # pragma: no cover
        raise RuntimeError("Python DataSource API requires pyspark >= 4.0")
    spark.dataSource.register(PbfDataSource)


def ingest_pbf(
    spark: SparkSession, pbf_path: str, out_dir: str, bbox: tuple | None = None
) -> None:
    """The S1 utility the reference lacks a Spark twin for: materialize the
    elements contract as parquet, partitioned by elem_type so POI scans
    (mostly nodes) and graph scans (ways) prune each other away.

    ``bbox`` makes this the engine's per-tile extract — the incremental
    "write one tile's data to disk" field-debugging utility the reference
    runs through osmium (extract_map_from_json.py:60-100, minus the
    Docker fallback, which is environment plumbing; the empty-extract
    cleanup loop is ingest_pbf_tiles below)."""
    from ..io import write_parquet

    write_parquet(
        read_pbf_elements(spark, pbf_path, bbox=bbox), out_dir, partition_by=["elem_type"]
    )


def ingest_pbf_tiles(
    spark: SparkSession,
    pbf_path: str,
    out_root: str,
    tiles: dict,
    drop_empty: bool = True,
) -> dict:
    """The reference's per-tile extract loop WITH the empty-extract
    cleanup (extract_map_from_json.py:86-100: osmium extract per tile,
    ``osmium count`` each artifact, delete the zero-element extracts):
    ingest each ``tiles[tile_id] = (minlon, minlat, maxlon, maxlat)``
    bbox under ``out_root/tile=<tile_id>/`` (elem_type-partitioned, the
    ingest_pbf layout) and — with ``drop_empty`` — remove tile dirs whose
    extract holds zero elements, so the partition listing contains only
    occupied tiles.  Returns the cleanup summary {tile_id: n_elements}
    with dropped tiles reported at 0 (the report the reference's loop
    prints as it deletes).

    Scale shape: the .pbf is decoded and geometry-resolved ONCE (the
    element table is pinned — N bbox filters are scan-side predicates
    over the checkpoint, not N re-decodes; the reference re-reads the
    planet file per osmium run).  The count is taken on the WRITTEN
    artifact, like osmium count — it verifies the extract on disk, not
    the plan that produced it."""
    import os
    import shutil

    elements = read_pbf_elements(spark, pbf_path).localCheckpoint(eager=False)
    summary: dict = {}
    for tid, bbox in tiles.items():
        sub = bbox_filter_elements(elements, bbox)
        tdir = os.path.join(out_root, f"tile={tid}")
        from ..io import write_parquet

        write_parquet(sub, tdir, partition_by=["elem_type"])
        n = int(spark.read.schema(elements.schema).parquet(tdir).count())
        summary[str(tid)] = n
        if drop_empty and n == 0:
            shutil.rmtree(tdir)
    return summary
