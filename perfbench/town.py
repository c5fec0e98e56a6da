"""Seeded synthetic town and its independent goldens.

The town is an area-scaled lattice like ``scale_slope.py``'s geo core
(k = 20*sqrt(f) nodes per side, 0.001 deg lon x 0.0006 deg lat pitch), with
node jitter so that distance ties are rare, ``tests/geo_fixtures.py``-style
OSM tag noise (duplicate ways, self-loops, non-walkable roads) and POIs at
constant density over the 20 ``poi.TAG_MAP`` categories with skewed
frequencies, as an OSM ``elements`` table of node and way POIs.

The goldens reuse the graph and snap semantics of ``tests/geo_fixtures.py``
and add a multi-source bounded Dijkstra per category (heapq), so that a
town of tens of thousands of nodes is checked in seconds.
"""

from __future__ import annotations

import heapq
import math
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from fifteenmc_spark.plans.poi import TAG_MAP
from tests import geo_fixtures as gf

ANCHOR_LON, ANCHOR_LAT = 18.60, 54.35
PITCH_LON, PITCH_LAT = 0.001, 0.0006
NODES_PER_POI = 40  # ~1,000 POIs on the f=100 town
LIMIT_M = 1000.0
MAX_SNAP_M = 300.0
R_QUERY_M = 6371000.0
DIST_TOL_M = 1e-3  # reach dist_m is stored as FLOAT

CATEGORIES = tuple(TAG_MAP)
_HIGHWAY = ["footway", "path", "residential", "service", "primary", "secondary", "motorway", "trunk", None]
_HIGHWAY_P = [0.25, 0.15, 0.20, 0.10, 0.10, 0.08, 0.05, 0.02, 0.05]


@dataclass
class Town:
    nodes: pd.DataFrame  # osm_node_id, lon, lat (float32)
    edges: pd.DataFrame  # u, v, highway, foot, sidewalk, motorroad, oneway
    pois: pd.DataFrame  # poi_id, category, lon, lat (the centroid the engine derives)
    elements: list  # (elem_id, elem_type, tags, geometry) rows of the elements table

    @property
    def bbox(self) -> tuple[float, float, float, float]:
        lon, lat = self.nodes["lon"], self.nodes["lat"]
        return (float(lon.min()), float(lat.min()), float(lon.max()), float(lat.max()) + 1e-9)


def make_town(seed: int, k: int) -> Town:
    rng = np.random.default_rng(seed)
    n = k * k
    ix, iy = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
    jit = rng.uniform(-0.15, 0.15, size=(2, n))
    nodes = pd.DataFrame(
        {
            "osm_node_id": 1_000_000 + rng.permutation(n).astype(np.int64),
            "lon": (ANCHOR_LON + (ix.ravel() + jit[0]) * PITCH_LON).astype(np.float32),
            "lat": (ANCHOR_LAT + (iy.ravel() + jit[1]) * PITCH_LAT).astype(np.float32),
        }
    )
    ids = nodes["osm_node_id"].to_numpy()
    cell = np.arange(n).reshape(k, k)
    u = np.concatenate([cell[:-1, :].ravel(), cell[:, :-1].ravel()])
    v = np.concatenate([cell[1:, :].ravel(), cell[:, 1:].ravel()])
    m = len(u)
    e = pd.DataFrame(
        {
            "u": ids[u],
            "v": ids[v],
            "highway": rng.choice(np.array(_HIGHWAY, dtype=object), size=m, p=_HIGHWAY_P),
            "foot": rng.choice(np.array(["yes", "designated", "permissive", "no", None], dtype=object), size=m,
                               p=[0.3, 0.1, 0.1, 0.2, 0.3]),
            "sidewalk": rng.choice(np.array(["yes", "both", "left", "right", "no", None], dtype=object), size=m,
                                   p=[0.2, 0.1, 0.05, 0.05, 0.3, 0.3]),
            "motorroad": rng.choice(np.array(["yes", "no", None], dtype=object), size=m, p=[0.05, 0.45, 0.5]),
            "oneway": rng.choice(np.array(["yes", "no", None], dtype=object), size=m, p=[0.2, 0.4, 0.4]),
        }
    )
    dup = e.iloc[rng.choice(m, size=m // 20, replace=False)]
    loops = e.iloc[rng.choice(m, size=m // 50, replace=False)].copy()
    loops["v"] = loops["u"]
    edges = pd.concat([e, dup, loops], ignore_index=True)
    pois, elements = _make_pois(rng, nodes, max(20, n // NODES_PER_POI))
    return Town(nodes, edges, pois, elements)


def _make_pois(rng, nodes: pd.DataFrame, n_pois: int):
    """POIs offset <= ~40 m from random nodes, ~1% placed past the snap
    radius; categories Zipf-skewed; 70% node elements, 30% square ways whose
    vertex average is the POI point; plus noise elements whose tags are
    outside the map and must not classify."""
    w = 1.0 / np.arange(1, len(CATEGORIES) + 1) ** 0.9
    cats = rng.choice(len(CATEGORIES), size=n_pois, p=w / w.sum())
    at = rng.integers(0, len(nodes), size=n_pois)
    lon = nodes["lon"].to_numpy(np.float64)[at] + rng.uniform(-4e-4, 4e-4, n_pois)
    lat = nodes["lat"].to_numpy(np.float64)[at] + rng.uniform(-2.5e-4, 2.5e-4, n_pois)
    far = rng.random(n_pois) < 0.01
    lat[far] -= 0.01  # ~1.1 km south of the town: rejected by the snap
    is_way = rng.random(n_pois) < 0.3
    rows, elements = [], []
    for i in range(n_pois):
        cat = CATEGORIES[cats[i]]
        pairs = TAG_MAP[cat]
        key, val = pairs[int(rng.integers(len(pairs)))]
        tags = {key: val, "opening_hours": "24/7"}
        name = None if i % 7 == 0 else f"{cat}_{i}"
        if name is not None:
            tags["name"] = name
        pid = 5_000_000 + i
        if is_way[i]:
            d_lon, d_lat = 5e-5, 3e-5
            geom = [(lon[i] - d_lon, lat[i] - d_lat), (lon[i] + d_lon, lat[i] - d_lat),
                    (lon[i] + d_lon, lat[i] + d_lat), (lon[i] - d_lon, lat[i] + d_lat)]
            c_lon = sum(p[0] for p in geom) / 4
            c_lat = sum(p[1] for p in geom) / 4
            tags["building"] = "yes"
        else:
            geom = [(lon[i], lat[i])]
            c_lon, c_lat = lon[i], lat[i]
        elements.append((pid, "way" if is_way[i] else "node", tags, geom))
        rows.append((pid, cat, c_lon, c_lat))
    for j in range(n_pois // 5):  # noise: tags outside the map
        tags = {"shop": "no_such_kind"} if j % 2 else {"building": "yes", "name": f"house_{j}"}
        elements.append((9_000_000 + j, "node", tags, [(float(lon[j % n_pois]), float(lat[j % n_pois]))]))
    pois = pd.DataFrame(rows, columns=["poi_id", "category", "lon", "lat"])
    return pois, elements


def write_inputs(town: Town, out_dir: str) -> dict[str, str]:
    """The generated inputs as parquet, the way an ingest step hands them
    to the build: nodes, raw edges and the OSM elements table."""
    os.makedirs(out_dir, exist_ok=True)
    paths = {t: os.path.join(out_dir, f"{t}.parquet") for t in ("nodes", "edges", "elements")}
    pq.write_table(pa.Table.from_pandas(town.nodes, preserve_index=False), paths["nodes"])
    pq.write_table(pa.Table.from_pandas(town.edges, preserve_index=False), paths["edges"])
    geom_t = pa.list_(pa.struct([("lon", pa.float64()), ("lat", pa.float64())]))
    el = pa.table(
        {
            "elem_id": pa.array([r[0] for r in town.elements], pa.int64()),
            "elem_type": pa.array([r[1] for r in town.elements], pa.string()),
            "tags": pa.array([list(r[2].items()) for r in town.elements], pa.map_(pa.string(), pa.string())),
            "geometry": pa.array([[{"lon": a, "lat": b} for a, b in r[3]] for r in town.elements], geom_t),
        }
    )
    pq.write_table(el, paths["elements"])
    return paths


# ---------------------------------------------------------------------------
# goldens
# ---------------------------------------------------------------------------
class Golden:
    """Independent answers for one town: canonical graph, POI snap and
    per-category bounded reach (dist and winning POI per node)."""

    def __init__(self, town: Town):
        self.gnodes, self.gedges = gf.golden_canonical_graph(town.nodes, town.edges)
        self.n = len(self.gnodes)
        self.lon = self.gnodes["lon"].to_numpy(np.float64)
        self.lat = self.gnodes["lat"].to_numpy(np.float64)
        self.adj: list[list[tuple[int, float]]] = [[] for _ in range(self.n)]
        for s, d, w in zip(self.gedges["src"].to_numpy(), self.gedges["dst"].to_numpy(), self.gedges["w"].to_numpy()):
            self.adj[int(s)].append((int(d), float(w)))
        self.snapped = self._snap_pois(town.pois)
        self.reach = {c: self._reach(c) for c in CATEGORIES}

    def _snap_pois(self, pois: pd.DataFrame) -> pd.DataFrame:
        parts = [gf.golden_snap(pois.iloc[i : i + 100], self.gnodes, MAX_SNAP_M) for i in range(0, len(pois), 100)]
        return pd.concat(parts, ignore_index=True)

    def seeds(self, category: str) -> list[tuple[int, int]]:
        s = self.snapped[(self.snapped["category"] == category) & (self.snapped["node_idx"] >= 0)]
        return sorted(zip(s["node_idx"].astype(int), s["poi_id"].astype(int)))

    def _reach(self, category: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """Multi-source bounded Dijkstra with prev pointers; the winner is
        the lexicographic min (dist, poi_id), the engine's tie rule."""
        dist = np.full(self.n, np.inf)
        poi = np.full(self.n, -1, dtype=np.int64)
        prev = np.full(self.n, -1, dtype=np.int64)
        heap = []
        for node, pid in self.seeds(category):
            if dist[node] > 0.0:  # seeds sorted by poi_id: the smallest wins a shared node
                dist[node], poi[node] = 0.0, pid
                heap.append((0.0, pid, node))
        heapq.heapify(heap)
        while heap:
            d, p, u = heapq.heappop(heap)
            if d != dist[u] or p != poi[u]:
                continue
            for v, w in self.adj[u]:
                nd = d + w
                if nd <= LIMIT_M and (nd < dist[v] or (nd == dist[v] and p < poi[v])):
                    dist[v], poi[v], prev[v] = nd, p, u
                    heapq.heappush(heap, (nd, p, v))
        return dist, poi, prev

    def chain_len(self, category: str, node: int) -> int:
        """Nodes on the golden path from ``node`` back to its seed; 0 when
        no seed is within the limit."""
        dist, _, prev = self.reach[category]
        if not np.isfinite(dist[node]):
            return 0
        n = 1
        while prev[node] >= 0:
            node, n = int(prev[node]), n + 1
        return n

    def dist_from(self, node: int, target: int) -> float:
        """Plain single-source distance, for tie-tolerant winner checks."""
        return float(gf._single_source_dijkstra(self.adj, node, self.n)[target])

    def winner_ok(self, category: str, node: int, dist_m: float, poi_id: int) -> bool:
        """The engine's (dist, poi) at ``node`` is right if the distance
        matches and its POI is the golden winner or ties it within EPS."""
        d, p, _ = self.reach[category]
        if not np.isfinite(d[node]) or abs(dist_m - d[node]) > DIST_TOL_M:
            return False
        if poi_id == p[node]:
            return True
        src = self.snapped.loc[self.snapped["poi_id"] == poi_id, "node_idx"]
        return len(src) == 1 and int(src.iloc[0]) >= 0 and self.dist_from(int(src.iloc[0]), node) <= d[node] + gf.EPS

    def snap_point(self, lon: float, lat: float) -> int | None:
        """J4 golden: haversine R=6371000 nearest node, ties to the smaller
        index, None past the snap radius."""
        dist = gf.haversine_np(self.lon, self.lat, lon, lat, r=R_QUERY_M)
        i = int(np.argmin(dist))
        return None if dist[i] > MAX_SNAP_M else i

    def reached_categories(self, node: int) -> set[str]:
        return {c for c in CATEGORIES if np.isfinite(self.reach[c][0][node])}
