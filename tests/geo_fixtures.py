"""Deterministic geospatial fixtures (FIXTURES.md B1-B8) and independent
golden oracles.

Fixtures: a k×k lattice road graph around Gdańsk-ish coordinates with OSM
tag noise, plus POIs offset from known nodes.  Goldens are computed with
numpy/scipy (cKDTree, sparse-graph Dijkstra) — independent single-node
implementations of the semantics the engine declares, NOT transcriptions
of the reference code.

Tie policy (engine-declared, pinned here): nearest-node ties → smaller
node_idx; reach winner ties → smaller poi_id.  Floating comparisons accept
any winner whose distance is within EPS of the optimum (JVM and numpy trig
can differ in the last ulp).
"""

from __future__ import annotations

import heapq
import math

import numpy as np
import pandas as pd

SEED = 42
K = 20  # lattice side → N=400 nodes
ANCHOR_LON, ANCHOR_LAT = 18.60, 54.35
PITCH_LON, PITCH_LAT = 0.001, 0.0006
R_EDGE = 6371008.8
R_WGS84 = 6378137.0
EPS = 1e-6

CATEGORIES = ("supermarket", "pharmacy", "bus_stop", "park", "school")


# ---------------------------------------------------------------------------
# fixture generators (B1-B3)
# ---------------------------------------------------------------------------
def lattice_nodes(k: int = K) -> pd.DataFrame:
    """B1: k×k lattice nodes; osm ids unique and unsorted on disk."""
    rng = np.random.RandomState(SEED)
    n = k * k
    ids = 1_000_000 + rng.permutation(n).astype(np.int64)
    ix, iy = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
    lon = (ANCHOR_LON + ix.ravel() * PITCH_LON).astype(np.float32)
    lat = (ANCHOR_LAT + iy.ravel() * PITCH_LAT).astype(np.float32)
    return pd.DataFrame({"osm_node_id": ids, "lon": lon, "lat": lat})


def lattice_edges_raw(nodes: pd.DataFrame, k: int = K) -> pd.DataFrame:
    """B2: 4-neighbor adjacency (one row per undirected edge) with OSM tag
    noise, ~5% duplicate rows, ~2% self-loops."""
    rng = np.random.RandomState(SEED + 1)
    ids = nodes["osm_node_id"].to_numpy()

    def nid(ix, iy):
        return ids[ix * k + iy]

    rows = []
    for ix in range(k):
        for iy in range(k):
            if ix + 1 < k:
                rows.append((nid(ix, iy), nid(ix + 1, iy)))
            if iy + 1 < k:
                rows.append((nid(ix, iy), nid(ix, iy + 1)))
    e = pd.DataFrame(rows, columns=["u", "v"])
    m = len(e)

    highway = rng.choice(
        ["footway", "path", "residential", "service", "primary", "secondary", "motorway", "trunk", None],
        size=m,
        p=[0.25, 0.15, 0.20, 0.10, 0.10, 0.08, 0.05, 0.02, 0.05],
    )
    foot = rng.choice(["yes", "designated", "permissive", "no", None], size=m, p=[0.3, 0.1, 0.1, 0.2, 0.3])
    sidewalk = rng.choice(["yes", "both", "left", "right", "no", None], size=m, p=[0.2, 0.1, 0.05, 0.05, 0.3, 0.3])
    motorroad = rng.choice(["yes", "no", None], size=m, p=[0.05, 0.45, 0.5])
    oneway = rng.choice(["yes", "no", None], size=m, p=[0.2, 0.4, 0.4])
    e = e.assign(highway=highway, foot=foot, sidewalk=sidewalk, motorroad=motorroad, oneway=oneway)

    dup = e.sample(frac=0.05, random_state=SEED + 2)
    loops = e.sample(frac=0.02, random_state=SEED + 3).copy()
    loops["v"] = loops["u"]
    return pd.concat([e, dup, loops], ignore_index=True)


def poi_fixture(nodes: pd.DataFrame, k: int = K) -> pd.DataFrame:
    """B3 input side: 25 POIs (5 per category) offset ≤50 m from chosen
    lattice nodes; one POI placed mid-way between two nodes (tie case) and
    one ~500 m outside the lattice (max-snap rejection)."""
    rng = np.random.RandomState(SEED + 4)
    rows = []
    pid = 5_000_000
    node_positions = nodes[["lon", "lat"]].to_numpy(dtype=np.float64)
    picks = rng.choice(len(nodes), size=23, replace=False)
    for i, npos in enumerate(picks):
        lon0, lat0 = node_positions[npos]
        # ≤ ~40 m offset (1e-4 deg lon ≈ 6.5 m at this latitude)
        lon = lon0 + rng.uniform(-4e-4, 4e-4)
        lat = lat0 + rng.uniform(-2.5e-4, 2.5e-4)
        cat = CATEGORIES[i % len(CATEGORIES)]
        name = None if i % 7 == 0 else f"{cat}_{i}"
        rows.append((pid + i, cat, lon, lat, name))
    # tie-ish POI exactly between two adjacent nodes (same lon pitch)
    rows.append((pid + 90, "supermarket", ANCHOR_LON + 0.5 * PITCH_LON, ANCHOR_LAT, "tie_poi"))
    # far POI > 300 m from every node
    rows.append((-7, "pharmacy", ANCHOR_LON - 0.01, ANCHOR_LAT - 0.01, "far_poi"))
    return pd.DataFrame(rows, columns=["poi_id", "category", "lon", "lat", "name"])


# ---------------------------------------------------------------------------
# golden oracles
# ---------------------------------------------------------------------------
def golden_grid(bbox, tile_km: float, buffer_km: float) -> pd.DataFrame:
    """B4 golden: vectorized lattice of tiles anchored top-right, ordered
    right-to-left / top-to-bottom."""
    minlon, minlat, maxlon, maxlat = bbox
    kmlat = 111.32
    dlat_t = tile_km / kmlat
    dlon_t = tile_km / max(kmlat * math.cos(math.radians(maxlat)), 1e-9)
    dlat_b = buffer_km / kmlat
    dlon_b = buffer_km / max(kmlat * math.cos(math.radians(maxlat)), 1e-9)

    c0_lon, c0_lat = maxlon - 0.5 * dlon_t, maxlat - 0.5 * dlat_t
    n_cols = int(np.ceil((c0_lon - (minlon - 0.5 * dlon_t)) / dlon_t)) + 1
    n_rows = int(np.ceil((c0_lat - (minlat - 0.5 * dlat_t)) / dlat_t)) + 1

    ci, ri = np.meshgrid(np.arange(n_cols), np.arange(n_rows), indexing="ij")
    ci, ri = ci.ravel(), ri.ravel()
    clon = c0_lon - ci * dlon_t
    clat = c0_lat - ri * dlat_t
    tminx, tmaxx = clon - 0.5 * dlon_t, clon + 0.5 * dlon_t
    tminy, tmaxy = clat - 0.5 * dlat_t, clat + 0.5 * dlat_t
    keep = ~((tmaxx <= minlon) | (tminx >= maxlon) | (tmaxy <= minlat) | (tminy >= maxlat))
    df = pd.DataFrame(
        {
            "grid_id": [f"r{r}_c{c}" for r, c in zip(ri[keep], ci[keep])],
            "row": ri[keep].astype(np.int32),
            "col": ci[keep].astype(np.int32),
            "clon": clon[keep],
            "clat": clat[keep],
            "tminx": tminx[keep],
            "tminy": tminy[keep],
            "tmaxx": tmaxx[keep],
            "tmaxy": tmaxy[keep],
            "bminx": tminx[keep] - dlon_b,
            "bminy": tminy[keep] - dlat_b,
            "bmaxx": tmaxx[keep] + dlon_b,
            "bmaxy": tmaxy[keep] + dlat_b,
        }
    )
    return df.sort_values(["grid_id"]).reset_index(drop=True)


def golden_walkable_mask(e: pd.DataFrame) -> pd.Series:
    """P2 golden: pandas boolean algebra over normalized tags."""
    def norm(s):
        return s.map(lambda x: str(x).strip().lower() if x is not None and not pd.isna(x) else "")

    hw, foot, sw, mr = norm(e["highway"]), norm(e["foot"]), norm(e["sidewalk"]), norm(e["motorroad"])
    always = {"footway", "path", "pedestrian", "steps", "platform", "crossing",
              "living_street", "cycleway", "track", "residential", "unclassified", "service"}
    big = {"primary", "primary_link", "secondary", "secondary_link", "tertiary", "tertiary_link"}
    keep = hw.isin(always) | (hw.isin(big) & (sw.isin({"yes", "both", "left", "right"}) | foot.isin({"yes", "designated", "permissive"})))
    fast = hw.isin({"motorway", "motorway_link", "trunk", "trunk_link"}) | (mr == "yes")
    return keep & ~fast


def haversine_np(lon1, lat1, lon2, lat2, r=R_EDGE):
    lon1, lat1, lon2, lat2 = (np.asarray(x, dtype=np.float64) for x in (lon1, lat1, lon2, lat2))
    a = (
        np.sin(np.radians(lat2 - lat1) / 2) ** 2
        + np.cos(np.radians(lat1)) * np.cos(np.radians(lat2)) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2.0 * r * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def golden_canonical_graph(nodes: pd.DataFrame, edges_raw: pd.DataFrame):
    """Golden (graph_nodes, graph_edges): dense index by ascending osm id;
    walkable filter → id→idx join → symmetrize → drop loops → min-dedup;
    weights float32 haversine R=6371008.8 with the 0.01 m clamp."""
    nidx = nodes.sort_values("osm_node_id").reset_index(drop=True)
    nidx["node_idx"] = np.arange(len(nidx), dtype=np.int32)

    e = edges_raw[golden_walkable_mask(edges_raw)].copy()
    idmap = dict(zip(nidx["osm_node_id"], nidx["node_idx"]))
    e["src"] = e["u"].map(idmap)
    e["dst"] = e["v"].map(idmap)
    e = e.dropna(subset=["src", "dst"]).astype({"src": np.int32, "dst": np.int32})

    lon = nidx["lon"].to_numpy()
    lat = nidx["lat"].to_numpy()
    w = haversine_np(lon[e["src"]], lat[e["src"]], lon[e["dst"]], lat[e["dst"]])
    w = np.where(w == 0.0, 0.01, w).astype(np.float32)
    e = pd.DataFrame({"src": e["src"].to_numpy(), "dst": e["dst"].to_numpy(), "w": w})
    sym = pd.concat([e, e.rename(columns={"src": "dst", "dst": "src"})], ignore_index=True)
    sym = sym[sym["src"] != sym["dst"]]
    canon = sym.groupby(["src", "dst"], as_index=False)["w"].min()
    return nidx[["node_idx", "osm_node_id", "lon", "lat"]], canon


def mercator_xy(lon, lat):
    x = R_WGS84 * np.radians(np.asarray(lon, dtype=np.float64))
    y = R_WGS84 * np.log(np.tan(np.pi / 4 + np.radians(np.asarray(lat, dtype=np.float64)) / 2))
    return x, y


def golden_snap(pois: pd.DataFrame, gnodes: pd.DataFrame, max_snap_m: float | None = None) -> pd.DataFrame:
    """J2 golden: exact nearest node in EPSG:3857 via the full distance
    matrix (small fixture), ties → smaller node_idx; beyond max_snap_m →
    NULL."""
    px, py = mercator_xy(pois["lon"], pois["lat"])
    nx, ny = mercator_xy(gnodes["lon"], gnodes["lat"])
    d = np.sqrt((px[:, None] - nx[None, :]) ** 2 + (py[:, None] - ny[None, :]) ** 2)
    best = d.argmin(axis=1)  # argmin returns first (= smallest node_idx, rows sorted)
    dist = d[np.arange(len(pois)), best]
    out = pois.copy()
    out["node_idx"] = gnodes["node_idx"].to_numpy()[best]
    out["dist_to_node_m"] = dist
    if max_snap_m is not None:
        rej = dist > max_snap_m
        out.loc[rej, "node_idx"] = -1
        out.loc[rej, "dist_to_node_m"] = np.nan
    return out


def _single_source_dijkstra(adj: list[list[tuple[int, float]]], start: int, n: int) -> np.ndarray:
    """Plain textbook single-source Dijkstra over an adjacency list (no
    bound, no source tracking) — the independent oracle kernel."""
    dist = np.full(n, np.inf)
    dist[start] = 0.0
    pq = [(0.0, start)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist[u]:
            continue
        for v, w in adj[u]:
            nd = d + w
            if nd < dist[v]:
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def golden_reach(gnodes: pd.DataFrame, gedges: pd.DataFrame, snapped_pois: pd.DataFrame, limit_m: float):
    """G2 golden: one textbook Dijkstra per source → bounded min per node;
    winner set = all sources within EPS of the optimum (robust to last-ulp
    float divergence between JVM and numpy).  Returns (dist[N] with inf,
    winner_sets list of frozensets of poi_ids)."""
    n = len(gnodes)
    adj: list[list[tuple[int, float]]] = [[] for _ in range(n)]
    for r in gedges.itertuples():
        adj[int(r.src)].append((int(r.dst), float(r.w)))
    src_nodes = snapped_pois["node_idx"].to_numpy()
    poi_ids = snapped_pois["poi_id"].to_numpy()
    dmat = np.vstack([_single_source_dijkstra(adj, int(s), n) for s in src_nodes])
    dmat[dmat > limit_m] = np.inf
    dist = dmat.min(axis=0)
    winners = []
    for j in range(n):
        if not np.isfinite(dist[j]):
            winners.append(frozenset())
            continue
        ok = np.where(dmat[:, j] <= dist[j] + EPS)[0]
        winners.append(frozenset(int(poi_ids[i]) for i in ok))
    return dist, winners


def golden_route(gedges: pd.DataFrame, start: int, target: int, limit_m: float) -> list[int]:
    """G3 golden: textbook heap Dijkstra from ``start`` bounded at
    ``limit_m`` that keeps, per node, the lexicographic min (dist, prev)
    (prev -1 at the start), then walks prev back from ``target``.  Returns
    the start → target node chain, or [] when the target lies beyond
    ``limit_m``."""
    adj: dict[int, list[tuple[int, float]]] = {}
    for r in gedges.itertuples():
        adj.setdefault(int(r.src), []).append((int(r.dst), float(r.w)))
    best = {start: (0.0, -1)}
    pq = [(0.0, -1, start)]
    while pq:
        d, p, u = heapq.heappop(pq)
        if best[u] != (d, p):
            continue
        for v, w in adj.get(u, ()):
            cand = (d + w, u)
            if cand[0] <= limit_m and (v not in best or cand < best[v]):
                best[v] = cand
                heapq.heappush(pq, (cand[0], u, v))
    if target not in best:
        return []
    chain = [target]
    while best[chain[-1]][1] >= 0:
        chain.append(best[chain[-1]][1])
    return chain[::-1]
