"""The two workloads.  Each one runs a batch and then serves requests,
with one closed-loop client on the session's ``local[cpus]``.  Both do a
fixed amount of work for a given ``--seconds``, so every run of a seed
repeats the same sequence and the JVM warms up the same way:

- ``town``: a seeded synthetic town goes through ``pipeline.build_all`` ->
  ``write_gold`` -> the three z-order layouts (the batch, cold), then
  fixed cycles of G7 point reachability (full scan and z-ordered) and
  path-to-nearest-POI requests (the serving path).
- ``declared_suite``: seeded TPC-H-ish/text/vector tables, then passes of
  the query set, each query's rows collected by the client.  The first
  pass runs cold and builds every session-index feed the set reads; the
  batch is the mean pass and the requests are the queries of every pass.

Correctness checks run after the timed phase, against goldens computed
outside the program (``town.Golden``, DuckDB).
"""

from __future__ import annotations

import contextlib
import math
import statistics
import time
import traceback
from dataclasses import dataclass, field

import numpy as np

from . import suite as S
from . import town as T
from .trace import dir_size

TOWN_SIDE = 64  # f ~ 10: 4,096 nodes, ~100 POIs
G7_POINTS = 3  # per timed cycle: two in town, one past the snap radius
HOP_BAND = (3, 4)  # golden path nodes: every found path takes the same doubling rounds
# ``--seconds`` buys one town cycle per TOWN_CYCLE_S and one suite pass per
# SUITE_PASS_S (at least one of each): their mean wall time on a 4-core
# host, a suite pass averaged over a cold first pass (~22 s) and a warm one
# (~7.5 s).  A timed phase must span about 30 s to average out a shared
# host's bursts.
TOWN_CYCLE_S = 8.0
SUITE_PASS_S = 12.0
SETUP_REPEATS = 3


def units(seconds: float, unit_s: float) -> int:
    return max(1, int(seconds // unit_s))


def repeated_setup(fn):
    """Run the input set-up SETUP_REPEATS times; the last result and the
    median time."""
    times = []
    for _ in range(SETUP_REPEATS):
        t = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t)
    return out, statistics.median(times)


@dataclass
class Result:
    setup_s: float = 0.0
    batch_s: float = 0.0
    latencies: dict[str, list[float]] = field(default_factory=dict)  # kind -> ms
    attempted: int = 0
    failed: int = 0
    record: dict = field(default_factory=dict)

    def fail(self, what: str, err: BaseException | str) -> None:
        self.failed += 1
        msg = err if isinstance(err, str) else f"{type(err).__name__}: {err}"
        self.record.setdefault("failures", []).append(f"{what}: {msg}"[:300])
        if isinstance(err, BaseException):
            traceback.print_exception(err)

    def request_ms(self) -> float:
        """Geometric mean over request kinds of each kind's mean latency;
        0 with no samples."""
        means = [statistics.fmean(v) for v in self.latencies.values() if v]
        return math.exp(sum(math.log(m) for m in means) / len(means)) if means else 0.0


def _span(tracer, name: str):
    """A tracer span, or nothing on an untraced run."""
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


# ---------------------------------------------------------------------------
# town
# ---------------------------------------------------------------------------
@dataclass
class Request:
    kind: str  # g7_scan | g7_zorder | path
    lon: float
    lat: float
    category: str | None = None


def request_plan(seed: int, town: T.Town, golden: T.Golden, cycles: int) -> tuple[list[list[Request]], list[Request]]:
    """Seeded positions, fixed composition and order.  Each timed cycle
    asks G7_POINTS points (the last 500 m south of the town) in full-scan
    and z-ordered form, then one path in HOP_BAND.  After the timed cycles
    one untimed path whose category has no POI within 1 km is served and
    checked.  Path categories are drawn by POI frequency."""
    rng = np.random.default_rng([seed, 1])
    minlon, minlat, maxlon, maxlat = town.bbox
    counts = town.pois["category"].value_counts()
    cats, freq = counts.index.to_numpy(), counts.to_numpy() / counts.sum()

    def in_town():
        while True:
            lon, lat = rng.uniform(minlon, maxlon), rng.uniform(minlat, maxlat)
            node = golden.snap_point(lon, lat)
            if node is not None:
                return lon, lat, node

    def path(found: bool) -> Request:
        for _ in range(100_000):
            lon, lat, node = in_town()
            cat = str(rng.choice(cats, p=freq))
            n = golden.chain_len(cat, node)
            if (HOP_BAND[0] <= n <= HOP_BAND[1]) if found else n == 0:
                return Request("path", lon, lat, cat)
        raise RuntimeError("no path request fits the hop band")

    def g7(lon, lat):
        return [Request("g7_scan", lon, lat), Request("g7_zorder", lon, lat)]

    plan = []
    for _ in range(cycles):
        points = [in_town()[:2] for _ in range(G7_POINTS - 1)]
        points.append((rng.uniform(minlon, maxlon), minlat - 500 / 111_320))
        plan.append([r for p in points for r in g7(*p)] + [path(True)])
    return plan, [path(False)]


class TownServer:
    """The gold tables and layouts of one build, and the three requests."""

    def __init__(self, spark, work: str, bbox):
        self.spark, self.bbox = spark, bbox
        self.gold, self.lay = f"{work}/gold", f"{work}/layout"

    def build(self, paths: dict[str, str]) -> None:
        from fifteenmc_spark.plans import layout, pipeline, poi, reach

        spark = self.spark
        g = pipeline.build_all(
            spark,
            spark.read.parquet(paths["nodes"]),
            spark.read.parquet(paths["edges"]),
            elements=spark.read.parquet(paths["elements"]),
        )
        pipeline.write_gold(g, self.gold)
        nodes = spark.read.parquet(f"{self.gold}/graph_nodes")
        layout.write_zorder_layout(nodes, f"{self.lay}/nodes", self.bbox)
        reach.write_reach_zordered(spark.read.parquet(f"{self.gold}/reach"), nodes, f"{self.lay}/reach", self.bbox)
        poi.write_pois_zordered(spark.read.parquet(f"{self.gold}/pois"), f"{self.lay}/pois", self.bbox)
        self.open()

    def open(self) -> None:
        read = self.spark.read.parquet
        self.nodes, self.edges = read(f"{self.gold}/graph_nodes"), read(f"{self.gold}/graph_edges")
        self.pois, self.reach = read(f"{self.gold}/pois"), read(f"{self.gold}/reach")

    def serve(self, r: Request) -> list:
        from fifteenmc_spark.plans import query

        if r.kind == "g7_scan":
            df = query.point_reachability(self.reach, self.nodes, r.lon, r.lat, max_snap_m=T.MAX_SNAP_M)
        elif r.kind == "g7_zorder":
            df = query.point_reachability_zordered(
                self.spark, None, f"{self.lay}/nodes", self.bbox, r.lon, r.lat,
                reach_layout_path=f"{self.lay}/reach",
            )
        else:
            df = query.path_to_nearest_poi(self.nodes, self.edges, self.pois, r.lon, r.lat, r.category)
        return [row.asDict() for row in df.collect()]


def run_town(spark, seed: int, seconds: float, work: str, session_s: float, tracer=None,
             side: int = TOWN_SIDE) -> Result:
    """``session_s`` is the session's start-up time, the part of set-up
    that runs once."""
    res = Result()

    def prepare():
        town = T.make_town(seed, side)
        golden = T.Golden(town)
        plan = request_plan(seed, town, golden, units(seconds, TOWN_CYCLE_S))
        return town, T.write_inputs(town, f"{work}/in"), golden, plan

    (town, paths, golden, (plan, untimed)), prep_s = repeated_setup(prepare)
    res.setup_s = session_s + prep_s

    server = TownServer(spark, work, town.bbox)
    t0 = time.perf_counter()
    res.attempted += 1
    if tracer is not None:
        tracer.request = "build"
    try:
        with _span(tracer, "build"):
            server.build(paths)
        res.batch_s = time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001 - a failed build is a failed operation
        res.fail("build", e)
        return res
    finally:
        if tracer is not None:
            tracer.request = None
    answers: list[tuple[Request, list]] = []
    timed = [(f"{r.kind}-{c}-{i}", r) for c, cycle in enumerate(plan) for i, r in enumerate(cycle)]
    t1 = time.perf_counter()
    for n, (tag, r) in enumerate(timed + [(f"untimed-{i}", r) for i, r in enumerate(untimed)]):
        if n == len(timed):
            res.record["serve_s"] = time.perf_counter() - t1
        res.attempted += 1
        if tracer is not None:
            tracer.request = tag
        t = time.perf_counter()
        try:
            with _span(tracer, r.kind):
                rows = server.serve(r)
        except Exception as e:  # noqa: BLE001
            res.fail(r.kind, e)
            continue
        finally:
            if tracer is not None:
                tracer.request = None
        if n < len(timed):
            res.latencies.setdefault(r.kind, []).append((time.perf_counter() - t) * 1000)
        answers.append((r, rows))

    res.record["gold_mb"] = (dir_size(server.gold)[1] + dir_size(server.lay)[1]) / 1e6
    for problem in check_build(golden, *built_tables(server)):
        res.fail("build", problem)
    for r, rows in answers:
        ok = check_path(golden, r, rows) if r.kind == "path" else check_g7(golden, r, rows)
        if not ok:
            res.fail(r.kind, f"wrong answer at ({r.lon:.6f}, {r.lat:.6f}) {r.category or ''}")
    res.record["requests"] = {k: len(v) for k, v in res.latencies.items()}
    res.record["empty_frac"] = {
        k: sum(not rows for r, rows in answers if r.kind == k) / max(1, sum(r.kind == k for r, _ in answers))
        for k in ("g7_scan", "g7_zorder", "path")
    }
    return res


def built_tables(server: TownServer):
    """(edge count, POI snap rows, reach rows) of a finished build."""
    pois = server.pois.select("poi_id", "lon", "lat", "node_idx").toPandas()
    reach = server.reach.select("node_idx", "category", "dist_m", "poi_id").toPandas()
    return server.edges.count(), pois, reach


def check_build(golden: T.Golden, n_edges: int, pois, reach) -> list[str]:
    """Problems found in the graph size, the POI snap and every reach row."""
    problems = []
    if n_edges != len(golden.gedges):
        problems.append(f"graph has {n_edges} edges, golden {len(golden.gedges)}")
    want = golden.snapped.set_index("poi_id")["node_idx"]
    if sorted(pois["poi_id"]) != sorted(want.index):
        return problems + ["classified POI set differs from the generated POIs"]
    for pid, lon, lat, node in pois.itertuples(index=False):
        got, g = (-1 if math.isnan(node) else int(node)), int(want[pid])
        if got != g and not (got >= 0 and g >= 0 and _snap_tie(golden, lon, lat, got, g)):
            problems.append(f"POI {pid} snapped to {got}, golden {g}")
    for cat in T.CATEGORIES:
        dist, poi, _ = golden.reach[cat]
        rows = reach[reach["category"] == cat]
        nodes = rows["node_idx"].to_numpy(int)
        if len(rows) != int(np.isfinite(dist).sum()) or not np.isfinite(dist[nodes]).all():
            problems.append(f"reach {cat}: {len(rows)} rows, golden {int(np.isfinite(dist).sum())}")
            continue
        d, p = rows["dist_m"].to_numpy(float), rows["poi_id"].to_numpy(int)
        bad = (np.abs(d - dist[nodes]) > T.DIST_TOL_M) | (p != poi[nodes])
        for j in np.flatnonzero(bad):
            if not golden.winner_ok(cat, int(nodes[j]), float(d[j]), int(p[j])):
                problems.append(f"reach {cat} node {nodes[j]}: ({d[j]}, {p[j]})")
    return problems


def _snap_tie(golden: T.Golden, lon: float, lat: float, got: int, want: int) -> bool:
    """Both nodes are equally near the POI within EPS (EPSG:3857 metric)."""
    from tests.geo_fixtures import EPS, mercator_xy

    px, py = mercator_xy(lon, lat)
    nx, ny = mercator_xy(golden.lon[[got, want]], golden.lat[[got, want]])
    d = np.hypot(nx - px, ny - py)
    return d[0] <= d[1] + EPS


def check_g7(golden: T.Golden, r: Request, rows: list[dict]) -> bool:
    node = golden.snap_point(r.lon, r.lat)
    if node is None:
        return not rows
    got = {row["category"]: row for row in rows}
    if len(got) != len(rows) or set(got) != golden.reached_categories(node):
        return False
    return all(golden.winner_ok(c, node, float(row["dist_m"]), int(row["poi_id"])) for c, row in got.items())


def check_path(golden: T.Golden, r: Request, rows: list[dict]) -> bool:
    """Starts at the snapped node, follows graph edges, ends at a seed of
    the category and costs the golden distance."""
    node = golden.snap_point(r.lon, r.lat)
    dist = golden.reach[r.category][0]
    if node is None or not np.isfinite(dist[node]):
        return not rows
    seq = [int(x["node_idx"]) for x in sorted(rows, key=lambda x: x["seq"])]
    if not seq or seq[0] != node:
        return False
    if any(b not in {v for v, _ in golden.adj[a]} for a, b in zip(seq, seq[1:])):
        return False
    seeds = {pid: n for n, pid in golden.seeds(r.category)}
    end_ok = seeds.get(int(rows[0]["poi_id"])) == seq[-1]
    return end_ok and abs(float(max(x["cum_m"] for x in rows)) - dist[node]) <= 0.05


# ---------------------------------------------------------------------------
# declared suite
# ---------------------------------------------------------------------------
def run_declared(spark, seed: int, seconds: float, work: str, session_s: float, tracer=None,
                 queries=S.QUERY_SET, scale: float = 1.0) -> Result:
    import fifteenmc_spark.operators  # noqa: F401  (registers every query module)
    from fifteenmc_spark.operators.relational import QUERIES

    res = Result()
    data = f"{work}/data"
    res.setup_s = session_s + repeated_setup(lambda: S.make_tables(seed, data, scale))[1]

    results: dict[str, tuple[list[str], list[tuple]]] = {}
    passes = units(seconds, SUITE_PASS_S)
    cold: dict[str, float] = {}
    t0 = time.perf_counter()
    for p in range(passes):
        for name in queries:
            res.attempted += 1
            fam = S.family(name)
            if tracer is not None:
                tracer.request = name
            t = time.perf_counter()
            try:
                with _span(tracer, f"operators.{fam}.build"):
                    df = QUERIES[name].build(spark, data)
                with _span(tracer, f"operators.{fam}.action"):
                    rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # noqa: BLE001
                res.fail(name, e)
                continue
            finally:
                if tracer is not None:
                    tracer.request = None
            ms = (time.perf_counter() - t) * 1000
            res.latencies.setdefault(name, []).append(ms)
            if not p:
                cold[name] = ms
            results[name] = (df.columns, rows)
    res.batch_s = (time.perf_counter() - t0) / passes
    res.record["cold_query_ms"] = cold

    oracle = S.Oracle(data)
    try:
        res.record["oracle_mismatch"] = []
        for name, (cols, rows) in results.items():
            if not oracle.check(QUERIES[name].oracle, cols, rows):
                res.record["oracle_mismatch"].append(name)
                res.fail(name, "result differs from the DuckDB twin")
    finally:
        oracle.close()
    res.record["passes"] = passes
    return res
