"""Self-test of the benchmark on a tiny seed.

    python3 perfbench/selftest.py

Checks that the input generators are deterministic per seed, that the
correctness checks reject a perturbed reach row, snap, G7 answer and path,
and that a traced run of a k=20 town and of three declared queries emits
every metric BENCHMARK.json names.  Takes about a minute.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import metrics, run  # noqa: E402
from perfbench import suite as S  # noqa: E402
from perfbench import town as T  # noqa: E402
from perfbench import workloads as W  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

TINY_SIDE = 20
TINY_QUERIES = ("d6_groupby_agg", "v19_tivf_topk", "x9_span_dedup")


def check_generators(work: str) -> None:
    a, b, c = T.make_town(7, TINY_SIDE), T.make_town(7, TINY_SIDE), T.make_town(8, TINY_SIDE)
    assert a.nodes.equals(b.nodes) and a.edges.equals(b.edges) and a.pois.equals(b.pois)
    assert a.elements == b.elements
    assert not a.nodes.equals(c.nodes), "another seed must give another town"
    import pyarrow.parquet as pq

    S.make_tables(7, f"{work}/t1", 0.1)
    S.make_tables(7, f"{work}/t2", 0.1)
    for t in S.TABLES:
        assert pq.read_table(f"{work}/t1/{t}.parquet").equals(pq.read_table(f"{work}/t2/{t}.parquet")), t
    g = T.Golden(a)
    assert W.request_plan(7, a, g, 2) == W.request_plan(7, a, g, 2)


def check_perturbations(spark, work: str) -> None:
    """Build a tiny town, confirm the checks pass, then break one value at
    a time and confirm each check notices."""
    town = T.make_town(3, TINY_SIDE)
    golden = T.Golden(town)
    server = W.TownServer(spark, work, town.bbox)
    server.build(T.write_inputs(town, f"{work}/in"))
    built = W.built_tables(server)
    assert W.check_build(golden, *built) == [], W.check_build(golden, *built)

    n_edges, pois, reach = built
    bad = reach.copy()
    bad.loc[bad.index[0], "dist_m"] += 5.0
    assert W.check_build(golden, n_edges, pois, bad), "a moved reach distance must fail"
    bad = reach.drop(reach.index[0])
    assert W.check_build(golden, n_edges, pois, bad), "a missing reach row must fail"
    bad = pois.copy()
    row = bad.index[bad["node_idx"].notna()][0]
    bad.loc[row, "node_idx"] = (int(bad.loc[row, "node_idx"]) + 1) % golden.n
    assert W.check_build(golden, n_edges, bad, reach), "a wrong snap must fail"
    assert W.check_build(golden, n_edges + 1, pois, reach), "a wrong graph size must fail"

    cycles, untimed = W.request_plan(3, town, golden, 1)
    plan = [r for cycle in cycles for r in cycle] + untimed
    g7 = next(r for r in plan if r.kind == "g7_scan" and golden.snap_point(r.lon, r.lat) is not None)
    rows = server.serve(g7)
    assert rows and W.check_g7(golden, g7, rows)
    assert not W.check_g7(golden, g7, rows[1:] or [{**rows[0], "category": "none"}])
    assert not W.check_g7(golden, g7, [{**rows[0], "dist_m": rows[0]["dist_m"] + 5.0}, *rows[1:]])
    path = next(r for r in plan if r.kind == "path" and golden.chain_len(r.category, golden.snap_point(r.lon, r.lat)))
    rows = server.serve(path)
    assert W.check_path(golden, path, rows)
    assert not W.check_path(golden, path, rows[:-1]), "a truncated path must fail"
    assert not W.check_path(golden, path, [{**x, "cum_m": x["cum_m"] + 3.0} for x in rows])
    hop = [dict(x) for x in rows]
    hop[0]["node_idx"] = (hop[0]["node_idx"] + 2) % golden.n
    assert not W.check_path(golden, path, hop), "a path off the graph must fail"


def check_metrics(spark, work: str) -> None:
    """Traced tiny runs of both workloads emit every declared metric."""
    declared = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert declared == metrics.benchmark_json(), "BENCHMARK.json is out of date with metrics.py"
    tracer = Tracer(spark)
    tracer.install()
    try:
        town = W.run_town(spark, 5, 0, f"{work}/town", 0.0, tracer, side=TINY_SIDE)
        suite = W.run_declared(spark, 5, 0, f"{work}/suite", 0.0, tracer,
                               queries=TINY_QUERIES, scale=0.1)
    finally:
        tracer.resolve_jobs()
        tracer.uninstall()
    for res in (town, suite):
        assert res.failed == 0, res.record.get("failures")
        e2e = metrics.end_to_end(res)
        assert [m["name"] for m in declared["end_to_end"]] == list(e2e)
        assert all(v["value"] > 0 for v in e2e.values()), e2e
    layers = metrics.per_layer(tracer, town)
    assert [m["name"] for m in declared["per_layer"]] == list(layers)
    for name in ("graph_build.edges", "reach.rows", "reach.jobs", "io.bytes", "layout.files",
                 "query._backtrack_chain.jobs", "layout.read_zorder_bbox.cells",
                 "operators.x.build_s", "session_index.session_cached.misses"):
        assert layers[name]["value"] > 0, name


def main() -> int:
    os.makedirs(os.path.join(ROOT, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".perfbench_work"))
    try:
        check_generators(work)
        print("selftest: generators deterministic", flush=True)
        spark = run.start_spark(work)
        try:
            check_perturbations(spark, f"{work}/perturb")
            print("selftest: perturbed outputs fail their checks", flush=True)
            check_metrics(spark, work)
            print("selftest: every declared metric is emitted", flush=True)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("selftest: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
