"""Metric names, units and how each is computed from a run.

End-to-end metrics are the same three on every workload: set-up time, the
batch (town: cold gold build with layouts; declared suite: the mean pass
of the query set, the first one cold) and the request latency (geometric
mean over request kinds of each kind's mean).  The per-kind numbers the workload reports by
name (``g7_scan_mean_ms``, ``suite_s``, ``peak_rss_mb``, ...) are in the
record.

Per-layer metrics come from the traced run; each one is emitted on every
workload and reads 0 where the workload does not enter that layer.
"""

from __future__ import annotations

import json
import os
import statistics

from .suite import QUERY_SET

FAMILIES = ("d", "g", "m", "p", "t", "v", "x")
REQUEST_KINDS = ("g7_scan", "g7_zorder", "path")

END_TO_END = (
    # name, unit, better, bound
    ("setup_s", "s", "lower", 0.25),
    ("batch_s", "s", "lower", 0.24),
    ("request_ms", "ms", "lower", 0.24),
)


def _get(t: dict, span: str, key: str = "s") -> float:
    return t.get(span, {}).get(key, 0)


def _per_call(t: dict, span: str, key: str = "s", scale: float = 1.0) -> float:
    calls = _get(t, span, "calls")
    return _get(t, span, key) * scale / calls if calls else 0.0


def _frac(t: dict, span: str, num: str, den: str) -> float:
    d = _get(t, span, den)
    return _get(t, span, num) / d if d else 0.0


def _layer_defs():
    """(name, unit, better, fn(tables, result)) for every per-layer metric."""
    b = "build"
    defs = [
        ("graph_build.build_graph.s", "s", "lower", lambda t, r: _get(t[b], "graph_build.build_graph")),
        ("graph_build.edges", "count", "higher", lambda t, r: _get(t[b], "graph_build.build_graph", "rows_1")),
        ("graph_build.clean_walkable_edges.kept_frac", "ratio", "higher",
         lambda t, r: _frac(t[b], "graph_build.clean_walkable_edges", "rows", "rows_in")),
        ("poi.classify_pois.s", "s", "lower", lambda t, r: _get(t[b], "poi.classify_pois")),
        ("poi.rows", "count", "higher", lambda t, r: _get(t[b], "poi.classify_pois", "rows")),
        ("snap.snap_points_to_nodes.s", "s", "lower", lambda t, r: _get(t[b], "snap.snap_points_to_nodes")),
        ("snap.snapped_frac", "ratio", "higher",
         lambda t, r: _frac(t[b], "snap.snap_points_to_nodes", "snapped", "rows")),
        ("grid.generate_tiles.s", "s", "lower", lambda t, r: _get(t[b], "grid.generate_tiles")),
        ("reach.reach_summary.s", "s", "lower", lambda t, r: _get(t[b], "reach.reach_summary")),
        ("reach.compute_reach.s", "s", "lower", lambda t, r: _get(t[b], "reach.compute_reach")),
        ("reach.rows", "count", "higher", lambda t, r: _get(t[b], "reach.compute_reach", "rows")),
        ("reach.jobs", "count", "lower", lambda t, r: _get(t[b], "reach.compute_reach", "jobs")),
        ("reach.local_dispatches", "count", "lower",
         lambda t, r: _get(t[b], "reach.shortest_paths_bounded_local", "calls")),
        ("io.write_parquet.s", "s", "lower", lambda t, r: _get(t[b], "io.write_parquet")),
        ("io.bytes", "bytes", "lower", lambda t, r: _get(t[b], "io.write_parquet", "bytes")),
        ("io.files", "count", "lower", lambda t, r: _get(t[b], "io.write_parquet", "files")),
        ("layout.write_zorder_layout.s", "s", "lower", lambda t, r: _get(t[b], "layout.write_zorder_layout")),
        ("layout.files", "count", "lower", lambda t, r: _get(t[b], "layout.write_zorder_layout", "files")),
    ]
    s = "serve"
    for span in ("reach.shortest_paths_bounded", "query._backtrack_chain"):
        defs += [
            (f"{span}.ms", "ms", "lower", lambda t, r, span=span: _per_call(t[s], span, "s", 1000)),
            (f"{span}.jobs", "count", "lower", lambda t, r, span=span: _per_call(t[s], span, "jobs")),
        ]
    for span in ("snap.snap_single_point", "snap.snap_single_point_zordered", "snap.read_zordered_disc"):
        defs.append((f"{span}.ms", "ms", "lower", lambda t, r, span=span: _per_call(t[s], span, "s", 1000)))
    defs.append(("layout.read_zorder_bbox.cells", "count", "lower",
                 lambda t, r: _per_call(t[s], "layout.zprefixes_for_bbox", "cells")))
    for kind in REQUEST_KINDS:
        defs.append((f"{kind}.jobs", "count", "lower", lambda t, r, kind=kind: _per_call(t[s], kind, "jobs")))
    defs += [
        ("g7.empty_frac", "ratio", "lower",
         lambda t, r: statistics.mean([r.record.get("empty_frac", {}).get(k, 0) for k in ("g7_scan", "g7_zorder")])),
        ("path.empty_frac", "ratio", "lower", lambda t, r: r.record.get("empty_frac", {}).get("path", 0)),
    ]
    q = "suite"
    per_pass = lambda r: max(1, r.record.get("passes", 1))  # noqa: E731
    for fam in FAMILIES:
        defs += [
            (f"operators.{fam}.build_s", "s", "lower",
             lambda t, r, fam=fam: _get(t[q], f"operators.{fam}.build") / per_pass(r)),
            (f"operators.{fam}.action_s", "s", "lower",
             lambda t, r, fam=fam: _get(t[q], f"operators.{fam}.action") / per_pass(r)),
            (f"operators.{fam}.build_jobs", "count", "lower",
             lambda t, r, fam=fam: _get(t[q], f"operators.{fam}.build", "jobs") / per_pass(r)),
        ]
    defs += [
        ("io.read_table.calls", "count", "lower", lambda t, r: _get(t[q], "io.read_table", "calls") / per_pass(r)),
        ("io.read_table.s", "s", "lower", lambda t, r: _get(t[q], "io.read_table") / per_pass(r)),
        ("session_index.session_cached.hits", "count", "higher",
         lambda t, r: _get(t["all"], "session_index.session_cached", "hits")),
        ("session_index.session_cached.misses", "count", "lower",
         lambda t, r: _get(t["all"], "session_index.session_cached", "misses")),
        ("session_index.session_cached.build_s", "s", "lower",
         lambda t, r: _get(t["all"], "session_index.session_cached", "build_s")),
    ]
    return defs


PER_LAYER = _layer_defs()


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def end_to_end(res) -> dict:
    values = {"setup_s": res.setup_s, "batch_s": res.batch_s, "request_ms": res.request_ms()}
    return {name: _metric(values[name], unit) for name, unit, _, _ in END_TO_END}


def per_layer(tracer, res) -> dict:
    def request_kind(s):
        return s.request.split("-", 1)[0] if s.request else None

    tables = {
        "build": tracer.table(lambda s: s.request == "build"),
        "serve": tracer.table(lambda s: request_kind(s) in REQUEST_KINDS),
        "suite": tracer.table(lambda s: s.request in QUERY_SET),
        "all": tracer.table(),
    }
    return {name: _metric(float(fn(tables, res)), unit) for name, unit, _, fn in PER_LAYER}


def _kind(values: list[float]) -> dict:
    return {**_metric(statistics.fmean(values) if values else None, "ms"),
            "p50": statistics.median(values) if values else None, "n": len(values)}


def record(workload: str, res, peak_mb: float, facts: dict) -> dict:
    """Every metric the workload reports by name, with units and sample
    counts, plus the host facts of the run."""
    m: dict[str, dict] = {
        "setup_s": _metric(res.setup_s, "s"),
        "peak_rss_mb": _metric(peak_mb, "MB"),
        "failed_frac": _metric(res.failed / max(1, res.attempted), "ratio"),
    }
    if workload == "town":
        m["build_s"] = _metric(res.batch_s, "s")
        m["gold_mb"] = _metric(res.record.get("gold_mb"), "MB")
        for kind in REQUEST_KINDS:
            m[f"{kind}_mean_ms"] = _kind(res.latencies.get(kind, []))
    else:
        m["suite_s"] = _metric(res.batch_s, "s")
        m["query_ms"] = {q: _kind(v) for q, v in res.latencies.items()}
    extra = {k: v for k, v in res.record.items() if k not in ("gold_mb",)}
    return {"workload": workload, "host": facts, "metrics": m, **extra}


def overhead(traced: dict, untraced_path: str) -> dict | str:
    """traced / untraced - 1 for each shared timing of the same seed."""
    if not os.path.exists(untraced_path):
        return "run --trace 0 with the same seed first"
    with open(untraced_path) as f:
        base = json.load(f)["metrics"]
    out = {}
    for name, v in traced["metrics"].items():
        b = base.get(name, {})
        if isinstance(v.get("value"), float) and isinstance(b.get("value"), float) and b["value"]:
            out[name] = v["value"] / b["value"] - 1
    return out


def benchmark_json() -> dict:
    """The BENCHMARK.json this module defines."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": 24,
        "workloads": [
            {"name": "town", "why": "gold build of a seeded town, then G7 and path requests: graph, POI, snap, "
                                    "reach, layout, io and query layers"},
            {"name": "declared_suite", "why": "7 declared queries, one per family, over seeded tables: the "
                                              "operators, session_index and io.read_table layers the town never enters"},
        ],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }
