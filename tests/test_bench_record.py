"""bench.py recording contract: the stdout line must survive the driver's
2000-char tail buffer (BENCH_r05/r06 recorded "parsed": null because the
full per-query map outgrew it), and the full record must keep a bounded
history across runs."""

from __future__ import annotations

import importlib.util
import json
import os
import sys


def _bench():
    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    mod = importlib.util.module_from_spec(spec)
    sys.modules.setdefault("bench", mod)
    spec.loader.exec_module(mod)
    return mod


def test_compact_line_fits_tail_buffer():
    bench = _bench()
    # adversarial sizing: 3x today's registry, long names, full duckdb map
    queries = {f"very_long_query_name_{i:03d}_calibration": round(0.1 + i * 0.017, 4) for i in range(250)}
    out = {
        "metric": "declared_query_suite_runtime",
        "value": 123.4567,
        "unit": "sec",
        "sf": "0.1",
        "cpus": 32,
        "queries": queries,
        "duckdb_total": 99.9999,
        "duckdb_queries": {k: round(v / 2, 4) for k, v in queries.items()},
        "spark_vs_duckdb_ratio": 1.2345,
        "bench_errors": {f"duckdb:q{i}": "SomeError: boom" for i in range(10)},
        "bench_partial": True,
    }
    line = json.dumps(bench._compact_line(out))
    assert len(line) < 1800, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == 123.4567 and parsed["spark_vs_duckdb_ratio"] == 1.2345
    assert parsed["cpus"] == 32  # the compact line names the core count that ran
    assert len(parsed["slowest"]) == 5 and len(parsed["worst_ratios"]) == 5


def test_full_record_keeps_bounded_history(tmp_path):
    bench = _bench()
    path = str(tmp_path / "BENCH_full.json")
    for i in range(25):
        out = {
            "metric": "m",
            "value": float(i),
            "unit": "sec",
            "sf": "0.1",
            "queries": {"q": float(i)},
            "duckdb_total": 1.0,
            "spark_vs_duckdb_ratio": float(i),
        }
        bench._write_full_record(out, path=path)
    rec = json.load(open(path))
    assert rec["value"] == 24.0  # latest run is the record
    assert len(rec["history"]) == 20  # bounded
    assert rec["history"][-1]["value"] == 23.0  # previous run rotated in


def test_full_record_is_multi_run_safe(tmp_path):
    # r15 verdict item 5: the driver's 8-core scaling run clobbered the
    # 32-core per-query map.  Records are now keyed by (sf, cpus): a
    # scaling run updates its own slot and leaves the main run's full
    # per-query record readable.
    bench = _bench()
    path = str(tmp_path / "BENCH_full.json")
    run32 = {
        "metric": "m",
        "value": 100.0,
        "unit": "sec",
        "sf": "0.1",
        "cpus": 32,
        "queries": {"q_main": 100.0},
    }
    run8 = {
        "metric": "m",
        "value": 80.0,
        "unit": "sec",
        "sf": "0.1",
        "cpus": 8,
        "queries": {"q_main": 80.0},
    }
    bench._write_full_record(run32, path=path)
    bench._write_full_record(run8, path=path)
    rec = json.load(open(path))
    # top level stays the latest run (back-compat with prior readers)
    assert rec["value"] == 80.0 and rec["cpus"] == 8
    # ... but the 32-core per-query map survives under its own key
    assert rec["records"]["sf0.1_c32"]["queries"] == {"q_main": 100.0}
    assert rec["records"]["sf0.1_c8"]["queries"] == {"q_main": 80.0}
    # headline history entries are cpus-tagged
    assert rec["history"][-1]["cpus"] == 32
