"""Benchmark entry point.

    python3 perfbench/run.py --workload town --seed 1 --seconds 24 --trace 0

Runs one workload in a fresh Spark session on ``local[cpus]`` from the
checkout this file lives in (any working directory works), checks every
output, and prints the full record as the next-to-last stdout line and
the contract line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones, from spans recorded around the calls into each layer
(see trace.py), and the span dump goes to ``.perfbench_out/``.  Nothing
is read or written outside the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("town", "declared_suite")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for k in kids.get(todo.pop(), ()):
            out.append(k)
            todo.append(k)
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.page = os.sysconf("SC_PAGE_SIZE")
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.2):
            total = 0
            for p in descendants(os.getpid()):
                try:
                    with open(f"/proc/{p}/statm") as f:
                        total += int(f.read().split()[1]) * self.page
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak / 1e6


def start_spark(work: str):
    """The package's session factory, with every scratch directory inside
    the checkout and the checkout on the Python workers' import path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    from fifteenmc_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": tmp,
            # no hsperfdata file in the system temp directory
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.retainedJobs": "100000",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait for every child to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 60
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def host_facts(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": os.cpu_count(),
        "mem_gb": round(mem_kb / 1e6, 1),
        "spark_master": spark.sparkContext.master,
        "spark_version": spark.version,
        "python": platform.python_version(),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=24.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import fifteenmc_spark  # noqa: F401
        import tests.geo_fixtures  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import metrics, workloads
    from perfbench.trace import Tracer

    out_dir = os.path.join(ROOT, ".perfbench_out")
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(out_dir, exist_ok=True)
    sampler = RssSampler()
    sampler.start()
    spark = start_spark(work)
    session_s = time.perf_counter() - T_START
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        if args.workload == "town":
            res = workloads.run_town(spark, args.seed, args.seconds, work, session_s, tracer)
        else:
            res = workloads.run_declared(spark, args.seed, args.seconds, work, session_s, tracer)
        facts = host_facts(spark)
        if tracer is not None:
            tracer.resolve_jobs()
            tracer.uninstall()
    finally:
        peak_mb = sampler.stop()
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    record = metrics.record(args.workload, res, peak_mb, facts)
    base = os.path.join(out_dir, f"{args.workload}-seed{args.seed}")
    if tracer is None:
        out = metrics.end_to_end(res)
    else:
        out = metrics.per_layer(tracer, res)
        record["tracing_overhead"] = metrics.overhead(record, f"{base}-trace0.json")
        tracer.dump(f"{base}-spans.json", {"record": record, "per_layer": out})
    with open(f"{base}-trace{args.trace}.json", "w") as f:
        json.dump(record, f)
    print(json.dumps(record))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
