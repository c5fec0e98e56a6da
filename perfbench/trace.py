"""Span tracing from outside the program.

``Tracer.install`` wraps the module-level functions of the traced layers
(``fifteenmc_spark.plans.*``, ``fifteenmc_spark.io``,
``fifteenmc_spark.operators.session_index``) and pyspark's DataFrame
actions, and rebinds every ``from ... import`` copy of a wrapped function
inside the package, so that each call into a layer opens a span.  No
program file changes.

A span records name, start, end, parent, the request id it ran under and
optional counters.  Every action span runs its Spark jobs under its own
job group, so the jobs a span launched are read back from the status
tracker when the run ends.  Spans stay in memory until ``table`` or
``dump``.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import inspect
import itertools
import json
import os
import sys
import time
from dataclasses import dataclass, field

LAYER_MODULES = (
    "fifteenmc_spark.plans.grid",
    "fifteenmc_spark.plans.graph_build",
    "fifteenmc_spark.plans.poi",
    "fifteenmc_spark.plans.snap",
    "fifteenmc_spark.plans.reach",
    "fifteenmc_spark.plans.layout",
    "fifteenmc_spark.plans.query",
    "fifteenmc_spark.plans.pipeline",
    "fifteenmc_spark.io",
    "fifteenmc_spark.operators.session_index",
)

# build stages whose lazy output is forced inside their own span, so the
# work they define is timed there and not in whichever action runs next
FORCED = {
    "grid.generate_tiles",
    "graph_build.clean_walkable_edges",
    "graph_build.build_graph",
    "poi.classify_pois",
    "snap.snap_points_to_nodes",
    "reach.compute_reach",
    "reach.reach_summary",
}

_DF_ACTIONS = ("collect", "count", "first", "head", "take", "isEmpty", "toPandas", "localCheckpoint",
               "checkpoint", "toLocalIterator", "foreach", "foreachPartition")
_WRITER_ACTIONS = ("save", "parquet", "csv", "json", "saveAsTable", "insertInto")


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    request: str | None
    start: float
    end: float = 0.0
    action: bool = False
    counters: dict = field(default_factory=dict)


def _layer_name(module: str) -> str:
    return module.removeprefix("fifteenmc_spark.").removeprefix("plans.").removeprefix("operators.")


def dir_size(path: str) -> tuple[int, int]:
    """(files, bytes) of the data files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if not n.startswith((".", "_")):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count()
        self._undo: list[tuple[object, str, object]] = []
        self.request: str | None = None
        self.t0 = time.perf_counter()

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, action: bool = False, **counters):
        s = self._open(name, action, counters)
        try:
            yield s
        finally:
            self._close(s)

    def _open(self, name: str, action: bool, counters: dict) -> Span:
        parent = self._stack[-1] if self._stack else None
        s = Span(next(self._ids), name, parent.sid if parent else None, self.request,
                 time.perf_counter() - self.t0, action=action, counters=dict(counters))
        self.spans.append(s)
        self._stack.append(s)
        if action:
            self.spark.sparkContext.setJobGroup(self._group(s), name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.perf_counter() - self.t0
        self._stack.pop()
        if s.action:
            self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def _group(self, s: Span) -> str:
        return f"perfbench-{id(self)}-{s.sid}"

    def in_action(self) -> bool:
        return any(s.action for s in self._stack)

    # -- install -------------------------------------------------------
    def install(self) -> None:
        originals: dict[int, object] = {}
        for modname in LAYER_MODULES:
            mod = importlib.import_module(modname)
            layer = _layer_name(modname)
            for attr, fn in list(vars(mod).items()):
                if inspect.isfunction(fn) and fn.__module__ == modname:
                    w = self._wrap_layer(f"{layer}.{attr}", fn)
                    originals[id(fn)] = w
                    self._set(mod, attr, w)
        # rebind `from .x import f` copies held by other package modules
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("fifteenmc_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and inspect.isfunction(val):
                    self._set(mod, attr, originals[id(val)])
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        for attr in _DF_ACTIONS:
            self._set(DataFrame, attr, self._wrap_action(f"df.{attr}", getattr(DataFrame, attr)))
        for attr in _WRITER_ACTIONS:
            self._set(DataFrameWriter, attr, self._wrap_action(f"write.{attr}", getattr(DataFrameWriter, attr)))
        self._set(DataFrameReader, "parquet", self._wrap_action("read.parquet", DataFrameReader.parquet))

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            setattr(owner, attr, old)
        self._undo.clear()

    def _set(self, owner, attr: str, new) -> None:
        self._undo.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def _wrap_action(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            if tracer.in_action():  # first() -> head() -> take() -> collect(): one span
                return fn(*a, **kw)
            with tracer.span(name, action=True):
                return fn(*a, **kw)

        return wrapper

    def _wrap_layer(self, name: str, fn):
        tracer = self
        hook = _HOOKS.get(name)
        force = name in FORCED

        @functools.wraps(fn)
        def wrapper(*a, **kw):
            with tracer.span(name) as s:
                if hook is not None:
                    a, kw = hook.before(s, a, kw)
                out = fn(*a, **kw)
                if force:
                    out = _force(s, out)
                if hook is not None:
                    hook.after(s, a, kw, out)
                return out

        return wrapper

    # -- results -------------------------------------------------------
    def resolve_jobs(self) -> None:
        """Read each action span's job count from the status tracker."""
        st = self.spark.sparkContext.statusTracker()
        for s in self.spans:
            if s.action:
                s.counters["jobs"] = len(st.getJobIdsForGroup(self._group(s)))

    def table(self, keep=lambda s: True) -> dict[str, dict]:
        """Per span name, over the spans ``keep`` selects: calls, total
        (inclusive) s, self s, s in child action spans, jobs launched in
        the subtree, summed counters."""
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        jobs_memo: dict[int, int] = {}

        def jobs(s: Span) -> int:
            if s.sid not in jobs_memo:
                jobs_memo[s.sid] = s.counters.get("jobs", 0) + sum(jobs(c) for c in children.get(s.sid, ()))
            return jobs_memo[s.sid]

        out: dict[str, dict] = {}
        for s in filter(keep, self.spans):
            kids = children.get(s.sid, ())
            dur = s.end - s.start
            row = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0, "action_child_s": 0.0, "jobs": 0})
            row["calls"] += 1
            row["s"] += dur
            row["self_s"] += dur - sum(c.end - c.start for c in kids)
            row["action_child_s"] += sum(c.end - c.start for c in kids if c.action)
            row["jobs"] += jobs(s)
            for k, v in s.counters.items():
                if k != "jobs":
                    row[k] = row.get(k, 0) + v
        return out

    def dump(self, path: str, extra: dict) -> None:
        spans = [
            {"id": s.sid, "name": s.name, "start": round(s.start, 6), "end": round(s.end, 6),
             "parent": s.parent, "request": s.request, **s.counters}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({**extra, "layers": self.table(), "spans": spans}, f)


def _force(s: Span, out):
    """Cache and count every DataFrame a build stage returns; a tuple's
    i-th frame counts as ``rows_<i>``."""
    if isinstance(out, tuple):
        for i, df in enumerate(out):
            s.counters[f"rows_{i}"] = df.cache().count()
        return out
    s.counters["rows"] = out.cache().count()
    return out


# -- per-function counters -----------------------------------------------
class _Hook:
    def before(self, s: Span, a: tuple, kw: dict) -> tuple[tuple, dict]:
        return a, kw

    def after(self, s: Span, a: tuple, kw: dict, out) -> None:
        pass


class _KeptFrac(_Hook):
    """Rows in, for the kept fraction of the walkable filter."""

    def before(self, s, a, kw):
        s.counters["rows_in"] = a[0].count()
        return a, kw


class _Snapped(_Hook):
    def after(self, s, a, kw, out):
        s.counters["snapped"] = out.where("node_idx IS NOT NULL").count()


class _WriteSize(_Hook):
    def after(self, s, a, kw, out):
        files, size = dir_size(a[1] if len(a) > 1 else kw.get("path") or kw["out_dir"])
        s.counters["files"] = files
        s.counters["bytes"] = size


class _Cells(_Hook):
    def after(self, s, a, kw, out):
        s.counters["cells"] = len(out)


class _SessionCached(_Hook):
    """A miss is a call that runs ``build``; its time is the build time,
    counted only for the outermost build when one feed's build reads
    another feed."""

    def __init__(self):
        self.building = 0

    def before(self, s, a, kw):
        build = a[3] if len(a) > 3 else kw["build"]
        s.counters.update(hits=1, misses=0, build_s=0.0)

        def timed_build():
            t = time.perf_counter()
            self.building += 1
            try:
                return build()
            finally:
                self.building -= 1
                elapsed = 0.0 if self.building else time.perf_counter() - t
                s.counters.update(hits=0, misses=1, build_s=elapsed)

        if len(a) > 3:
            return (*a[:3], timed_build, *a[4:]), kw
        return a, {**kw, "build": timed_build}


_HOOKS = {
    "graph_build.clean_walkable_edges": _KeptFrac(),
    "snap.snap_points_to_nodes": _Snapped(),
    "io.write_parquet": _WriteSize(),
    "layout.write_zorder_layout": _WriteSize(),
    "layout.zprefixes_for_bbox": _Cells(),
    "session_index.session_cached": _SessionCached(),
}
