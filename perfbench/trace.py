"""Benchmark-side tracing: spans around the calls into each layer.

The package is not edited.  ``Tracer.install`` replaces a fixed list of
module attributes (the layers' public entry points, looked up at their
call sites) with wrappers that record a span while ``Tracer.active`` is
set, and ``Tracer.uninstall`` puts the originals back.  Spans carry the
op they belong to, their thread and their parent span on that thread;
they are kept in memory and written to a side file at the end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from typing import Any, Callable

# (module, attribute, span name).  Module attributes are what the callers
# resolve at call time: ``metadata.read_avro_file`` is the name metadata.py
# decodes manifests through, and the statistics refreshes are imported
# inside ``writer._maintain_statistics`` from their own modules.
WRAPPED = [
    ("daskberg_spark.iceberg.metadata", "read_avro_file", "avro.decode"),
    ("daskberg_spark.iceberg.metadata.IcebergTable", "__init__", "metadata.open"),
    ("daskberg_spark.iceberg.metadata.IcebergTable", "scan_all", "metadata.plan"),
    ("daskberg_spark.iceberg.metadata.IcebergTable", "plan_files", "metadata.plan"),
    ("daskberg_spark.iceberg.metadata.IcebergTable", "to_df", "scan.to_df"),
    ("daskberg_spark.iceberg.writer", "write_df", "writer.append"),
    ("daskberg_spark.iceberg.writer", "commit_spark_output", "writer.commit_meta"),
    ("daskberg_spark.iceberg.writer", "merge_rows_mor_spark", "writer.merge"),
    ("daskberg_spark.iceberg.writer", "delete_where_fast", "writer.delete"),
    ("daskberg_spark.iceberg.writer", "maintain", "writer.maintain"),
    ("daskberg_spark.iceberg.writer", "refresh_table_statistics", "stats.refresh"),
    ("daskberg_spark.iceberg.theta", "refresh_grouped_theta_statistics", "stats.refresh"),
    ("daskberg_spark.iceberg.quantiles", "refresh_quantile_statistics", "stats.refresh"),
    ("daskberg_spark.iceberg.quantiles", "refresh_grouped_quantile_statistics", "stats.refresh"),
    ("daskberg_spark.iceberg.onepass", "plan_shared_stats_scan", "stats.refresh"),
    ("pyspark.sql.classic.dataframe.DataFrame", "collect", "spark.exec"),
]


def _resolve(path: str) -> Any:
    import importlib

    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for p in parts[i:]:
            obj = getattr(obj, p)
        return obj
    raise ImportError(path)


class Tracer:
    """Span recorder.  One instance per traced run."""

    def __init__(self) -> None:
        self.spans: list[dict[str, Any]] = []
        self.active = False
        self.op: int | None = None
        self.last_df: Any = None  # the DataFrame an op collected
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[Any, str, Any]] = []

    # -- recording ------------------------------------------------------

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def call(self, name: str, fn: Callable, *args, **kwargs) -> Any:
        """Run ``fn`` inside a span ``name`` (plain call when inactive)."""
        if not self.active:
            return fn(*args, **kwargs)
        stack = self._stack()
        rec = {
            "op": self.op,
            "name": name,
            "thread": threading.get_ident(),
            "parent": stack[-1] if stack else None,
            "t0": time.perf_counter(),
            "t1": None,
        }
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            out = fn(*args, **kwargs)
        finally:
            stack.pop()
            rec["t1"] = time.perf_counter()
        self._annotate(name, rec, args)
        return out

    def _annotate(self, name: str, rec: dict[str, Any], args: tuple) -> None:
        """Counts read off a finished call, outside its span."""
        if name == "avro.decode":
            rec["arg"] = os.path.basename(str(args[0]))
        elif name == "scan.to_df":
            table = args[0]
            ls = table.last_scan
            rec["files_scanned"] = ls["files_scanned"]
            rec["files_live"] = ls["files_live"]
            rec["delete_files"] = sum(ls["delete_files"].values())
            rec["manifests"] = len(table.manifest_list)
        elif name == "spark.exec":
            self.last_df = args[0]

    # -- patching -------------------------------------------------------

    def install(self, spark: Any) -> None:
        for owner_path, attr, name in WRAPPED:
            owner = _resolve(owner_path)
            orig = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._patched.append((owner, attr, orig))
            setattr(owner, attr, self._wrapper(orig, name))
        # py4j: every Python->JVM round trip goes through the gateway
        # client's send_command; the instance attribute shadows the method
        client = spark.sparkContext._gateway._gateway_client
        orig_send = client.send_command
        self._patched.append((client, "send_command", None))
        client.send_command = self._wrapper(orig_send, "py4j")

    def _wrapper(self, fn: Callable, name: str) -> Callable:
        tracer = self

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            return tracer.call(name, fn, *args, **kwargs)

        return wrapped

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            if orig is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")

    # -- analysis -------------------------------------------------------

    def op_spans(self) -> dict[int, list[dict[str, Any]]]:
        out: dict[int, list[dict[str, Any]]] = {}
        for s in self.spans:
            if s["op"] is not None and s["t1"] is not None:
                out.setdefault(s["op"], []).append(s)
        return out


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for a, b in sorted(intervals):
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    return [(a, b) for a, b in merged]


def covered(intervals: list[tuple[float, float]]) -> float:
    return sum(b - a for a, b in union(intervals))


def minus(outer: list[tuple[float, float]], inner: list[tuple[float, float]]) -> float:
    """Time covered by ``outer`` and not by ``inner``."""
    outer_u = union(outer)
    inner_u = union(inner)
    both = 0.0
    for a, b in outer_u:
        for c, d in inner_u:
            lo, hi = max(a, c), min(b, d)
            if hi > lo:
                both += hi - lo
    return covered(outer_u) - both


def iv(spans: list[dict[str, Any]], *names: str) -> list[tuple[float, float]]:
    return [(s["t0"], s["t1"]) for s in spans if s["name"] in names]


def catalyst_phases(df: Any) -> tuple[float, float]:
    """(optimization, planning) seconds from the query's phase tracker."""
    phases = df._jdf.queryExecution().tracker().phases()

    def dur(name: str) -> float:
        p = phases.get(name)
        return p.get().durationMs() / 1000.0 if p.isDefined() else 0.0

    return dur("optimization"), dur("planning")


def job_counts(sc: Any, group: str) -> tuple[int, int]:
    """(jobs, tasks) that ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    tasks = 0
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            st = tracker.getStageInfo(sid)
            if st is not None:
                tasks += st.numTasks
    return len(jobs), tasks
