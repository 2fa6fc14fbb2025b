"""Benchmark entry point.

    python3 perfbench/run.py --workload plan_point --seed 1 --seconds 10 --trace 0

Runs from the repository root.  One process runs one workload: start the
Spark session, build the workload's tables from the seed (SETUP_REPEATS
times; the median build counts), warm up with a fixed number of the
workload's own ops, then run ops in a closed loop (one client thread) for
``--seconds``, checking every answer.  The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1`` (a separate run whose ops alternate traced and untraced).

Everything the run writes lives under ``.perfbench_work/`` (removed at
exit) and ``.perfbench_out/`` (trace spans and the ingest table-size
trajectory) in the working directory.
"""

from __future__ import annotations

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from typing import Any  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

SETUP_REPEATS = 3
DEADLINE_S = 170  # the run must end within 180 s

# name -> unit; the order and units match BENCHMARK.json
END_TO_END = {
    "setup_s": "s",
    "driver_peak_rss_mb": "MB",
    "query_p50_s": "s",
    "queries_per_s": "1/s",
    "write_amp": "ratio",
    "space_amp": "ratio",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.datagen_s": "s",
    "setup.build_s": "s",
    "setup.warmup_s": "s",
    "setup.warmup_ops": "count",
    "metadata.open_s": "s",
    "metadata.plan_s": "s",
    "metadata.manifests_read": "count",
    "metadata.manifest_keep_frac": "ratio",
    "metadata.file_keep_frac": "ratio",
    "avro.decode_s": "s",
    "avro.manifests_decoded": "count",
    "py4j.calls": "count",
    "py4j.s": "s",
    "scan.to_df_s": "s",
    "scan.delete_files_applied": "count",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "catalyst.optimize_s": "s",
    "catalyst.planning_s": "s",
    "writer.append_s": "s",
    "writer.commit_meta_s": "s",
    "writer.merge_s": "s",
    "writer.delete_s": "s",
    "writer.maintain_s": "s",
    "writer.files_written": "count",
    "writer.bytes_written": "bytes",
    "writer.metadata_json_bytes": "bytes",
    "stats.refresh_s": "s",
    "trace.overhead_frac": "ratio",
}


class Deadline(BaseException):
    """Raised by SIGALRM; a BaseException so that no op's error handling
    can swallow it."""


def med(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Recorder:
    """Runs ops, times them, checks them; one per run."""

    def __init__(self, tracer=None, sc=None) -> None:
        self.latency: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.tracer = tracer
        self.sc = sc
        self.n = 0
        self.kind_n: dict[str, int] = {}
        self.cycle = 0  # timed cycles completed
        self.traced_query: list[float] = []
        self.untraced_query: list[float] = []
        self.extra: dict[int, dict[str, Any]] = {}

    def run(self, kind: str, fn, expected: Any, timed: bool = True) -> None:
        # alternate traced and untraced ops within each op kind, flipping
        # the phase every cycle so that the same position in a cycle is not
        # always traced
        k = self.kind_n.get(kind, 0)
        traced = self.tracer is not None and timed and (k + self.cycle) % 2 == 0
        if timed:
            self.kind_n[kind] = k + 1
        op_id = self.n
        self.n += 1
        if traced:
            self.sc.setJobGroup(f"op{op_id}", kind)
            self.tracer.op = op_id
            self.tracer.active = True
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            got = fn()
        except Exception:
            dt = time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            ok = False
        else:
            dt = time.perf_counter() - t0
            # writes expect None: success is the absence of an exception
            ok = expected is None or got == expected
            if not ok:
                print(f"WRONG {kind}: got {got!r} expected {expected!r}", file=sys.stderr)
        if traced:
            self.tracer.active = False
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self._after_traced(op_id, kind)
        if not ok:
            self.failed += 1
        if timed:
            self.latency.setdefault(kind, []).append(dt)
            if self.tracer is not None and kind == "query":
                (self.traced_query if traced else self.untraced_query).append(dt)

    def _after_traced(self, op_id: int, kind: str) -> None:
        from perfbench import trace as T

        jobs, tasks = T.job_counts(self.sc, f"op{op_id}")
        ex = {"kind": kind, "jobs": jobs, "tasks": tasks}
        df = self.tracer.last_df
        if kind == "query" and df is not None:
            ex["optimize_s"], ex["planning_s"] = T.catalyst_phases(df)
        self.tracer.last_df = None
        self.extra[op_id] = ex


def layer_metrics(rec: Recorder, tracer, setup: dict[str, float], cycles: list[dict]) -> dict[str, float]:
    from perfbench import trace as T

    per: dict[str, list[float]] = {k: [] for k in PER_LAYER}
    spans_by_op = tracer.op_spans()
    for op_id, ex in rec.extra.items():
        spans = spans_by_op.get(op_id, [])
        kind = ex["kind"]
        py4j = T.iv(spans, "py4j")
        exec_iv = T.iv(spans, "spark.exec")
        avro = T.iv(spans, "avro.decode")
        plan = T.iv(spans, "metadata.plan")
        if kind == "query":
            per["metadata.open_s"].append(T.covered(T.iv(spans, "metadata.open")))
            per["metadata.plan_s"].append(T.minus(plan, avro))
            per["avro.decode_s"].append(T.covered(avro))
            man = sum(1 for s in spans if s["name"] == "avro.decode" and s.get("arg", "").startswith("manifest-"))
            per["metadata.manifests_read"].append(man)
            per["avro.manifests_decoded"].append(len(avro))
            todf = [s for s in spans if s["name"] == "scan.to_df"]
            n_manifests = sum(s.get("manifests", 0) for s in todf)
            scanned = sum(s.get("files_scanned", 0) for s in todf)
            live = sum(s.get("files_live", 0) for s in todf)
            per["metadata.manifest_keep_frac"].append(man / n_manifests if n_manifests else 0.0)
            per["metadata.file_keep_frac"].append(scanned / live if live else 0.0)
            per["scan.delete_files_applied"].append(sum(s.get("delete_files", 0) for s in todf))
            per["py4j.s"].append(T.minus(py4j, exec_iv))
            per["scan.to_df_s"].append(T.minus(T.iv(spans, "scan.to_df"), plan + avro + py4j))
            per["spark.exec_s"].append(T.covered(exec_iv))
            per["catalyst.optimize_s"].append(ex.get("optimize_s", 0.0))
            per["catalyst.planning_s"].append(ex.get("planning_s", 0.0))
            per["py4j.calls"].append(len(py4j))
            per["spark.jobs"].append(ex["jobs"])
            per["spark.tasks"].append(ex["tasks"])
        elif kind == "append":
            per["writer.append_s"].append(T.covered(T.iv(spans, "writer.append")))
            per["writer.commit_meta_s"].append(T.minus(T.iv(spans, "writer.commit_meta"), py4j + avro))
        elif kind == "merge":
            per["writer.merge_s"].append(T.covered(T.iv(spans, "writer.merge")))
        elif kind in ("delete", "drop"):
            per["writer.delete_s"].append(T.covered(T.iv(spans, "writer.delete")))
        elif kind == "maintain":
            per["writer.maintain_s"].append(T.covered(T.iv(spans, "writer.maintain")))
            per["stats.refresh_s"].append(T.covered(T.iv(spans, "stats.refresh")))
    for c in cycles:
        per["writer.files_written"].append(c["files_written"])
        per["writer.bytes_written"].append(c["bytes_written"])
        per["writer.metadata_json_bytes"].append(c["metadata_json_bytes"])
    out = {k: float(med(v)) for k, v in per.items()}
    out.update(setup)
    base = med(rec.untraced_query)
    out["trace.overhead_frac"] = med(rec.traced_query) / base - 1.0 if base else 0.0
    return out


def stop_spark(spark: Any) -> None:
    """Stop the session and wait for the JVM to exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    try:
        gw.shutdown()
    except Exception:  # the gateway may already be closed
        traceback.print_exc(file=sys.stderr)
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # the result line goes to the real stdout; everything else, including
    # the JVM's output (it inherits fd 1), goes to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    def deadline(sig, _frame):
        raise Deadline(f"stopped by signal {sig} (deadline {DEADLINE_S} s)")

    signal.signal(signal.SIGALRM, deadline)
    signal.signal(signal.SIGTERM, deadline)  # clean up when killed
    signal.alarm(DEADLINE_S)

    cwd = os.getcwd()
    work = os.path.join(cwd, ".perfbench_work", str(os.getpid()))
    out_dir = os.path.join(cwd, ".perfbench_out")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # keep Spark scratch, temp files and the JVM's temp dir inside the
    # checkout; the engine writes without fsync, so the page cache absorbs
    # table writes whatever the disk is
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile

    tempfile.tempdir = tmp
    spark = None
    try:
        from daskberg_spark import get_spark

        import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        spark = get_spark("perfbench", cpus=len(os.sched_getaffinity(0)))
        session_s = time.perf_counter() - PROCESS_T0
        result = run_workload(spark, WORKLOADS[args.workload], args, work, out_dir, session_s)
        stop_spark(spark)
        spark = None
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


def run_workload(spark, cls, args, work: str, out_dir: str, session_s: float) -> dict[str, Any]:
    from perfbench.workloads import dir_listing, latest_metadata_json_bytes

    wl = cls(spark, args.seed)
    builds = []
    for i in range(SETUP_REPEATS):
        root = os.path.join(work, f"build{i}")
        builds.append(wl.build(root))
        if i + 1 < SETUP_REPEATS:
            shutil.rmtree(root)
    build_walls = [b.datagen_s + b.build_s for b in builds]
    wl.prepare()

    tracer = None
    if args.trace:
        from perfbench.trace import Tracer

        tracer = Tracer()
        tracer.install(spark)
    rec = Recorder(tracer, spark.sparkContext)
    ops = wl.ops()
    # fixed-length warm-up of the workload's own op mix
    w0 = time.perf_counter()
    done = 0
    while done < wl.warmup_ops:
        kind, fn, expected = next(ops)
        if kind != "cycle_end":
            rec.run(kind, fn, expected, timed=False)
        if kind == "cycle_end" or not wl.cyclic:
            done += 1
    warmup_s = time.perf_counter() - w0

    # timed closed loop
    tables = wl.table_dirs()
    seen = {p: s for d in tables for p, s in dir_listing(d).items()}
    created = 0
    cycles: list[dict[str, Any]] = []
    cycle_created = cycle_files = 0
    arrow0 = wl.arrow_rows_bytes
    t0 = time.perf_counter()
    while True:
        if not wl.cyclic and time.perf_counter() - t0 >= args.seconds:
            break
        kind, fn, expected = next(ops)
        if kind == "cycle_end":
            cycles.append(
                {
                    "files_written": cycle_files,
                    "bytes_written": cycle_created,
                    "metadata_json_bytes": latest_metadata_json_bytes(seen),
                }
            )
            cycle_created = cycle_files = 0
            rec.cycle += 1
            if time.perf_counter() - t0 >= args.seconds:
                break
            continue
        rec.run(kind, fn, expected)
        if wl.cyclic:
            now = {p: s for d in tables for p, s in dir_listing(d).items()}
            for p, s in now.items():
                if p not in seen:
                    created += s
                    cycle_created += s
                    cycle_files += 1
            seen = now
    wall = time.perf_counter() - t0

    lat = rec.latency
    queries = lat.get("query", [])
    if wl.cyclic:
        write_amp = created / (wl.arrow_rows_bytes - arrow0)
        # taken after the first timed cycle, so that it does not depend on
        # how many cycles fit in --seconds (metadata files accumulate)
        first = wl.trajectory[wl.warmup_ops]
        space_amp = first["bytes"] / first["live_arrow_bytes"]
        with open(os.path.join(out_dir, f"trajectory-{args.seed}.json"), "w") as f:
            json.dump(wl.trajectory, f, indent=1)
    else:
        write_amp = med([b.bytes_created / b.arrow_bytes for b in builds])
        space_amp = sum(s for d in tables for s in dir_listing(d).values()) / wl.live_arrow_bytes()
    setup_s = session_s + med(build_walls) + warmup_s

    if tracer is None:
        values = {
            "setup_s": setup_s,
            "query_p50_s": med(queries),
            "queries_per_s": len(queries) / wall,
            "write_amp": write_amp,
            "space_amp": space_amp,
            "driver_peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
        }
        units = END_TO_END
    else:
        tracer.uninstall()
        tracer.dump(os.path.join(out_dir, f"trace-{cls.name}-{args.seed}.jsonl"))
        setup = {
            "session.start_s": session_s,
            "setup.datagen_s": med([b.datagen_s for b in builds]),
            "setup.build_s": med([b.build_s for b in builds]),
            "setup.warmup_s": warmup_s,
            "setup.warmup_ops": float(wl.warmup_ops),
        }
        values = layer_metrics(rec, tracer, setup, cycles)
        units = PER_LAYER
    print(
        f"{cls.name}: {len(queries)} queries in {wall:.1f} s; "
        f"setup {setup_s:.1f} s (session {session_s:.1f}, builds {[round(w, 2) for w in build_walls]}, "
        f"warm-up {warmup_s:.1f})",
        file=sys.stderr,
    )
    return {
        "correct": rec.failed == 0,
        "attempted": rec.attempted,
        "failed": rec.failed,
        "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
    }


if __name__ == "__main__":
    sys.exit(main())
