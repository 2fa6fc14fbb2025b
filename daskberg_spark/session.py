"""SparkSession construction with scale-appropriate defaults.

Local testing runs ``local[N]`` in one JVM; the configs below are chosen so
the same code runs unchanged on a multi-executor cluster: AQE for runtime
re-planning (partition coalescing, skew-join splitting), Arrow for every
Python<->JVM crossing, and shuffle partitions sized to the local core count
(on a real cluster AQE coalesces from a higher initial number).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _fast_scratch_dir() -> str | None:
    """Fastest available scratch base for Spark local dirs (shuffle
    files, block-manager spill) and the engine's temp table fixtures.

    Shuffle and spill files are pure scratch: they never need to
    survive a crash, so they belong on the fastest local storage the
    host offers (guide §2.1/§6 — shuffle cost is disk+network bound).
    On the sandbox runners the root disk sustains ~5 MB/s writes while
    ``/dev/shm`` is RAM-backed; leaving scratch on the slow disk adds
    multi-second writeback stalls to every shuffle-bearing query
    (measured: 256 MB write+fsync 49.7 s on disk vs 0.43 s on tmpfs).
    A cluster deployment sets ``SPARK_GRAFT_LOCAL_DIR`` to its NVMe
    array (comma-separated dirs work too); tmpfs is only auto-picked
    when nothing is configured and ``/dev/shm`` is present+writable —
    and sized RAM is the operator's call, exactly like
    ``spark.local.dir`` on any real deployment.

    Resolution order: ``SPARK_GRAFT_LOCAL_DIR`` (empty string
    disables), pre-set ``SPARK_LOCAL_DIRS`` (Spark's own env wins — we
    add nothing), else ``/dev/shm/daskberg-scratch`` when writable,
    else None (Spark default, java.io.tmpdir)."""
    env = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if env is not None:
        return env or None
    if os.environ.get("SPARK_LOCAL_DIRS"):
        return None
    cand = "/dev/shm"
    if os.path.isdir(cand) and os.access(cand, os.W_OK):
        # free-space guard (r16): tmpfs is RAM — on a RAM-constrained
        # host, auto-picked shuffle/spill scratch would compete with
        # executor memory.  Only auto-pick when the tmpfs has at least
        # SPARK_GRAFT_SHM_MIN_FREE_BYTES available (default 8 GiB);
        # below that, fall back to the Spark default (java.io.tmpdir).
        # An explicit SPARK_GRAFT_LOCAL_DIR above always wins — sizing
        # RAM scratch deliberately is the operator's call.
        try:
            floor = int(
                os.environ.get("SPARK_GRAFT_SHM_MIN_FREE_BYTES", "")
                or (8 << 30)
            )
        except ValueError:
            floor = 8 << 30
        try:
            st = os.statvfs(cand)
            if st.f_bavail * st.f_frsize < floor:
                return None
        except OSError:
            return None
        d = os.path.join(cand, "daskberg-scratch")
        try:
            os.makedirs(d, exist_ok=True)
        except OSError:
            return None
        return d
    return None


def get_spark(app_name: str = "daskberg_spark", cpus: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default: all cores).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    # Executor Python workers resolve imports from PYTHONPATH, not the
    # driver's in-process sys.path: without this, any executor-side UDF
    # importing daskberg_spark (DV bitmap builders, footer lifting)
    # fails with ModuleNotFoundError whenever the driver was launched
    # from outside the repo root.  Set it before the JVM starts (local
    # workers inherit the driver env) and mirror it to executorEnv for
    # cluster deployments.
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + existing if existing else "")
        )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # AQE: runtime partition coalescing + skew-join handling — the main
        # lever that lets one static config serve sf0.001 and 100 TB alike.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Shuffle width ~= cores locally; a cluster deployment would raise
        # this (or rely on AQE's initialPartitionNum) — never the 200 default.
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        # Let AQE re-coalesce the output partitioning of CACHED plans
        # (default false).  persist() otherwise pins the pre-AQE shuffle
        # width: a persisted CDC upsert batch wrote shuffle.partitions
        # near-empty data + eq-delete files per commit (32 at local[32],
        # thousands on a cluster) that every later read, delete
        # application and compaction re-opened — measured 1.6 s -> 2.4-6 s
        # on the upsert lifecycle when cores went 8 -> 32 (guide §6
        # small-files tax).  Scale-adaptive by construction: AQE
        # coalesces to advisory byte size, so a genuinely large batch
        # keeps its parallelism.
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        # Arrow batches for pandas_udf / applyInPandas / toPandas.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Deterministic timestamp semantics for oracle comparison.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Input-split sizing: the local fixtures are single sub-128MB
        # parquet files, which at the default maxPartitionBytes collapse
        # every scan to ONE task on a 32-core runner (~15-20% measured
        # slowdown across scan-bound queries).  8 MB splits restore local
        # parallelism; a CLUSTER deployment reading 100 TB should export
        # SPARK_GRAFT_MAX_PARTITION_BYTES=134217728 (the stock 128 MB) so
        # split count stays O(data/128MB), not 16x that.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "8388608"),
        )
        .config("spark.sql.files.openCostInBytes", "1048576")
        # PySpark 4 captures the Python call site on every DataFrame and
        # Column op for error context: ~10 extra py4j round trips each
        # (getActiveSession, PySparkCurrentOrigin set/clear, a conf read)
        # plus a Python stack walk — F.col makes 13 calls where 3 do the
        # work.  A traced point read made 147 py4j calls with it, 69
        # without; the site it records is this engine's own line, not
        # the user's.  Errors still raise with their class and message.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.executorEnv.PYTHONPATH", os.environ["PYTHONPATH"])
    )
    scratch = _fast_scratch_dir()
    if scratch:
        # shuffle/spill/block-manager scratch on the fastest local
        # storage (see _fast_scratch_dir); only effective before the
        # JVM starts — getOrCreate on a live session ignores it, which
        # is fine: the live session already chose its dirs.
        builder = builder.config("spark.local.dir", scratch)
        # temp TABLE fixtures (tempfile.mkdtemp throughout the iceberg
        # operators) are scratch of the same kind: they are rebuilt
        # from the parquet inputs on every invocation and never
        # outlive the process.  Steer tempfile at the scratch base
        # unless the caller pinned TMPDIR explicitly.
        if not os.environ.get("TMPDIR"):
            import tempfile as _tempfile

            tmp = os.path.join(scratch, "tmp")
            try:
                os.makedirs(tmp, exist_ok=True)
                os.environ["TMPDIR"] = tmp
                _tempfile.tempdir = tmp
            except OSError:
                pass
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
