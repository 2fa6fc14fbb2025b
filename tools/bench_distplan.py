"""Scale witness for distributed scan planning (SCALING.md entry).

Forges a table whose manifest set holds >=100k entries (data files are
fake paths — planning never opens them), then times ``plan_files`` on a
fresh ``IcebergTable`` via (a) the driver path and (b) the executor path
(gate=0), unfiltered and filtered, and asserts the two plans are
identical.  Run: ``python tools/bench_distplan.py [entries]``.
"""
from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

N_ENTRIES = int(sys.argv[1]) if len(sys.argv) > 1 else 120_000
N_MANIFESTS = 48  # ~2.5k entries per manifest at the default size


def forge_table(root: str) -> str:
    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file
    from daskberg_spark.iceberg.writer import IcebergWriter

    path = os.path.join(root, "big_table")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
        ],
        [{"name": "cat", "transform": "identity", "source": "cat"}],
    )
    writer.append([{"id": i, "cat": "ab"[i % 2]} for i in range(8)])

    t_meta = json.load(
        open(os.path.join(path, "metadata", "v1.metadata.json"))
    )
    snap = t_meta["snapshots"][-1]
    ml_path = snap["manifest-list"]
    ml_hdr, ml_records = read_avro_file(ml_path)
    m_path = ml_records[0]["manifest_path"]
    m_hdr, m_entries = read_avro_file(m_path)
    m_schema = json.loads(m_hdr["avro.schema"])
    ml_schema = json.loads(ml_hdr["avro.schema"])

    proto = m_entries[0]
    per = N_ENTRIES // N_MANIFESTS
    meta_dir = os.path.join(path, "metadata")
    new_ml = []
    for m in range(N_MANIFESTS):
        entries = []
        for j in range(per):
            i = m * per + j
            df = dict(proto["data_file"])
            df["file_path"] = f"{path}/data/fake-{i:07d}.parquet"
            df["partition"] = {"cat": "ab"[i % 2]}
            df["record_count"] = 100
            entries.append(dict(proto, data_file=df))
        fpath = os.path.join(meta_dir, f"forged-m{m:03d}.avro")
        write_avro_file(fpath, m_schema, entries, metadata=m_hdr)
        rec = dict(ml_records[0])
        rec["manifest_path"] = fpath
        rec["manifest_length"] = os.path.getsize(fpath)
        if "added_data_files_count" in rec:
            rec["added_data_files_count"] = per
        if "added_files_count" in rec:
            rec["added_files_count"] = per
        new_ml.append(rec)
    write_avro_file(ml_path, ml_schema, new_ml, metadata=ml_hdr)
    return path


def timed_plan(path: str, gate: int, filters) -> tuple[float, list]:
    from daskberg_spark.iceberg import metadata
    from daskberg_spark.iceberg.metadata import IcebergTable

    metadata.DIST_PLAN_ENTRY_GATE = gate
    t = IcebergTable(path)
    t0 = time.perf_counter()
    files = t.plan_files(filters)
    return time.perf_counter() - t0, files


def main() -> None:
    from daskberg_spark.session import get_spark

    spark = get_spark("bench_distplan", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    root = tempfile.mkdtemp(prefix="distplan_")
    try:
        path = forge_table(root)
        # warm the JVM/scheduler so the first job's startup cost is not
        # charged to the distributed path
        spark.range(10).count()
        out = {"entries": N_ENTRIES, "manifests": N_MANIFESTS}
        for label, filters in (
            ("unfiltered", None),
            ("filtered", [("cat", "==", "a")]),
        ):
            td, fd = timed_plan(path, 10**9, filters)
            tx, fx = timed_plan(path, 0, filters)
            assert fx == fd, f"plan mismatch ({label})"
            out[label] = {
                "driver_sec": round(td, 3),
                "executors_sec": round(tx, 3),
                "files": len(fd),
                "speedup": round(td / tx, 2) if tx else None,
            }
        print(json.dumps(out))
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
