"""Byte-stability pin for the statistics lifecycle (``statsblobs.py``).

One small table is opted into every per-file partial family — theta
partials (global and grouped), global and grouped quantiles (identity
and file-grouped strategies), column sums and value blooms — and then
driven through repeated append → DV delete → ``maintain`` cycles, enough
for every family to cross its consolidation threshold.  The test hashes
every statistics blob payload (data-file paths replaced by their rank
among the sorted live files) together with the Puffin base names, and
compares the digest against a recorded value: any change to blob bytes,
file naming or consolidation timing fails it.

The table lives at a fixed path with a fixed writer instance token,
because the Puffin names hash absolute data-file paths.

Merged quantile payloads (``"merged": true``) are the one exception to
exact bytes: ``merge_cdf_parts`` sums float slopes in the iteration
order of a set of path strings, which string-hash randomization changes
from process to process, so their last bits differ between runs of the
same code.  Those payloads are compared with every float rounded to six
significant digits; all other payloads are hashed as written.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

from daskberg_spark.iceberg.writer import IcebergWriter

PIN_DIR = "/tmp/daskberg-stats-pin"
PIN_DIGEST = "50df9bef6f72fed21fda879efb3157525f2260b1ea1e6280462b80dabad7c40e"


def _pinned_table(spark):
    from daskberg_spark.iceberg.bloomindex import write_file_blooms
    from daskberg_spark.iceberg.quantiles import (
        refresh_grouped_quantile_statistics,
        refresh_quantile_statistics,
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.sumstats import write_sum_statistics
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
        write_file_theta_partials,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import refresh_table_statistics

    shutil.rmtree(PIN_DIR, ignore_errors=True)
    w = IcebergWriter(
        PIN_DIR,
        [
            {"id": 1, "name": "seg", "type": "string", "required": False},
            {"id": 2, "name": "g", "type": "string", "required": False},
            {"id": 3, "name": "u", "type": "long", "required": False},
            {"id": 4, "name": "v", "type": "long", "required": False},
        ],
        [{"name": "seg", "transform": "identity", "source": "seg"}],
    )
    w._instance = "pin00000"  # data and manifest names embed it

    def rows(lo, hi):
        return [
            {
                "seg": f"s{i % 2}",
                "g": f"g{i % 3}",
                "u": (i * 7) % 41,
                "v": (i * 13) % 197,
            }
            for i in range(lo, hi)
        ]

    w.append(rows(0, 120))
    w.append(rows(120, 240))
    write_file_blooms(w, spark, ["u"])
    write_sum_statistics(w, spark, ["v"])
    write_file_theta_partials(w, spark)
    refresh_table_statistics(w, spark)
    refresh_quantile_statistics(w, spark, columns=["v"])
    # identity grouping (seg is the partition column) and a
    # file-grouped one (g is not)
    write_grouped_quantile_statistics(w, spark, ["seg"], ["v"])
    write_grouped_quantile_statistics(w, spark, ["g"], ["u"])
    refresh_grouped_quantile_statistics(w, spark)
    write_grouped_theta_statistics(w, spark, ["g"], ["u"])
    refresh_grouped_theta_statistics(w, spark)
    return w, rows


def _round_floats(x):
    if isinstance(x, float):
        return float(f"{x:.6g}")
    if isinstance(x, list):
        return [_round_floats(v) for v in x]
    if isinstance(x, dict):
        return {k: _round_floats(v) for k, v in x.items()}
    return x


def _canonical(blob_type: str, blob: bytes) -> bytes:
    if blob_type in (
        "daskberg-quantiles-v1",
        "daskberg-quantiles-grouped-v1",
    ):
        payload = json.loads(blob)
        if payload.get("merged"):
            return json.dumps(
                _round_floats(payload), sort_keys=True
            ).encode()
    return blob


def _digest(w) -> str:
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.puffin import read_blob
    from daskberg_spark.iceberg.scan import _norm_scan_path

    t = IcebergTable(w.path)
    live = sorted(f["file_path"] for f in t.plan_files(None))
    spellings: dict[bytes, bytes] = {}
    for rank, p in enumerate(live):
        for s in (p, _norm_scan_path(p)):
            spellings[s.encode()] = b"file%d" % rank
    # longest first, so no spelling is replaced inside a longer one
    order = sorted(spellings, key=len, reverse=True)
    records = []
    for e in w.statistics:
        name = os.path.basename(e["statistics-path"])
        for b in e.get("blob-metadata", []):
            blob = read_blob(t._relocate(e["statistics-path"]), b)
            for raw in order:
                blob = blob.replace(raw, spellings[raw])
            records.append(
                [
                    name,
                    b.get("type"),
                    list(b.get("fields") or ()),
                    hashlib.sha256(_canonical(b["type"], blob)).hexdigest(),
                ]
            )
    records.sort()
    return hashlib.sha256(json.dumps(records).encode()).hexdigest()


def test_statistics_lifecycle_bytes_pinned(spark):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import maintain

    w, rows = _pinned_table(spark)
    try:
        hi = 240
        for cycle in range(9):
            w.append(rows(hi, hi + 40))
            hi += 40
            t = IcebergTable(w.path)
            newest = sorted(f["file_path"] for f in t.plan_files(None))[-1]
            w.delete_positions_dv({newest: [0, 3 + cycle % 5]})
            maintain(
                w,
                spark,
                min_file_bytes=1,
                keep_last=100,
                compact_dead_fraction=None,
            )
        # every partial family crossed its consolidation threshold
        names = {os.path.basename(e["statistics-path"]) for e in w.statistics}
        for prefix in (
            "blooms",
            "colsums",
            "quantiles-files",
            "quantiles-files-grouped",
            "theta-files-grouped",
        ):
            assert any(
                n.startswith(f"{prefix}-consolidated-") for n in names
            ), (prefix, sorted(names))
        got = _digest(w)
        print("statistics pin digest:", got)
        assert got == PIN_DIGEST
    finally:
        shutil.rmtree(PIN_DIR, ignore_errors=True)
