"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q

The last two tests start Spark through the benchmark's command line and
take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from perfbench import gen, run, trace
from perfbench.workloads import Model, PlanPoint

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _data_digests(table_dir: str) -> list[str]:
    out = []
    for root, _dirs, names in os.walk(os.path.join(table_dir, "data")):
        for n in names:
            with open(os.path.join(root, n), "rb") as f:
                out.append(hashlib.sha256(f.read()).hexdigest())
    return sorted(out)


def _plan_point_files(tmp_path, name: str, seed: int) -> list[str]:
    wl = PlanPoint(None, seed, {"commits": 3, "rows": 5})
    wl.build(str(tmp_path / name))
    return _data_digests(wl.path)


def test_same_seed_same_data_files(tmp_path):
    a = _plan_point_files(tmp_path, "a", 7)
    b = _plan_point_files(tmp_path, "b", 7)
    assert len(a) == 3 * gen.PLAN_DAYS
    assert a == b
    assert _plan_point_files(tmp_path, "c", 8) != a


def test_same_seed_same_generated_parquet(tmp_path):
    def write(name: str, seed: int) -> bytes:
        path = str(tmp_path / name)
        pq.write_table(gen.fact_table(0, 5000, seed), path)
        with open(path, "rb") as f:
            return f.read()

    assert write("a.parquet", 3) == write("b.parquet", 3)
    assert write("c.parquet", 4) != write("a.parquet", 3)


def test_plan_expected_matches_generated_rows():
    rows, seed = 25, 5
    tbl = pa.concat_tables(
        pa.table(gen.plan_block(b, rows, seed)) for b in range(3 * gen.PLAN_DAYS)
    )
    for lo, day in ((-40, 0), (110, 4), (300, 3), (530, 5)):
        sel = tbl.filter(
            pc.and_(
                pc.and_(pc.greater_equal(tbl["id"], lo), pc.less(tbl["id"], lo + 100)),
                pc.equal(tbl["day"], day),
            )
        )
        want = (sel.num_rows, pc.sum(sel["v"]).as_py() or 0)
        assert gen.plan_expected(lo, lo + 100, day, rows, seed) == want


def test_checker_counts_wrong_answers():
    rec = run.Recorder()
    rec.run("query", lambda: (3, 4), (3, 4))
    assert (rec.attempted, rec.failed) == (1, 0)
    rec.run("query", lambda: (3, 4), (3, 5))  # deliberately wrong expectation
    assert (rec.attempted, rec.failed) == (2, 1)

    def boom():
        raise RuntimeError("op failed")

    rec.run("append", boom, None)
    assert (rec.attempted, rec.failed) == (3, 2)
    assert len(rec.latency["query"]) == 2


def test_model_tracks_merge_and_deletes():
    m = Model()
    ids = np.arange(10, dtype=np.int64)
    m.append(0, ids, ids * 10)
    m.update(0, np.array([2, 5]), np.array([1000, 2000]))
    m.delete_where(0, 30)  # drops ids 0 and 1 (vals 0 and 10)
    assert m.count_sum([0]) == (8, 1000 + 30 + 40 + 2000 + 60 + 70 + 80 + 90)
    m.append(1, np.array([20]), np.array([5]))
    m.drop(0)
    assert m.count_sum([1]) == (1, 5) and m.rows() == 1


def test_interval_arithmetic():
    assert trace.covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert trace.minus([(0, 10)], [(2, 3), (2.5, 4), (8, 12)]) == 10 - 2 - 2


def test_benchmark_json_matches_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    from perfbench.workloads import WORKLOADS

    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)


def _run_cli(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=240,
    )


@pytest.mark.parametrize("traced", [0, 1])
def test_printed_metrics_match_benchmark_json(traced):
    p = _run_cli(
        ["--workload", "plan_point", "--seed", "1", "--seconds", "2", "--trace", str(traced)],
        ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {m["name"]: m["unit"] for m in spec["per_layer" if traced else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run_cli(["--workload", "plan_point", "--seed", "1", "--seconds", "1"], str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""
