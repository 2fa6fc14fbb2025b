"""Distributed scan planning (executor-side manifest evaluation).

Above a gated entry-count estimate, ``IcebergTable.scan_all`` decodes and
evaluates manifests on Spark executors instead of the driver
(``metadata.py:_scan_manifests_distributed``).  Contract under test: the
plan is IDENTICAL to the driver path on every fixture — same records,
same reconciliation, same file-level pruning — and the gate keeps small
tables on the zero-Spark path.
"""
from __future__ import annotations

import pytest

from daskberg_spark.iceberg import metadata as M
from tests.conftest import GOLDEN, GOLDEN_ORIG


def _fresh(path, **kw):
    from daskberg_spark.iceberg.metadata import IcebergTable

    return IcebergTable(path, **kw)


def _plan_pair(spark, path, filters=None, monkeypatch=None, **kw):
    """plan_files via the driver path and via the forced-distributed
    path (gate=0), each on a FRESH table (no shared scan cache)."""
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 10**9)
    driver = _fresh(path, **kw).plan_files(filters)
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 0)
    dist = _fresh(path, **kw).plan_files(filters)
    return driver, dist


def test_distributed_plan_identical_golden(spark, monkeypatch):
    """Golden v1 table: DELETED reconciliation (5/6 live) must survive
    the executor path bit-identically."""
    driver, dist = _plan_pair(
        spark, GOLDEN, original_url=GOLDEN_ORIG, monkeypatch=monkeypatch
    )
    assert dist == driver and len(driver) == 5


def test_distributed_plan_identical_partitioned_filtered(spark, monkeypatch):
    from daskberg_spark.iceberg.fixtures import ensure_partitioned_fixture

    path = ensure_partitioned_fixture()
    plans = {}
    for filters in (None, [("cat", "==", "news")], [("id", ">", 190)]):
        driver, dist = _plan_pair(
            spark, path, filters, monkeypatch=monkeypatch
        )
        assert dist == driver, filters
        plans[repr(filters)] = driver
    # the partition filter genuinely prunes (else the test proves nothing)
    assert len(plans["[('cat', '==', 'news')]"]) < len(plans["None"])


def test_distributed_scan_all_delete_files(spark, monkeypatch):
    """v3 DV fixture: delete_files map (keyed (path, blob offset)) and
    data map must match the driver reconcile exactly."""
    from daskberg_spark.iceberg.fixtures import ensure_dv_fixture

    path = ensure_dv_fixture(spark)
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 10**9)
    d_data, d_del = _fresh(path).scan_all()
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 0)
    x_data, x_del = _fresh(path).scan_all()
    assert x_data == d_data
    assert x_del == d_del and len(x_del) > 0


def test_distributed_plan_spec_evolution(spark, monkeypatch):
    """Multi-spec table: per-file _spec_id resolution (and the
    default-spec fallback) must match across paths."""
    from daskberg_spark.iceberg.fixtures import ensure_spec_evo_fixture

    path = ensure_spec_evo_fixture()
    driver, dist = _plan_pair(spark, path, monkeypatch=monkeypatch)
    assert dist == driver
    driver_f, dist_f = _plan_pair(
        spark, path, [("region", "==", "EU")], monkeypatch=monkeypatch
    )
    assert dist_f == driver_f


def test_distributed_read_end_to_end(spark, monkeypatch):
    """to_df through the distributed planner returns the same rows."""
    from daskberg_spark.iceberg.fixtures import ensure_deletes_fixture
    from daskberg_spark.iceberg.scan import to_df

    path = ensure_deletes_fixture()
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 10**9)
    expect = sorted(
        to_df(_fresh(path), spark).collect(), key=lambda r: r["id"]
    )
    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 0)
    got = sorted(to_df(_fresh(path), spark).collect(), key=lambda r: r["id"])
    assert got == expect and len(got) > 0


def test_gate_keeps_small_tables_on_driver_path(spark, monkeypatch):
    """Below the gate the zero-Spark path runs — no job launch."""
    t = _fresh(GOLDEN, original_url=GOLDEN_ORIG)
    assert 0 < t._entry_estimate() < M.DIST_PLAN_ENTRY_GATE

    def boom(*a, **k):  # pragma: no cover - called means the gate failed
        raise AssertionError("distributed planner invoked below the gate")

    monkeypatch.setattr(
        type(t), "_scan_manifests_distributed", boom, raising=True
    )
    assert len(t.plan_files()) == 5


def test_no_jvm_still_works(monkeypatch):
    """gate=0 with NO active SparkSession must fall back to the driver
    path (metadata stays JVM-free for unit use)."""
    from pyspark.sql import SparkSession

    monkeypatch.setattr(M, "DIST_PLAN_ENTRY_GATE", 0)
    t = _fresh(GOLDEN, original_url=GOLDEN_ORIG)
    if SparkSession.getActiveSession() is not None:
        pytest.skip("a session is active in this process")
    assert len(t.plan_files()) == 5


def test_pruned_marker_overwrite_semantics(spark, monkeypatch):
    """A later manifest re-stating a path must overwrite the earlier
    record even when the later record is file-level pruned: merge on
    ('data', path, None) markers replicates the driver's
    filter-after-overwrite order."""
    from daskberg_spark.iceberg.metadata import _merge_events

    rec_a = {"file_path": "/t/p1", "v": 1}
    events = [
        [("data", "/t/p1", rec_a)],
        [("data", "/t/p1", None)],  # later manifest wins, then pruned
    ]
    allfiles, _ = _merge_events(events)
    assert allfiles == {}
    # and a tombstone still pops a pruned marker harmlessly
    events = [[("data", "/t/p2", None)], [("tomb_data", "/t/p2", None)]]
    allfiles, _ = _merge_events(events)
    assert allfiles == {}
