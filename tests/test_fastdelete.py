"""Stats/partition-aligned fast DELETE (``delete_where_fast``) and the
whole-file proof machinery (``planner.file_all_rows_match``).

The contract under test: files whose rows PROVABLY all match the filter
are dropped as metadata tombstones with zero data IO (the pure-aligned
case never touches Spark at all — proven by passing ``spark=None``);
candidate files without a proof get deletion vectors built from a scan
restricted to exactly those files; unsound proofs (NULLs hiding outside
min-max bounds, NaNs on float columns, boundary partitions of ordered
transforms) must NOT fire.
"""

from __future__ import annotations

import datetime
import tempfile

import pytest

import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
from daskberg_spark.iceberg.metadata import IcebergTable
from daskberg_spark.iceberg.planner import FieldInfo, file_all_rows_match
from daskberg_spark.iceberg.writer import IcebergWriter, delete_where_fast


def _writer(path, partitioned=True):
    spec = (
        [{"name": "cat", "transform": "identity", "source": "cat"}]
        if partitioned
        else []
    )
    return IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        spec,
    )


def test_metadata_only_partition_drop_needs_no_spark():
    """A partition-aligned delete is pure metadata: spark=None proves no
    Spark job (or session) is ever touched."""
    path = tempfile.mkdtemp(prefix="fastdel_")
    w = _writer(path)
    w.append(
        [{"k": i, "cat": c, "v": float(i)} for c in "ab" for i in range(5)]
    )
    sid = delete_where_fast(w, None, [("cat", "==", "a")])
    assert sid is not None
    t = IcebergTable(path)
    files = t.plan_files(None)
    assert len(files) == 1 and files[0]["partition"] == {"cat": "b"}
    assert t.metadata["snapshots"][-1]["summary"]["operation"] == "delete"


def test_mixed_full_and_partial_single_commit(spark):
    path = tempfile.mkdtemp(prefix="fastdel_")
    w = _writer(path)
    w.append(
        [{"k": i, "cat": c, "v": float(i)} for c in "abc" for i in range(10)]
    )
    n_snaps_before = len(IcebergTable(path).metadata["snapshots"])
    sid = delete_where_fast(
        w, spark, [[("cat", "==", "a")], [("cat", "==", "b"), ("k", "<", 3)]]
    )
    assert sid is not None
    t = IcebergTable(path)
    # ONE snapshot for both legs
    assert len(t.metadata["snapshots"]) == n_snaps_before + 1
    rows = sorted((r.cat, r.k) for r in t.to_df(spark).collect())
    assert all(c != "a" for c, _ in rows)
    assert sorted(k for c, k in rows if c == "b") == list(range(3, 10))
    assert sorted(k for c, k in rows if c == "c") == list(range(10))
    # 'a' was tombstoned whole; the DV landed only on the partial 'b' file
    live_parts = {f["partition"]["cat"] for f in t.plan_files(None)}
    assert live_parts == {"b", "c"}
    _, deletes = t.scan_all(None)
    dv_targets = {
        d["referenced_data_file"]
        for d in deletes.values()
        if (d.get("file_format") or "").upper() == "PUFFIN"
    }
    assert len(dv_targets) == 1
    live_by_part = {
        f["partition"]["cat"]: f["file_path"] for f in t.plan_files(None)
    }
    assert next(iter(dv_targets)) == live_by_part["b"]


def test_null_rows_never_swept_by_bounds_proof(spark):
    """Min-max bounds exclude NULLs; a NULL row fails ``v >= 0`` and must
    survive.  null_value_counts forces the file onto the partial path."""
    path = tempfile.mkdtemp(prefix="fastdel_")
    w = _writer(path, partitioned=False)
    w.append(
        [{"k": 1, "cat": "a", "v": None}]
        + [{"k": 10 + i, "cat": "a", "v": float(i)} for i in range(4)]
    )
    sid = delete_where_fast(w, spark, [("v", ">=", 0.0)])
    assert sid is not None
    rows = IcebergTable(path).to_df(spark).collect()
    assert len(rows) == 1 and rows[0].k == 1 and rows[0].v is None


def test_day_transform_retention_is_metadata_only():
    """``ts < cutoff`` on a day-partitioned table: whole days strictly
    below the cutoff day drop with zero data IO (ordered-transform
    proof); the table had no boundary-straddling file so spark=None."""
    path = tempfile.mkdtemp(prefix="fastdel_day_")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "ts", "type": "timestamp", "required": False},
        ],
        [{"name": "ts_day", "transform": "day", "source": "ts"}],
    )
    rows = []
    for d in range(1, 5):
        for i in range(3):
            rows.append(
                {
                    "k": d * 10 + i,
                    "ts": datetime.datetime(2024, 1, d, 6 + i),
                }
            )
    w.append(rows)
    assert len(IcebergTable(path).plan_files(None)) == 4
    sid = delete_where_fast(
        w, None, [("ts", "<", datetime.datetime(2024, 1, 3))]
    )
    assert sid is not None
    t = IcebergTable(path)
    files = t.plan_files(None)
    assert len(files) == 2  # days 3 and 4 survive whole
    assert {f["partition"]["ts_day"] for f in files} == {
        (datetime.date(2024, 1, d) - datetime.date(1970, 1, 1)).days
        for d in (3, 4)
    }


def test_day_boundary_file_is_not_whole_dropped(spark):
    """A mid-day cutoff leaves the boundary day PARTIAL: its matching
    rows die by DV, the rest survive."""
    path = tempfile.mkdtemp(prefix="fastdel_day_")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "ts", "type": "timestamp", "required": False},
        ],
        [{"name": "ts_day", "transform": "day", "source": "ts"}],
    )
    rows = []
    for d in (1, 2):
        for h in (3, 9, 15):
            rows.append({"k": d * 100 + h, "ts": datetime.datetime(2024, 1, d, h)})
    w.append(rows)
    sid = delete_where_fast(
        w, spark, [("ts", "<", datetime.datetime(2024, 1, 2, 12))]
    )
    assert sid is not None
    got = sorted(r.k for r in IcebergTable(path).to_df(spark).collect())
    assert got == [215]  # only Jan-2 15:00 survives


def test_no_match_returns_none():
    path = tempfile.mkdtemp(prefix="fastdel_")
    w = _writer(path)
    w.append([{"k": 1, "cat": "a", "v": 1.0}])
    assert delete_where_fast(w, None, [("cat", "==", "zzz")]) is None


def test_opaque_predicate_rejected():
    path = tempfile.mkdtemp(prefix="fastdel_")
    w = _writer(path)
    w.append([{"k": 1, "cat": "a", "v": 1.0}])
    with pytest.raises(ValueError):
        delete_where_fast(w, None, "cat = 'a'")


# ---- whole-file proof unit checks (no Spark) ----------------------------


def _rec(**kw):
    base = {
        "file_path": "/x.parquet",
        "record_count": 10,
        "partition": {},
    }
    base.update(kw)
    return base


def test_bounds_proof_requires_null_knowledge():
    """An optional column WITHOUT null_value_counts (foreign manifest)
    can never bounds-prove — NULLs may hide outside min-max."""
    from daskberg_spark.iceberg.conversions import encode_bound

    info = {"v": FieldInfo(field_id=3, type="long")}
    f = _rec(
        lower_bounds=[{"key": 3, "value": encode_bound(5, "long")}],
        upper_bounds=[{"key": 3, "value": encode_bound(9, "long")}],
    )
    assert not file_all_rows_match(f, [("v", ">=", 0)], info)
    f["null_value_counts"] = [{"key": 3, "value": 0}]
    assert file_all_rows_match(f, [("v", ">=", 0)], info)
    f["null_value_counts"] = [{"key": 3, "value": 2}]
    assert not file_all_rows_match(f, [("v", ">=", 0)], info)
    # required column: schema itself is the proof
    req = {"v": FieldInfo(field_id=3, type="long", required=True)}
    del f["null_value_counts"]
    assert file_all_rows_match(f, [("v", ">=", 0)], req)


def test_float_bounds_proof_requires_nan_counts():
    from daskberg_spark.iceberg.conversions import encode_bound

    info = {"v": FieldInfo(field_id=3, type="double", required=True)}
    f = _rec(
        lower_bounds=[{"key": 3, "value": encode_bound(1.0, "double")}],
        upper_bounds=[{"key": 3, "value": encode_bound(2.0, "double")}],
    )
    # no nan_value_counts: NaN rows may hide outside bounds
    assert not file_all_rows_match(f, [("v", "<=", 5.0)], info)
    f["nan_value_counts"] = [{"key": 3, "value": 0}]
    assert file_all_rows_match(f, [("v", "<=", 5.0)], info)
    f["nan_value_counts"] = [{"key": 3, "value": 1}]
    assert not file_all_rows_match(f, [("v", "<=", 5.0)], info)


def test_or_proof_needs_single_satisfying_conjunction():
    info = {"cat": FieldInfo(field_id=2, type="string", transform="identity", partition_name="cat")}
    fa = _rec(partition={"cat": "a"})
    dnf = [[("cat", "==", "a")], [("cat", "==", "b")]]
    assert file_all_rows_match(fa, dnf, info)
    assert not file_all_rows_match(_rec(partition={"cat": "c"}), dnf, info)
    # unknown column fails its conjunction
    assert not file_all_rows_match(fa, [[("cat", "==", "a"), ("nope", ">", 1)]], info)


def test_null_partition_value_proves_nothing():
    info = {
        "cat": FieldInfo(
            field_id=2, type="string", transform="identity", partition_name="cat"
        )
    }
    f = _rec(partition={"cat": None})
    assert not file_all_rows_match(f, [("cat", "!=", "x")], info)


# ---- write distribution modes (writer.write_df) --------------------------


def test_write_df_distribution_modes(spark):
    """write.distribution-mode semantics: mode='none' mints a file per
    (task, partition) pair; 'hash' co-locates each partition tuple into
    one task (one file per partition); 'range' + sort_by additionally
    clusters sort-key bounds so stats pruning fires."""
    import tempfile

    from daskberg_spark.iceberg.writer import write_df

    src = spark.range(0, 3000).selectExpr(
        "id AS k", "CAST(id % 3 AS STRING) AS cat", "CAST(id AS DOUBLE) AS v"
    ).repartition(8)

    def mk():
        path = tempfile.mkdtemp(prefix="wd_")
        return IcebergTable, IcebergWriter(
            path,
            [
                {"id": 1, "name": "k", "type": "long", "required": False},
                {"id": 2, "name": "cat", "type": "string", "required": False},
                {"id": 3, "name": "v", "type": "double", "required": False},
            ],
            [{"name": "cat", "transform": "identity", "source": "cat"}],
        )

    _, w_none = mk()
    write_df(w_none, src, mode="none")
    _, w_hash = mk()
    write_df(w_hash, src, mode="hash")
    files_none = len(IcebergTable(w_none.path).plan_files(None))
    files_hash = len(IcebergTable(w_hash.path).plan_files(None))
    assert files_hash == 3  # one per partition tuple
    assert files_none > files_hash  # task x partition explosion
    got = sorted(
        (r.cat, r.k) for r in IcebergTable(w_hash.path).to_df(spark).collect()
    )
    assert got == sorted((str(k % 3), k) for k in range(3000))

    _, w_range = mk()
    write_df(w_range, src, mode="range", sort_by=["k"], num_tasks=6)
    t = IcebergTable(w_range.path)
    assert t.to_df(spark).count() == 3000
    pruned = t.plan_files([("k", "<", 100)])
    assert 0 < len(pruned) < len(t.plan_files(None))

    import pytest as _pytest

    with _pytest.raises(ValueError):
        write_df(w_range, src, mode="shuffle")


# ---- projection pushdown into python scan legs ---------------------------


def test_projection_pushdown_python_legs(spark):
    """to_df(columns=) narrows the scan struct below the plan, so the
    AVRO mapInPandas leg SKIPS unwanted fields (Catalyst cannot prune
    into an opaque python leg).  Correctness: projected read == full
    read projected, deletes still apply even when their key column is
    projected away (the scan quietly widens by the eq-delete keys and
    the final select drops them)."""
    import tempfile

    path = tempfile.mkdtemp(prefix="proj_")
    w = IcebergWriter(
        path,
        [
            {"id": i + 1, "name": f"c{i}", "type": "long", "required": False}
            for i in range(10)
        ]
        + [{"id": 11, "name": "k", "type": "long", "required": False}],
    )
    rows = [
        {**{f"c{i}": 100 * i + j for i in range(10)}, "k": j}
        for j in range(50)
    ]
    w.append(rows, file_format="avro")
    # equality delete keyed on k — NOT in the projection
    w.delete_rows_equality([{"k": 7}, {"k": 13}])

    t = IcebergTable(path)
    got = t.to_df(spark, columns=["c0", "c3"]).collect()
    assert sorted((r.c0, r.c3) for r in got) == sorted(
        (0 + j, 300 + j) for j in range(50) if j not in (7, 13)
    )
    assert got and set(got[0].asDict()) == {"c0", "c3"}
    # filter column outside the projection also survives narrowing
    got2 = t.to_df(
        spark, columns=["c1"], filters=[("c5", "<", 510)]
    ).collect()
    assert sorted(r.c1 for r in got2) == [100 + j for j in range(10) if j not in (7, 13)]


# ---- one-call maintenance policy (writer.maintain) ------------------------


def test_maintain_policy_idempotent():
    """maintain() composes compaction → dangling-delete cleanup →
    manifest rewrite → snapshot expiry → orphan sweep, each gated by its
    threshold; a second immediate run performs zero work (steady-state
    idempotence)."""
    import tempfile

    from daskberg_spark.iceberg.writer import maintain

    path = tempfile.mkdtemp(prefix="maint_")
    w = _writer(path, partitioned=False)
    for i in range(12):  # 12 tiny single-row commits → 12 files, 12 manifests
        w.append([{"k": i, "cat": "a", "v": float(i)}])

    dry = maintain(w, dry_run=True)
    assert "would compact" in str(dry["compact"])
    assert "would rewrite" in str(dry["rewrite_manifests"])

    rep = maintain(w, keep_last=2, orphan_older_than_ms=None)  # quiesced
    assert isinstance(rep["compact"], int)  # compaction committed
    # compaction itself consolidates manifests, so the explicit rewrite
    # step may rightly skip — but the END state must be small either way
    assert len(w.manifests) <= 8
    assert len(rep["expire_snapshots"]) > 0
    assert rep["remove_orphans"] > 0
    t = IcebergTable(path)
    files = t.plan_files(None)
    assert len(files) == 1  # 12 tiny files folded into one
    assert files[0]["record_count"] == 12

    # steady state: second run is a complete no-op
    rep2 = maintain(w, keep_last=2, orphan_older_than_ms=None)
    assert rep2["compact"] is None
    assert rep2["rewrite_manifests"] is None
    assert rep2["expire_snapshots"] == []
    assert rep2["remove_orphans"] == 0


def test_maintain_empty_table_and_auto_guard():
    """A zero-snapshot table is a full no-op (no ValueError from
    expire); the default 'auto' orphan guard (3-day mtime) never sweeps
    freshly staged files — concurrent-writer safety."""
    import tempfile

    from daskberg_spark.iceberg.writer import maintain

    path = tempfile.mkdtemp(prefix="maint_")
    w = _writer(path, partitioned=False)
    rep = maintain(w)  # no snapshots yet
    assert rep == {
        "compact": None,
        "rewrite_manifests": None,
        "expire_snapshots": [],
        "remove_orphans": 0,
    }
    for i in range(3):
        w.append([{"k": i, "cat": "a", "v": float(i)}])
    # stage an uncommitted file (a concurrent writer mid-commit)
    staged = f"{path}/data/inflight.parquet"
    with open(staged, "wb") as f:
        f.write(b"not yet committed")
    rep = maintain(w, keep_last=1)  # auto guard: nothing fresh swept
    assert rep["remove_orphans"] == 0
    import os

    assert os.path.exists(staged)


def test_maintain_preserves_content(spark):
    import tempfile

    from daskberg_spark.iceberg.writer import maintain

    path = tempfile.mkdtemp(prefix="maint_")
    w = _writer(path)
    for i in range(6):
        w.append([{"k": i, "cat": "ab"[i % 2], "v": float(i)}])
    w.delete_rows_equality([{"k": 3}])
    before = sorted(
        (r.cat, r.k) for r in IcebergTable(path).to_df(spark).collect()
    )
    maintain(w, keep_last=1, orphan_older_than_ms=None)
    after = sorted(
        (r.cat, r.k) for r in IcebergTable(path).to_df(spark).collect()
    )
    assert before == after and len(after) == 5


def _multi_transform_writer(path):
    """Two transforms of ONE source column: ``bucket[4](k)`` and
    ``identity(k)``."""
    return IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
        [
            {"name": "k_bucket", "transform": "bucket[4]", "source": "k"},
            {"name": "k", "transform": "identity", "source": "k"},
        ],
    )


def _assert_partitions_match_rows(t):
    """Every live file carries BOTH spec fields, each equal to the
    transform of the file's own rows."""
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.transforms import bucket

    files = t.plan_files(None)
    assert files
    for f in files:
        part = f["partition"]
        assert {"k_bucket", "k"} <= set(part), part
        ks = set(pq.read_table(f["file_path"], columns=["k"])["k"].to_pylist())
        assert ks == {part["k"]}, (f["file_path"], part, ks)
        assert bucket(part["k"], 4) == part["k_bucket"], part


def test_write_df_multi_transform_single_source(spark):
    """A spec with TWO transforms of one source column (bucket + identity)
    keys each hive segment to its own spec FIELD — source-name
    resolution alone would collapse both onto the first field and
    silently mis-prune (review finding)."""
    import tempfile

    from daskberg_spark.iceberg.writer import write_df

    src = spark.range(0, 400).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    path = tempfile.mkdtemp(prefix="wd_multi_")
    w = _multi_transform_writer(path)
    write_df(w, src, mode="hash")
    t = IcebergTable(path)
    _assert_partitions_match_rows(t)
    # identity prune must hit exactly one file per key
    assert len(t.plan_files([("k", "==", 5)])) == 1
    got = sorted(r.k for r in t.to_df(spark).collect())
    assert got == list(range(400))


@pytest.mark.parametrize(
    "op",
    [
        "merge_rows_spark",
        "merge_rows_mor_spark",
        "update_where_mor_spark",
        "compact_files_spark",
    ],
)
def test_spark_rewrites_multi_transform_single_source(spark, op):
    """The Spark rewrite paths stage through write_df's partition-column
    builder: files they commit under a bucket + identity spec of one
    source column carry both spec fields, each matching the file's rows
    (keying the hive segments by source column resolved both onto the
    field named ``k`` and committed ``k_bucket`` as NULL)."""
    from daskberg_spark.iceberg import writer as W

    path = tempfile.mkdtemp(prefix="wd_multi_rw_")
    w = _multi_transform_writer(path)
    model = {k: float(k) for k in range(12)}
    W.write_df(w, spark.createDataFrame(list(model.items()), "k long, v double"))
    upd = spark.createDataFrame([(3, -3.0), (20, 20.0)], "k long, v double")
    if op == "merge_rows_spark":
        W.merge_rows_spark(w, spark, upd, ["k"])
        model.update({3: -3.0, 20: 20.0})
    elif op == "merge_rows_mor_spark":
        W.merge_rows_mor_spark(w, spark, upd, ["k"])
        model.update({3: -3.0, 20: 20.0})
    elif op == "update_where_mor_spark":
        W.update_where_mor_spark(w, spark, "k < 4", {"v": "v + 100"})
        model.update({k: model[k] + 100 for k in range(4)})
    else:
        # a second append puts two small files in every partition
        again = [(k, 0.5) for k in model]
        W.write_df(w, spark.createDataFrame(again, "k long, v double"))
        assert W.compact_files_spark(w, spark, min_file_bytes=1 << 40)
        model = {k: sorted([v, 0.5]) for k, v in model.items()}
    t = IcebergTable(path)
    _assert_partitions_match_rows(t)
    got = [(r.k, r.v) for r in t.to_df(spark).collect()]
    if op == "compact_files_spark":
        grouped = {}
        for k, v in got:
            grouped.setdefault(k, []).append(v)
        assert {k: sorted(v) for k, v in grouped.items()} == model
    else:
        assert sorted(got) == sorted(model.items())
    assert len(t.plan_files([("k", "==", 3)])) == (
        2 if op.endswith("mor_spark") else 1
    )


def test_fast_delete_composes_with_commit_retries(spark):
    """delete_where_fast under optimistic concurrency: a concurrent
    append between load and commit loses the metadata race; the retry
    loop re-plans the delete against the new head, so rows appended
    concurrently to the MATCHING partition are deleted too (the delete
    re-evaluates, exactly like real Iceberg's retry semantics)."""
    from daskberg_spark.iceberg.writer import (
        commit_with_retries,
        delete_where_fast,
    )

    path = tempfile.mkdtemp(prefix="fastdel_cc_")
    w0 = _writer(path)
    w0.append(
        [{"k": i, "cat": c, "v": float(i)} for c in "ab" for i in range(5)]
    )

    raced = {"done": False}

    def attempt(w):
        if not raced["done"]:
            # simulate a concurrent writer landing between load and commit
            w2 = IcebergWriter.load(path)
            w2.append([{"k": 99, "cat": "a", "v": 99.0}])
            raced["done"] = True
        return delete_where_fast(w, None, [("cat", "==", "a")])

    sid = commit_with_retries(path, attempt)
    assert sid is not None
    t = IcebergTable(path)
    rows = sorted((r.cat, r.k) for r in t.to_df(spark).collect())
    assert all(c == "b" for c, _ in rows) and len(rows) == 5


def test_last_scan_report(spark):
    """to_df records a ScanMetrics-style report: scanned vs live file
    counts, bytes, formats, delete-file census, projected columns —
    zero extra manifest decode (live total from manifest-list counters)."""
    path = tempfile.mkdtemp(prefix="scanrep_")
    w = _writer(path)
    w.append(
        [{"k": i, "cat": c, "v": float(i)} for c in "abc" for i in range(5)]
    )
    w.delete_rows_equality([{"k": 2}])
    t = IcebergTable(path)
    df = t.to_df(spark, filters=[("cat", "==", "a")], columns=["k"])
    rep = t.last_scan
    assert rep["files_scanned"] == 1
    assert rep["files_live"] == 3
    assert rep["formats"] == ["PARQUET"]
    assert rep["delete_files"] == {"equality": 1, "position": 0, "dv": 0}
    assert "k" in rep["projected_columns"]
    assert rep["bytes_scanned"] > 0
    assert rep["records_in_scanned_files"] == 5
    # the report matches the DATA files the plan actually reads (the
    # eq-delete parquet also appears in inputFiles — it is delete IO,
    # censused separately above)
    data_inputs = [
        f for f in set(df.inputFiles()) if "eq-delete" not in f
    ]
    assert len(data_inputs) == rep["files_scanned"]


def test_changelog_over_mixed_fast_delete_commit(spark):
    """The row-level changelog over a delete_where_fast commit — whole-
    file tombstones AND a boundary DV in ONE snapshot — emits exactly
    the dead rows as deletes, each once."""
    from daskberg_spark.iceberg.scan import changelog_rows_df

    path = tempfile.mkdtemp(prefix="cl_fastdel_")
    w = _writer(path)
    w.append(
        [{"k": i, "cat": c, "v": float(i)} for c in "ab" for i in range(4)]
    )
    delete_where_fast(
        w, spark, [[("cat", "==", "a")], [("cat", "==", "b"), ("k", "<", 2)]]
    )
    t = IcebergTable(path)
    cl = changelog_rows_df(t, spark, from_rel=-1)
    rows = sorted((r["_change_type"], r["cat"], r["k"]) for r in cl.collect())
    assert rows == sorted(
        [("delete", "a", i) for i in range(4)]
        + [("delete", "b", 0), ("delete", "b", 1)]
    )
