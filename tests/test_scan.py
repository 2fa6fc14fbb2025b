"""End-to-end Spark scans: golden table + partitioned fixture (SURVEY §7 M4).

The core invariant everywhere: pruning is IO-elision only — a filtered
read through the planner equals an unpruned read with the same filter
applied by Spark.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
from daskberg_spark.iceberg.fixtures import ensure_partitioned_fixture
from daskberg_spark.iceberg.metadata import IcebergTable


@pytest.fixture(scope="module")
def part_table():
    return IcebergTable(ensure_partitioned_fixture())


def test_golden_head_content(spark, golden_table):
    """Replicates reference tests/test_basic.py:10-19."""
    df = golden_table.to_df(spark)
    rows = {(r["name"], r["age"]) for r in df.collect()}
    assert rows == {("Bob", 20), ("John", 56), ("Fiona", 25), ("Roger", 25), ("Alex", 36)}
    emails = [r["email"] for r in df.collect() if r["email"] is not None]
    assert emails == ["email@email.email"]


def test_golden_filter_equals_residual(spark, golden_table):
    filt = [("age", ">", 21)]
    pruned = {tuple(r) for r in golden_table.to_df(spark, filters=filt).collect()}
    manual = {
        tuple(r)
        for r in golden_table.to_df(spark).filter("age > 21").collect()
    }
    assert pruned == manual and len(pruned) == 4


def test_golden_columns_projection(spark, golden_table):
    df = golden_table.to_df(spark, columns=["name"])
    assert df.columns == ["name"]
    assert df.count() == 5


def test_golden_time_travel_schema(spark, golden_table):
    golden_table.open_snapshot(rel=-1)
    df = golden_table.to_df(spark)
    assert df.columns == ["name", "age"]
    assert df.count() == 4


def test_partitioned_pruning_strictly_fewer_files(part_table):
    total = len(part_table.plan_files())
    assert total == 36  # 48 on disk, 12 deleted by the third snapshot
    for filt in (
        [("sym", "==", "AAPL")],
        [("qty", ">=", 10)],
        [("cat", "in", ["blog"])],
        [("day_ts", ">=", "2024-01-02 00:00:00")],
        [[("sym", "==", "AAPL")], [("cat", "==", "news")]],
    ):
        n = len(part_table.plan_files(filt))
        assert 0 < n < total, (filt, n, total)


@pytest.mark.parametrize(
    "filt,sql",
    [
        ([("sym", "==", "AAPL")], "sym = 'AAPL'"),
        ([("qty", ">=", 10)], "qty >= 10"),
        ([("qty", "<", 5)], "qty < 5"),
        ([("cat", "!=", "news")], "cat != 'news'"),
        ([("price", ">", 25.0)], "price > 25.0"),
        ([("day_ts", "<", "2024-01-02 00:00:00")], "day_ts < '2024-01-02 00:00:00'"),
        ([("sym", "in", ["MSFT", "GOOG"])], "sym in ('MSFT','GOOG')"),
        (
            [[("sym", "==", "AAPL"), ("qty", ">=", 10)], [("cat", "==", "news")]],
            "(sym = 'AAPL' AND qty >= 10) OR cat = 'news'",
        ),
    ],
)
def test_partitioned_pruned_equals_unpruned(spark, part_table, filt, sql):
    pruned = part_table.to_df(spark, filters=filt)
    unpruned = part_table.to_df(spark).filter(sql)
    a = {tuple(r) for r in pruned.collect()}
    b = {tuple(r) for r in unpruned.collect()}
    assert a == b
    assert len(a) > 0


def test_partitioned_time_travel_counts(spark, part_table):
    head = part_table.to_df(spark).count()
    part_table.open_snapshot(rel=-1)
    pre_delete = part_table.to_df(spark).count()
    part_table.open_snapshot(rel=-2)
    first = part_table.to_df(spark).count()
    part_table.open_snapshot()
    assert first == 150
    assert pre_delete == 200
    assert head < pre_delete  # delete removed cat=news/day1 rows
    # deleted rows are exactly (cat='news' AND day 2024-01-01)
    expect = (
        part_table.to_df(spark)
        .filter("NOT (cat = 'news' AND CAST(day_ts AS DATE) = DATE '2024-01-01')")
        .count()
    )
    assert head == expect


def test_partitioned_unique_partitions(part_table):
    cats = part_table.unique_partitions("cat")
    assert cats == ["blog", "news"]
    days = part_table.unique_partitions("day_ts_day")
    assert len(days) == 2


def test_decimal_roundtrip(spark, part_table):
    from decimal import Decimal

    # id=6 lives in a (news, day-2) partition untouched by the delete
    df = part_table.to_df(spark, filters=[("id", "==", 6)])
    row = df.collect()[0]
    assert row["price"] == Decimal("6.25")
    assert dict(df.dtypes)["price"] == "decimal(10,2)"


def test_incremental_diff_read(spark, part_table):
    """diff vs snapshot -2 = second append minus later-deleted files; the
    current snapshot is restored afterwards."""
    head_before = part_table.current_snapshot["snapshot-id"]
    import daskberg_spark.iceberg.scan  # noqa: F401

    diff = part_table.diff_df(spark, from_rel=-2)
    rows = diff.select("id").collect()
    ids = sorted(r["id"] for r in rows)
    assert all(i >= 150 for i in ids)
    expect = (
        part_table.to_df(spark).filter("id >= 150").count()
    )
    assert len(ids) == expect
    assert part_table.current_snapshot["snapshot-id"] == head_before
    # diff vs immediate parent (the delete snapshot) adds nothing
    assert part_table.diff_df(spark, from_rel=-1).count() == 0


def test_v2_row_level_deletes(spark):
    """Equality + position delete files apply on read; time travel walks
    back through the delete snapshots."""
    from daskberg_spark.iceberg.fixtures import (
        EQ_DELETED_IDS,
        POS_DELETED_IDS,
        ensure_deletes_fixture,
    )

    t = IcebergTable(ensure_deletes_fixture())
    ids = sorted(r["id"] for r in t.to_df(spark).select("id").collect())
    gone = set(EQ_DELETED_IDS) | set(POS_DELETED_IDS)
    assert set(range(100)) - set(ids) == gone
    assert len(t.plan_deletes()) == 2
    # filters compose with delete application
    n_a = t.to_df(spark, filters=[("grp", "==", "a")]).count()
    expect = len([i for i in range(100) if i % 3 == 0 and i not in gone])
    assert n_a == expect
    # pre-delete snapshots still see everything
    t.open_snapshot(rel=-2)
    assert t.to_df(spark).count() == 100
    t.open_snapshot(rel=-1)
    ids_mid = sorted(r["id"] for r in t.to_df(spark).select("id").collect())
    assert set(range(100)) - set(ids_mid) == set(EQ_DELETED_IDS)


def test_schema_evolution_rename_by_field_id(spark):
    from daskberg_spark.iceberg.fixtures import ensure_evolved_fixture

    t = IcebergTable(ensure_evolved_fixture())
    df = t.to_df(spark)
    assert df.columns == ["id", "total", "note"]
    rows = {r["id"]: (r["total"], r["note"]) for r in df.collect()}
    assert rows[1] == (10.0, None)    # pre-rename file: value under new name
    assert rows[25] == (250.0, None)  # post-rename, pre-add file
    assert rows[35] == (350.0, "n35")
    assert len(rows) == 40
    # time travel before the rename restores the old column name
    t.open_snapshot(rel=-2)
    assert t.to_df(spark).columns == ["id", "amount"]
    assert t.to_df(spark).count() == 20


def test_v2_delete_sequence_semantics(spark, tmp_path):
    """An equality delete must not affect rows appended after it."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": 1, "v": "old"}, {"id": 2, "v": "keep"}])
    w.delete_rows_equality([{"id": 1}])
    w.append([{"id": 1, "v": "new"}])  # re-insert after the delete
    t = IcebergTable(w.path)
    rows = sorted(map(tuple, t.to_df(spark).collect()))
    assert rows == [(1, "new"), (2, "keep")]
    # position delete on the re-inserted file composes with the above
    f3 = [f for f in t.plan_files() if f["_snapshot_id"] == 3][0]["file_path"]
    w.delete_rows_position([(f3, 0)])
    t = IcebergTable(w.path)
    assert sorted(map(tuple, t.to_df(spark).collect())) == [(2, "keep")]


def test_v2_delete_nonmonotonic_snapshot_ids(spark, tmp_path):
    """Equality-delete applicability must key on data sequence numbers,
    never snapshot-id order: the Iceberg spec allows snapshot ids to be
    RANDOM longs.  Forge a table whose re-insert snapshot has a SMALLER
    id than the delete snapshot and check the reborn row survives; then
    strip the sequence numbers (legacy metadata shape) and demonstrate
    the snapshot-id fallback mis-orders — exactly the failure the
    sequence-number path exists to prevent."""
    from daskberg_spark.iceberg.fixtures import (
        remap_snapshot_ids,
        strip_sequence_numbers,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": 1, "v": "old"}, {"id": 2, "v": "keep"}])  # seq 1
    w.delete_rows_equality([{"id": 1}])                         # seq 2
    w.append([{"id": 1, "v": "reborn"}])                        # seq 3
    # forged ids: newest commit gets the SMALLEST id, delete the largest
    remap_snapshot_ids(w.path, {1: 9_000_000_001, 2: 9_999_999_999, 3: 17})
    t = IcebergTable(w.path)
    assert sorted(map(tuple, t.to_df(spark).collect())) == [
        (1, "reborn"),
        (2, "keep"),
    ]
    # sharpness: stripping the sequence numbers leaves format-version 2
    # metadata whose files all read at sequence 0 (the spec's v1→v2
    # upgrade rule) — the equality delete, also at 0, applies to nothing
    # (strictly-lower rule), so BOTH the old and reborn rows surface.
    # Never snapshot-id order: these forged ids would delete the reborn
    # row.  (A real v1 table cannot contain delete files, so this forged
    # hybrid state is unreachable by spec-conforming writers.)
    strip_sequence_numbers(w.path)
    t2 = IcebergTable(w.path)
    assert sorted(map(tuple, t2.to_df(spark).collect())) == [
        (1, "old"),
        (1, "reborn"),
        (2, "keep"),
    ]


def test_foreign_written_v2_table(spark):
    """The foreign-style fixture (snappy manifests, random snapshot ids,
    multi-spec live files, inherited sequence numbers) reads correctly:
    50 rows - 2 eq-deleted + 1 reborn, and spec-aware partition pruning
    still works on the spec-1 files."""
    from daskberg_spark.iceberg.fixtures import (
        FOREIGN_ID_REMAP,
        ensure_foreign_fixture,
    )

    t = IcebergTable(ensure_foreign_fixture())
    df = t.to_df(spark)
    rows = {(r["id"], r["val"]) for r in df.collect()}
    expect = {(i, float(i)) for i in range(50) if i not in (5, 35)} | {(5, -1.0)}
    assert rows == expect
    # forged snapshot ids really are live in the metadata
    assert set(t.snapshots) == set(FOREIGN_ID_REMAP.values())
    # sequence inheritance: every data file resolved a sequence number
    assert all(f.get("_sequence_number") is not None for f in t.plan_files())
    # both specs hold live files
    assert {f["_spec_id"] for f in t.plan_files()} == {0, 1}


def test_spec_evolution_per_file_pruning(spark):
    """Live files under two specs where the same partition field name has
    DIFFERENT bucket widths: pruning must consult each file's own spec.
    id=7 hashes to bucket 1 under bucket[2] and bucket 3 under bucket[4];
    both appends span the same id range so stats cannot prune the
    wrong-bucket files — only per-spec transform resolution can."""
    from daskberg_spark.iceberg.fixtures import ensure_spec_evo_fixture

    t = IcebergTable(ensure_spec_evo_fixture())
    files = t.plan_files()
    assert len(files) == 6
    assert {f["_spec_id"] for f in files} == {0, 1}
    pruned = t.plan_files([("id", "==", 7)])
    by_spec: dict[int, list] = {}
    for f in pruned:
        by_spec.setdefault(f["_spec_id"], []).append(f)
    assert len(by_spec[0]) == 1, "spec-0 must keep exactly its bucket[2]=1 file"
    assert len(by_spec[1]) == 1, "spec-1 must keep exactly its bucket[4]=3 file"
    assert by_spec[0][0]["partition"]["id_bucket"] == 1
    assert by_spec[1][0]["partition"]["id_bucket"] == 3
    rows = t.to_df(spark, filters=[("id", "==", 7)]).collect()
    assert sorted(r["tag"] for r in rows) == ["first", "second"]


def test_v2_deletes_relocated_table(spark, tmp_path):
    """Delete-file target paths are rewritten under original_url relocation:
    a moved table's position deletes must still anti-join (stored paths
    reference the ORIGINAL location) — round-1 ADVICE scan.py:172."""
    import os
    import shutil

    from daskberg_spark.iceberg.writer import IcebergWriter

    orig = str(tmp_path / "orig" / "t")
    w = IcebergWriter(
        orig,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "v": f"v{i}"} for i in range(10)])
    f = IcebergTable(orig).plan_files()[0]["file_path"]
    w.delete_rows_position([(f, 0), (f, 3)])
    w.delete_rows_equality([{"id": 7}])
    moved = str(tmp_path / "moved" / "t")
    os.makedirs(os.path.dirname(moved), exist_ok=True)
    shutil.move(orig, moved)
    t = IcebergTable(moved, original_url=orig)
    ids = sorted(r["id"] for r in t.to_df(spark).select("id").collect())
    assert ids == [1, 2, 4, 5, 6, 8, 9]


def test_large_delete_set_unhinted(spark, monkeypatch):
    """Above BROADCAST_DELETE_MAX_BYTES the delete anti-joins carry no
    forced broadcast hint (AQE picks the strategy); results unchanged."""
    from daskberg_spark.iceberg import scan as scan_mod
    from daskberg_spark.iceberg.fixtures import ensure_deletes_fixture

    def hints(df):
        return df._jdf.queryExecution().analyzed().toString().count(
            "ResolvedHint"
        )

    t = IcebergTable(ensure_deletes_fixture())
    hinted_df = t.to_df(spark)
    # delete-key frames hint-forced under the gate (the path→sequence
    # maps are join-free literal lookups, so they contribute no hints)
    assert hints(hinted_df) >= 1
    hinted = sorted(r["id"] for r in hinted_df.select("id").collect())
    monkeypatch.setattr(scan_mod, "BROADCAST_DELETE_MAX_BYTES", -1)
    unhinted_df = t.to_df(spark)
    # every delete-KEY join is left to AQE; no forced hints remain
    assert hints(unhinted_df) == 0
    assert sorted(r["id"] for r in unhinted_df.select("id").collect()) == hinted


def test_expire_snapshots_and_orphan_cleanup(spark, tmp_path):
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        expire_snapshots,
        remove_orphan_files,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}])
    w.append([{"x": 2}])
    w.delete_files(lambda df: False)  # no-op snapshot just for history
    expired = expire_snapshots(w, keep_last=1)
    assert len(expired) == 2
    t = IcebergTable(w.path)
    assert len(t.snapshots) == 1
    assert t.to_df(spark).count() == 2  # head content unaffected
    with pytest.raises(ValueError):
        t.open_snapshot(rel=-1)  # expired history is gone
    # orphan cleanup removes no DATA (all files still referenced); the
    # expired snapshots' manifest lists are metadata orphans and go
    removed = remove_orphan_files(w.path)
    assert [p for p in removed if p.endswith(".parquet")] == []
    assert all(p.endswith(".avro") for p in removed)
    assert IcebergTable(w.path).to_df(spark).count() == 2  # reads intact
    # now delete one file's rows and expire: the old file becomes orphaned
    w.delete_files(lambda df: True)
    expire_snapshots(w, keep_last=1)
    removed = remove_orphan_files(w.path)
    assert len([p for p in removed if p.endswith(".parquet")]) == 2
    t = IcebergTable(w.path)
    assert t.to_df(spark).count() == 0


def test_eq_delete_survives_column_rename(spark, tmp_path):
    """Fix regression: equality-delete files written under an old column
    name must still apply after rename_column."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "v": f"x{i}"} for i in range(5)])
    w.delete_rows_equality([{"id": 2}])
    w.rename_column("id", "doc_id")
    w.append([{"doc_id": 10, "v": "y"}])
    t = IcebergTable(w.path)
    ids = sorted(r["doc_id"] for r in t.to_df(spark).collect())
    assert ids == [0, 1, 3, 4, 10]


def test_date_identity_partition_write(spark, tmp_path):
    """Fix regression: identity partitioning on a date column encodes
    epoch days into the manifest instead of crashing."""
    import datetime

    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "d", "type": "date", "required": False},
        ],
        [{"name": "d", "transform": "identity", "source": "d"}],
    )
    w.append(
        [
            {"id": 1, "d": datetime.date(2024, 1, 1)},
            {"id": 2, "d": datetime.date(2024, 1, 2)},
        ]
    )
    t = IcebergTable(w.path)
    assert t.to_df(spark).count() == 2
    assert len(t.plan_files([("d", "==", "2024-01-02")])) == 1


def test_snapshot_ids_unique_after_expiry(spark, tmp_path):
    """Fix regression: commits after expire_snapshots must not reuse ids."""
    from daskberg_spark.iceberg.writer import IcebergWriter, expire_snapshots

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}])
    w.append([{"x": 2}])
    w.append([{"x": 3}])
    expire_snapshots(w, keep_last=2)
    w.append([{"x": 4}])
    t = IcebergTable(w.path)
    ids = [s["snapshot-id"] for s in t.metadata["snapshots"]]
    assert len(ids) == len(set(ids)) == 3
    assert t.to_df(spark).count() == 4
    t.open_snapshot(rel=-1)  # walks to a real distinct parent
    assert t.to_df(spark).count() == 3


def test_bucket_string_uuid_shape_utf8(spark, tmp_path):
    """Fix regression: UUID-formatted strings in a string column hash as
    UTF-8 (not as UUID bytes) for bucket pruning."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    u = "123e4567-e89b-12d3-a456-426614174000"
    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "s", "type": "string", "required": False},
        ],
        [{"name": "s_bucket", "transform": "bucket[4]", "source": "s"}],
    )
    w.append([{"id": 1, "s": u}, {"id": 2, "s": "other"}])
    t = IcebergTable(w.path)
    rows = t.to_df(spark, filters=[("s", "==", u)]).collect()
    assert len(rows) == 1 and rows[0]["id"] == 1


def test_multicolumn_eq_delete_survives_reordering_rename(spark, tmp_path):
    """Fix regression: a 2-column delete key must map by field id, not by
    sorted-name position, when a rename reorders the names."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "a", "type": "long", "required": False},
            {"id": 2, "name": "b", "type": "long", "required": False},
        ],
    )
    w.append([{"a": 1, "b": 2}, {"a": 3, "b": 4}, {"a": 2, "b": 1}])
    w.delete_rows_equality([{"a": 1, "b": 2}])
    w.rename_column("a", "z")  # sorted order flips: (a,b) -> (b,z)
    w.append([{"z": 9, "b": 9}])  # rename lands with the next commit
    t = IcebergTable(w.path)
    rows = sorted((r["z"], r["b"]) for r in t.to_df(spark).collect())
    # (1,2) gone; (2,1) must NOT be deleted (positional mapping would
    # swap the key columns and delete it)
    assert rows == [(2, 1), (3, 4), (9, 9)]


def test_eq_delete_null_key_matches_null_rows(spark, tmp_path):
    """Fix regression: equality-delete NULL keys match IS NULL rows."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": 1, "grp": None}, {"id": 2, "grp": "x"}])
    w.delete_rows_equality([{"grp": None}])
    t = IcebergTable(w.path)
    assert [r["id"] for r in t.to_df(spark).collect()] == [2]


def test_diff_df_from_pinned_snapshot(spark, part_table):
    """Fix regression: diff_df baselines from the pinned snapshot, not
    the table head."""
    part_table.open_snapshot(rel=-1)  # pin the pre-delete snapshot
    diff = part_table.diff_df(spark, from_rel=-1)  # vs the first append
    assert diff.count() == 50  # exactly the second append
    part_table.open_snapshot()


def test_delete_tombstones_dropped_after_one_snapshot(spark, tmp_path):
    """DELETED-tombstone manifests live for exactly one snapshot (Iceberg
    semantics): the next commit drops them from its manifest list, so scans
    stop reprocessing stale delete manifests (round-1 ADVICE writer.py:433)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}, {"x": 2}])
    w.delete_files(lambda df: True)  # tombstones the first file
    w.append([{"x": 3}])

    def tombstone_only(mf):
        return (
            mf.get("deleted_data_files_count", 0) > 0
            and mf.get("added_data_files_count", 0) == 0
            and mf.get("existing_data_files_count", 0) == 0
        )

    t = IcebergTable(w.path)
    assert not any(tombstone_only(mf) for mf in t.manifest_list)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [3]
    # the delete snapshot itself still carries its tombstone (incremental
    # consumers read deletes there)
    t.open_snapshot(rel=-1)
    assert any(tombstone_only(mf) for mf in t.manifest_list)
    assert t.to_df(spark).count() == 0


def test_changelog_diff_emits_delete_side(spark, part_table):
    """changelog=True tags file-level inserts and deletes with
    _change_type; the fixture's head snapshot deleted cat=news/day-1
    files, so diff vs the pre-delete snapshot is all deletes."""
    head = part_table.current_snapshot["snapshot-id"]
    cl = part_table.diff_df(spark, from_rel=-1, changelog=True)
    assert "_change_type" in cl.columns
    counts = {r["_change_type"]: r["n"] for r in
              cl.groupBy("_change_type").agg(F.count("*").alias("n")).collect()}
    assert counts.get("insert") is None
    pre = part_table.to_df(spark)
    part_table.open_snapshot(rel=-1)
    expect_deleted = part_table.to_df(spark).count() - pre.count()
    part_table.open_snapshot()
    assert counts["delete"] == expect_deleted > 0
    # deleted rows are exactly the news/day-1 partition content
    assert cl.filter("_change_type = 'delete'").filter(
        "NOT (cat = 'news' AND CAST(day_ts AS DATE) = DATE '2024-01-01')"
    ).count() == 0
    # filters prune both sides
    some = part_table.diff_df(
        spark, from_rel=-1, filters=[("sym", "==", "AAPL")], changelog=True
    )
    assert 0 < some.count() < counts["delete"]
    assert part_table.current_snapshot["snapshot-id"] == head


def test_merge_rows_copy_on_write(spark, tmp_path):
    """merge_rows rewrites only matched files in one overwrite snapshot:
    updates apply ({**row,**update}), cross-partition moves land in the
    right partition, unmatched keys insert, untouched files carry
    forward, and time travel still sees the pre-merge state."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": 1, "grp": "a", "v": 1.0}, {"k": 2, "grp": "b", "v": 2.0}])
    w.append([{"k": 3, "grp": "c", "v": 3.0}])
    t0 = IcebergTable(w.path)
    untouched = {
        f["file_path"] for f in t0.plan_files() if f["partition"]["grp"] == "c"
    }
    w.merge_rows(
        [
            {"k": 1, "v": 10.0},                 # in-place update
            {"k": 2, "grp": "a", "v": 20.0},     # moves partition b -> a
            {"k": 9, "grp": "z", "v": 9.0},      # insert
        ],
        ["k"],
    )
    t = IcebergTable(w.path)
    rows = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {1: ("a", 10.0), 2: ("a", 20.0), 3: ("c", 3.0), 9: ("z", 9.0)}
    # untouched partition's file survived un-rewritten
    now = {f["file_path"] for f in t.plan_files()}
    assert untouched <= now
    # partition metadata followed the moved row (prunable by grp='a')
    a_files = t.plan_files([("grp", "==", "a")])
    assert {r["k"] for f in a_files for r in __import__("pyarrow.parquet", fromlist=["x"]).read_table(f["file_path"]).to_pylist()} == {1, 2}
    # one overwrite snapshot; parent state intact via time travel
    assert t.current_snapshot["summary"]["operation"] == "overwrite"
    t.open_snapshot(rel=-1)
    old = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert old == {1: ("a", 1.0), 2: ("b", 2.0), 3: ("c", 3.0)}


def test_partition_spec_evolution_end_to_end(spark, tmp_path):
    """Writer-side partition evolution: files written under bucket[2]
    coexist with bucket[4] files; the planner prunes each through its own
    spec (round-1 ADVICE planner.py:201 made end-to-end), results always
    equal unpruned + residual filter; rewrites preserve origin specs."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "sym", "type": "string", "required": False},
        ],
        [{"name": "sym_bucket", "transform": "bucket[2]", "source": "sym"}],
    )
    syms = ["AAPL", "MSFT", "GOOG", "TSLA", "AMZN"]
    w.append([{"id": i, "sym": syms[i % 5]} for i in range(50)])
    new_spec_id = w.update_partition_spec(
        [{"name": "sym_bucket", "transform": "bucket[4]", "source": "sym"}]
    )
    assert new_spec_id == 1
    w.append([{"id": 100 + i, "sym": syms[i % 5]} for i in range(50)])
    t = IcebergTable(w.path)
    assert t.metadata["default-spec-id"] == 1
    assert len(t.metadata["partition-specs"]) == 2
    specs_used = {mf.get("partition_spec_id") for mf in t.manifest_list}
    assert specs_used == {0, 1}
    total = len(t.plan_files())
    for sym in syms:
        filt = [("sym", "==", sym)]
        pruned_files = t.plan_files(filt)
        assert 0 < len(pruned_files) < total, (sym, len(pruned_files), total)
        got = sorted(r["id"] for r in t.to_df(spark, filters=filt).collect())
        want = sorted(
            r["id"] for r in t.to_df(spark).filter(F.col("sym") == sym).collect()
        )
        assert got == want and len(got) == 20
    # a delete rewrite after evolution keeps origin specs intact
    w.delete_files(lambda df: df["partition"].get("sym_bucket") == 0)
    t2 = IcebergTable(w.path)
    n = t2.to_df(spark).count()
    assert 0 < n < 100
    got = sorted(r["id"] for r in t2.to_df(spark, filters=[("sym", "==", "AAPL")]).collect())
    want = sorted(r["id"] for r in t2.to_df(spark).filter("sym = 'AAPL'").collect())
    assert got == want


def test_compact_files_maintenance(spark, tmp_path):
    """Compaction bin-packs small files per partition, APPLIES live v2
    deletes to rewritten rows (sequence-correct), and must not change the
    table's visible content; pre-compaction snapshots stay intact."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    for batch in range(4):  # 4 small files per partition
        w.append(
            [{"id": batch * 10 + i, "grp": "ab"[i % 2]} for i in range(10)]
        )
    f0 = IcebergTable(w.path).plan_files()[0]["file_path"]
    w.delete_rows_position([(f0, 0)])
    w.delete_rows_equality([{"id": 11}])
    before = sorted(
        map(tuple, IcebergTable(w.path).to_df(spark).collect())
    )
    n_files_before = len(IcebergTable(w.path).plan_files())
    snap = compact_files(w, min_file_bytes=32 << 20)
    assert snap is not None
    t = IcebergTable(w.path)
    assert t.current_snapshot["summary"]["operation"] == "replace"
    after = sorted(map(tuple, t.to_df(spark).collect()))
    assert after == before
    n_files_after = len(t.plan_files())
    assert n_files_after < n_files_before
    assert n_files_after == 2  # one consolidated file per partition
    # re-running is a no-op (nothing left to pack)
    assert compact_files(w, min_file_bytes=32 << 20) is None
    # pre-compaction snapshot unchanged
    t.open_snapshot(rel=-1)
    assert sorted(map(tuple, t.to_df(spark).collect())) == before


def test_commit_conflict_detection(tmp_path):
    """Two writers racing on one table: the second commit of the same
    metadata version raises CommitConflictError instead of clobbering
    (O_EXCL create = Iceberg optimistic concurrency)."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import CommitConflictError, IcebergWriter

    fields = [{"id": 1, "name": "x", "type": "long", "required": False}]
    a = IcebergWriter(str(tmp_path / "t"), fields)
    b = IcebergWriter(str(tmp_path / "t"), fields)
    a.append([{"x": 1}])
    with _pytest.raises(CommitConflictError, match="v1 already committed"):
        b.append([{"x": 2}])
    # winner's state is intact and can keep committing
    a.append([{"x": 3}])
    t = IcebergTable(a.path)
    assert len(t.snapshots) == 2


def _stats_publish(w):
    from daskberg_spark.iceberg.statsblobs import publish

    entry = {
        "snapshot-id": w.head_snapshot["snapshot-id"],
        "statistics-path": f"{w.path}/metadata/dummy.stats",
        "file-size-in-bytes": 0,
        "file-footer-size-in-bytes": 0,
        "blob-metadata": [],
    }
    publish(w, [entry])


@pytest.mark.parametrize(
    "lose",
    [
        lambda w: w.append([{"x": 2}]),
        lambda w: w.set_properties({"k": "v"}),
        lambda w: w.set_ref("t1"),
        _stats_publish,
    ],
    ids=["append", "set_properties", "set_ref", "stats_publish"],
)
def test_lost_race_handle_refuses_to_publish(spark, tmp_path, lose):
    """A writer that loses the metadata-version race is poisoned: its
    state is ahead of the table, so its next commit refuses instead of
    linking the next version over the winner's acknowledged commit."""
    from daskberg_spark.iceberg.writer import CommitConflictError, IcebergWriter

    path = str(tmp_path / "t")
    fields = [{"id": 1, "name": "x", "type": "long", "required": False}]
    IcebergWriter(path, fields).append([{"x": 0}])
    a, b = IcebergWriter.load(path), IcebergWriter.load(path)
    a.append([{"x": 1}])
    with pytest.raises(CommitConflictError):
        lose(b)
    with pytest.raises(RuntimeError, match="reload") as refused:
        b.append([{"x": 3}])
    assert not isinstance(refused.value, CommitConflictError)

    def rows():
        return sorted(r.x for r in IcebergTable(path).to_df(spark).collect())

    assert rows() == [0, 1]
    IcebergWriter.load(path).append([{"x": 3}])
    assert rows() == [0, 1, 3]


def test_poisoned_handle_refuses_before_writing(tmp_path):
    """A poisoned handle's next append raises before it writes anything:
    no data file, manifest or manifest list is left under the table."""
    import os

    from daskberg_spark.iceberg.writer import CommitConflictError, IcebergWriter

    path = str(tmp_path / "t")
    fields = [{"id": 1, "name": "x", "type": "long", "required": False}]
    IcebergWriter(path, fields).append([{"x": 0}])
    a, b = IcebergWriter.load(path), IcebergWriter.load(path)
    a.append([{"x": 1}])
    with pytest.raises(CommitConflictError):
        b.append([{"x": 2}])

    def files():
        return sorted(
            os.path.relpath(os.path.join(d, f), path)
            for d, _, names in os.walk(path)
            for f in names
        )

    before = files()
    with pytest.raises(RuntimeError, match="reload"):
        b.append([{"x": 3}])
    assert files() == before


def test_spec_evolution_before_first_commit_leaves_no_version_gap(tmp_path):
    """Evolving the partition spec on an empty table emits nothing; the
    first commit then writes v1, not v2 over a missing v1."""
    import os

    from daskberg_spark.iceberg.writer import IcebergWriter

    path = str(tmp_path / "t")
    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "x", "type": "long", "required": False},
            {"id": 2, "name": "p", "type": "long", "required": False},
        ],
    )
    w.update_partition_spec([{"name": "p", "transform": "identity", "source": "p"}])
    w.append([{"x": 1, "p": 0}])
    meta = sorted(
        f for f in os.listdir(f"{path}/metadata") if f.endswith(".metadata.json")
    )
    assert meta == ["v1.metadata.json"]
    with open(f"{path}/metadata/version-hint.text") as f:
        assert f.read() == "1"
    t = IcebergTable(path)
    assert t.metadata["default-spec-id"] == 1
    assert t.plan_files([("p", "==", 0)]) and not t.plan_files([("p", "==", 1)])


def test_merge_rows_applies_live_deletes(spark, tmp_path):
    """Merging a file that carries v2-deleted rows must not resurrect
    them: live position/equality deletes are applied to the rewrite
    (sequence-correct), and a deleted key matched by an update becomes an
    INSERT of the update row, not an update of a dead row."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"k": i, "v": f"v{i}"} for i in range(6)])
    f0 = IcebergTable(w.path).plan_files()[0]["file_path"]
    w.delete_rows_position([(f0, 0)])     # kills k=0
    w.delete_rows_equality([{"k": 5}])    # kills k=5
    before = {r["k"] for r in IcebergTable(w.path).to_df(spark).collect()}
    assert before == {1, 2, 3, 4}
    w.merge_rows([{"k": 1, "v": "NEW"}, {"k": 5, "v": "BACK"}], ["k"])
    t = IcebergTable(w.path)
    rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    # k=0 stays dead; k=1 updated; k=5 was dead -> re-inserted as update row
    assert rows == {1: "NEW", 2: "v2", 3: "v3", 4: "v4", 5: "BACK"}


def test_merge_rows_after_rename(spark, tmp_path):
    """Merge on a rename-evolved table: pre-rename data files are
    positionally renamed to the current schema, and pre-rename equality
    deletes resolve keys via stable field ids — no resurrection, no
    KeyError."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"k": i, "v": f"v{i}"} for i in range(4)])
    w.delete_rows_equality([{"k": 3}])  # delete file carries old name "k"
    w.rename_column("k", "key")
    w.append([{"key": 10, "v": "v10"}])
    w.merge_rows([{"key": 1, "v": "NEW"}], ["key"])
    t = IcebergTable(w.path)
    rows = {r["key"]: r["v"] for r in t.to_df(spark).collect()}
    assert rows == {0: "v0", 1: "NEW", 2: "v2", 10: "v10"}


def test_merge_rows_spark_distributed(spark, tmp_path):
    """Distributed copy-on-write MERGE: Spark rewrites only matched
    files (deletes applied via the tagged scan), inserts unmatched keys,
    and the metadata overwrite commit tombstones originals — results
    identical to the relational expectation; untouched files carry
    forward."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, merge_rows_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    w.append([{"k": 3, "v": "c"}, {"k": 4, "v": "d"}])
    w.delete_rows_equality([{"k": 2}])
    t0 = IcebergTable(w.path)
    untouched = {
        f["file_path"]
        for f in t0.plan_files()
        if f["file_path"].endswith(
            tuple(
                p["file_path"].split("/")[-1]
                for p in t0.plan_files()
                if "00002" in p["file_path"]
            )
        )
    }
    updates = spark.createDataFrame(
        [(1, "NEW"), (9, "INS")], "k long, v string"
    )
    merge_rows_spark(w, spark, updates, ["k"])
    t = IcebergTable(w.path)
    assert t.current_snapshot["summary"]["operation"] == "overwrite"
    rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    # k=2 stays deleted (not resurrected by the rewrite of file 1)
    assert rows == {1: "NEW", 3: "c", 4: "d", 9: "INS"}
    # the second append's file was untouched by the merge
    now = {f["file_path"] for f in t.plan_files()}
    assert any(p in now for p in untouched) or not untouched
    # time travel: pre-merge state intact
    t.open_snapshot(rel=-1)
    assert {r["k"] for r in t.to_df(spark).collect()} == {1, 3, 4}


def test_merge_rows_mor_spark(spark, tmp_path):
    """Merge-on-read MERGE: matched rows tombstone via deletion vectors
    (no data file rewritten), updates + inserts append in the SAME
    overwrite commit, repeat merges keep the one-DV-per-file invariant,
    and partitioned tables land cross-partition moves prunably."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        merge_rows_mor_spark,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": 1, "grp": "a", "v": 1.0}, {"k": 2, "grp": "b", "v": 2.0}])
    w.append([{"k": 3, "grp": "c", "v": 3.0}])
    pre_files = {f["file_path"] for f in IcebergTable(w.path).plan_files()}
    updates = spark.createDataFrame(
        [(2, "a", 20.0), (9, "z", 9.0)], "k long, grp string, v double"
    )
    merge_rows_mor_spark(w, spark, updates, ["k"])
    t = IcebergTable(w.path)
    assert t.current_snapshot["summary"]["operation"] == "overwrite"
    rows = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {1: ("a", 1.0), 2: ("a", 20.0), 3: ("c", 3.0), 9: ("z", 9.0)}
    # merge-on-read: every pre-merge data file is still live (no rewrite)
    now = {f["file_path"] for f in t.plan_files()}
    assert pre_files <= now
    # the matched row is suppressed by a DV, not a rewrite
    dvs = [d for d in t.plan_deletes() if d.get("referenced_data_file")]
    assert len(dvs) == 1 and dvs[0]["record_count"] == 1
    # cross-partition move pruned on FINAL values
    a_rows = {
        r["k"] for r in t.to_df(spark, filters=[("grp", "==", "a")]).collect()
    }
    assert a_rows == {1, 2}
    # second merge touching an already-DV'd file: positions merge, one
    # DV per target file survives (v3 invariant)
    merge_rows_mor_spark(
        w,
        spark,
        spark.createDataFrame([(1, "a", 100.0)], "k long, grp string, v double"),
        ["k"],
    )
    t = IcebergTable(w.path)
    rows = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert rows == {1: 100.0, 2: 20.0, 3: 3.0, 9: 9.0}
    by_target: dict[str, int] = {}
    for d in t.plan_deletes():
        if d.get("referenced_data_file"):
            by_target[d["referenced_data_file"]] = (
                by_target.get(d["referenced_data_file"], 0) + 1
            )
    assert by_target and all(n == 1 for n in by_target.values())
    # time travel: pre-merge state intact
    t.open_snapshot(rel=-2)
    assert {r["k"] for r in t.to_df(spark).collect()} == {1, 2, 3}


def test_drop_column_and_reuse_name(spark, tmp_path):
    """drop_column: projected away for old files, refused for partition
    sources, and a LATER column reusing the dropped name gets a fresh
    field id — old data must not resurrect under it."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    w.append([{"id": 1, "val": 10.0}, {"id": 2, "val": 20.0}])
    w.drop_column("val")
    t = IcebergTable(w.path)
    assert [f.name for f in t.to_df(spark).schema.fields] == ["id"]
    # fresh column under the recycled NAME: fresh id → old bytes stay dead
    w.add_column("val", "double")
    w.append([{"id": 3, "val": 99.0}])
    t = IcebergTable(w.path)
    rows = {r["id"]: r["val"] for r in t.to_df(spark).collect()}
    assert rows == {1: None, 2: None, 3: 99.0}
    # partition sources cannot be dropped
    wp = IcebergWriter(
        str(tmp_path / "p"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    with _pytest.raises(ValueError, match="partition-spec source"):
        wp.drop_column("grp")


def test_type_promotion(spark, tmp_path):
    """Spec type promotion: int→long and float→double widen in place —
    narrow-typed old files cast up on read, stats pruning still fires
    through the narrower bound bytes, and illegal promotions raise."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "int", "required": False},
            {"id": 2, "name": "v", "type": "float", "required": False},
        ],
    )
    w.append([{"k": 1, "v": 1.5}, {"k": 2, "v": 2.5}])
    w.update_column_type("k", "long")
    w.update_column_type("v", "double")
    big = 2**40
    w.append([{"k": big, "v": 1e300}])  # values only the wide types hold
    t = IcebergTable(p)
    df = t.to_df(spark)
    assert dict(df.dtypes) == {"k": "bigint", "v": "double"}
    rows = {r["k"]: r["v"] for r in df.collect()}
    assert rows[big] == 1e300 and abs(rows[1] - 1.5) < 1e-6
    # pruning through the pre-promotion 4-byte bounds still fires: only
    # the new file can hold k = 2^40
    assert len(t.plan_files([("k", "==", big)])) == 1
    assert {r["k"] for r in t.to_df(spark, filters=[("k", "<=", 2)]).collect()} == {1, 2}
    with _pytest.raises(ValueError, match="illegal type promotion"):
        w.update_column_type("k", "int")
    with _pytest.raises(ValueError, match="illegal type promotion"):
        w.update_column_type("v", "string")


def test_initial_default_column(spark, tmp_path):
    """v3 initial-default: files written before the column existed read
    the default (zero-IO backfill) in batch AND streaming; the writer
    applies write-default for rows that omit the column."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}, {"id": 2}])
    w.add_column("score", "double", default=1.5)
    w.append([{"id": 3, "score": 9.0}, {"id": 4}])  # 4 omits → write-default
    t = IcebergTable(p)
    rows = {r["id"]: r["score"] for r in t.to_df(spark).collect()}
    assert rows == {1: 1.5, 2: 1.5, 3: 9.0, 4: 1.5}
    # explicit None stays NULL (write-default fills only omitted keys)
    w.append([{"id": 5, "score": None}])
    rows = {
        r["id"]: r["score"] for r in IcebergTable(p).to_df(spark).collect()
    }
    assert rows[5] is None

    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .load()
        .writeStream.format("memory")
        .queryName("ice_defaults")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        srows = {
            r["id"]: r["score"]
            for r in spark.table("ice_defaults").collect()
        }
        assert srows == {1: 1.5, 2: 1.5, 3: 9.0, 4: 1.5, 5: None}
    finally:
        q.stop()


def test_changelog_rows_df(spark, tmp_path):
    """Row-level changelog vs every delete flavor: DV and equality
    deletes (invisible to the file-level diff) surface as 'delete' rows;
    appends and re-inserts surface as 'insert'; the base snapshot state
    is restored afterwards."""
    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": i} for i in range(10)])
    delete_where_dv_spark(w, spark, "k IN (2, 5)")
    w.delete_rows_equality([{"k": 7}])
    w.append([{"k": 7}, {"k": 100}])  # re-insert 7 + a fresh row
    t = IcebergTable(p)
    changes = changelog_rows_df(t, spark, from_rel=-3).collect()
    got = {(r["_change_type"], r["k"]) for r in changes}
    assert got == {
        ("delete", 2),
        ("delete", 5),
        ("delete", 7),
        ("insert", 7),
        ("insert", 100),
    }
    # current snapshot restored
    assert sorted(r["k"] for r in t.to_df(spark).collect()) == [
        0, 1, 3, 4, 6, 7, 8, 9, 100,
    ]
    # file-level changelog misses the DV/equality deletes entirely
    filelevel = t.diff_df(spark, from_rel=-3, changelog=True).collect()
    assert {r["_change_type"] for r in filelevel} == {"insert"}


def test_changelog_rows_metadata_delta_pruning(spark, tmp_path):
    """The row-level changelog must scan the window's DELTA, not the
    table twice (r7 verdict `weak`): an append-only window reads only
    the added file; a DV-delete window reads only the targeted file; an
    equality delete reads only the files whose footer key-range stats
    overlap its keys (applies by value, but sequence + stats still
    bound it).  ``DataFrame.inputFiles()`` is the witness."""
    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    for i in range(6):  # six untouched data files
        w.append([{"k": i * 10 + j} for j in range(5)])

    def data_inputs(df):
        import re as _re

        data = {
            _re.sub("^file:/*", "/", f)
            for f in df.inputFiles()
            if "/data/" in f and f.endswith(".parquet")
        }
        plan = {f["file_path"] for f in IcebergTable(p).plan_files()}
        return {f for f in data if f in plan}

    # append-only window: ONLY the new file is read
    w.append([{"k": 100}])
    t = IcebergTable(p)
    df = changelog_rows_df(t, spark, from_rel=-1)
    assert len(data_inputs(df)) == 1
    assert {(r["_change_type"], r["k"]) for r in df.collect()} == {
        ("insert", 100)
    }
    # DV-delete window: only the TARGETED file is read (twice logically,
    # once per side — inputFiles dedups)
    delete_where_dv_spark(w, spark, "k = 23")
    t = IcebergTable(p)
    df = changelog_rows_df(t, spark, from_rel=-1)
    assert len(data_inputs(df)) == 1
    assert {(r["_change_type"], r["k"]) for r in df.collect()} == {
        ("delete", 23)
    }
    # position-delete window: targets derived from the delete parquet's
    # file_path column — still only the targeted file
    from daskberg_spark.iceberg.writer import delete_where_spark

    delete_where_spark(w, spark, "k = 41")
    t = IcebergTable(p)
    df = changelog_rows_df(t, spark, from_rel=-1)
    assert len(data_inputs(df)) == 1
    assert {(r["_change_type"], r["k"]) for r in df.collect()} == {
        ("delete", 41)
    }
    # equality delete: key-range stats prune the rescan to the ONE file
    # whose bounds cover k=2 (the others' [10-14]...[50-54] ranges miss)
    w.delete_rows_equality([{"k": 2}])
    t = IcebergTable(p)
    df = changelog_rows_df(t, spark, from_rel=-1)
    assert len(data_inputs(df)) == 1
    assert {(r["_change_type"], r["k"]) for r in df.collect()} == {
        ("delete", 2)
    }
    # empty window reads nothing and returns no rows
    df = changelog_rows_df(t, spark, from_rel=-1, filters=[("k", "<", -1)])
    assert df.count() == 0


def test_changelog_rows_net_changes(spark, tmp_path):
    """net_changes=True (real Iceberg carry-over elimination): a row
    deleted and re-inserted inside the window nets out, and compaction
    churn (delete+insert pairs with identical content) disappears while
    genuine changes survive — multiset-exact (two identical deleted rows
    stay two delete rows)."""
    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 1}, {"k": 2}, {"k": 2}, {"k": 3}])
    delete_where_dv_spark(w, spark, "k = 1")  # delete ...
    w.append([{"k": 1}, {"k": 9}])  # ... and re-insert in the window
    t = IcebergTable(p)
    raw = [
        (r["_change_type"], r["k"])
        for r in changelog_rows_df(t, spark, from_rel=-2).collect()
    ]
    assert sorted(raw) == [("delete", 1), ("insert", 1), ("insert", 9)]
    net = [
        (r["_change_type"], r["k"])
        for r in changelog_rows_df(
            t, spark, from_rel=-2, net_changes=True
        ).collect()
    ]
    assert net == [("insert", 9)]  # the delete+re-insert of k=1 nets out
    # compaction re-keys (file, pos) identity: raw changelog shows the
    # rewrite churn, net_changes elides it entirely
    assert compact_files(w) is not None
    t = IcebergTable(p)
    raw = changelog_rows_df(t, spark, from_rel=-1).collect()
    assert len(raw) > 0  # delete+insert pairs from the rewrite
    assert (
        changelog_rows_df(t, spark, from_rel=-1, net_changes=True).count()
        == 0
    )
    # multiset semantics: deleting BOTH k=2 duplicates nets to TWO deletes
    delete_where_dv_spark(w, spark, "k = 2")
    t = IcebergTable(p)
    net = [
        (r["_change_type"], r["k"])
        for r in changelog_rows_df(
            t, spark, from_rel=-1, net_changes=True
        ).collect()
    ]
    assert sorted(net) == [("delete", 2), ("delete", 2)]


def test_changelog_rows_across_schema_evolution(spark, tmp_path):
    """Row-level changelog spanning add/rename/drop evolution: both
    change sides surface under the CURRENT schema (field-id alignment —
    renamed columns under new names, added columns default/null-filled,
    dropped columns absent), and a non-negative from_rel errors instead
    of silently returning an empty changelog."""
    import pytest as _pytest

    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "old", "type": "string", "required": False},
        ],
    )
    w.append([{"k": 1, "old": "x"}, {"k": 2, "old": "y"}])
    w.rename_column("old", "label")
    w.add_column("boost", "double", default=2.5)
    w.drop_column("boost")  # exercise drop inside the window too
    w.add_column("score", "double", default=1.0)
    delete_where_dv_spark(w, spark, "k = 1")
    w.append([{"k": 3, "label": "z", "score": 7.0}])
    t = IcebergTable(p)
    changes = {
        (r["_change_type"], r["k"], r["label"], r["score"])
        for r in changelog_rows_df(t, spark, from_rel=-2).collect()
    }
    assert changes == {
        ("delete", 1, "x", 1.0),  # base row under CURRENT names + default
        ("insert", 3, "z", 7.0),
    }
    with _pytest.raises(ValueError, match="negative"):
        changelog_rows_df(t, spark, from_rel=1)
    with _pytest.raises(ValueError, match="negative"):
        t.diff_df(spark, from_rel=0)


def test_metadata_tables(spark, tmp_path):
    """Inspect surface (files / delete_files / manifests / history
    DataFrames): counts and lineage flags reflect the reconciled state,
    including DVs and a rollback-truncated history."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(10)])
    s1 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": i} for i in range(10, 20)])
    delete_where_dv_spark(w, spark, "id = 3")
    t = IcebergTable(p)

    files = t.files_df(spark).collect()
    assert len(files) == 2
    assert sum(r["record_count"] for r in files) == 20
    assert all(r["file_format"] == "PARQUET" and r["content"] == 0 for r in files)

    dels = t.delete_files_df(spark).collect()
    assert len(dels) == 1
    assert dels[0]["file_format"] == "PUFFIN" and dels[0]["record_count"] == 1
    assert dels[0]["referenced_data_file"] in {r["file_path"] for r in files}

    mans = t.manifests_df(spark).collect()
    assert len(mans) == len(t.manifest_list)

    rollback_to(w, s1)
    t = IcebergTable(p)
    hist = t.history_df(spark).collect()
    assert [r["snapshot_id"] for r in hist] == [s1]
    assert all(r["is_current_ancestor"] for r in hist)
    assert len(t.files_df(spark).collect()) == 1  # rolled back to one file


def test_update_where_mor_spark(spark, tmp_path):
    """Merge-on-read UPDATE: predicate rows DV-tombstone and re-append
    with expression assignments applied; no-match returns None without a
    commit; partitioned tables land moved rows prunably."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        update_where_mor_spark,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": i, "grp": "ab"[i % 2], "v": float(i)} for i in range(10)])
    n_snapshots = len(w.snapshots)
    assert update_where_mor_spark(w, spark, "k > 99", {"v": "0.0"}) is None
    assert len(w.snapshots) == n_snapshots  # no empty commit

    sid = update_where_mor_spark(
        w, spark, "k >= 6", {"grp": "'z'", "v": "v * 10"}
    )
    assert sid is not None
    t = IcebergTable(w.path)
    rows = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    expect = {
        i: ("z" if i >= 6 else "ab"[i % 2], float(i) * (10 if i >= 6 else 1))
        for i in range(10)
    }
    assert rows == expect
    # moved rows pruned on final partition value
    z = {r["k"] for r in t.to_df(spark, filters=[("grp", "==", "z")]).collect()}
    assert z == {6, 7, 8, 9}
    # pre-update data files still live (no rewrite), matched rows DV'd
    dvs = [d for d in t.plan_deletes() if d.get("referenced_data_file")]
    assert dvs and all(d["record_count"] >= 1 for d in dvs)
    t.open_snapshot(rel=-1)
    assert {r["v"] for r in t.to_df(spark).collect()} == {float(i) for i in range(10)}


def test_compact_files_spark_distributed(spark, tmp_path):
    """Distributed compaction consolidates small files via the
    delete-aware tagged scan; content invariant, file count drops."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    for batch in range(5):
        w.append([{"x": batch * 10 + i} for i in range(10)])
    f0 = IcebergTable(w.path).plan_files()[0]["file_path"]
    w.delete_rows_position([(f0, 0)])
    w.delete_rows_equality([{"x": 42}])
    before = sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect())
    n_before = len(IcebergTable(w.path).plan_files())
    snap = compact_files_spark(w, spark)
    assert snap is not None
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == before
    assert len(t.plan_files()) == 1 < n_before
    assert compact_files_spark(w, spark) is None  # nothing left to pack


def test_merge_rows_spark_partitioned(spark, tmp_path):
    """Distributed merge on an identity-partitioned table: rewrites land
    hive-partitioned on FINAL row values (cross-partition moves prune
    correctly), inserts create new partitions."""
    from daskberg_spark.iceberg.writer import IcebergWriter, merge_rows_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": 1, "grp": "a", "v": 1.0}, {"k": 2, "grp": "b", "v": 2.0}])
    w.append([{"k": 3, "grp": "c", "v": 3.0}])
    updates = spark.createDataFrame(
        [(2, "a", 20.0), (9, "z", 9.0)], "k long, grp string, v double"
    )
    merge_rows_spark(w, spark, updates, ["k"])
    t = IcebergTable(w.path)
    rows = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {1: ("a", 1.0), 2: ("a", 20.0), 3: ("c", 3.0), 9: ("z", 9.0)}
    # partition metadata is prunable on final values
    a_rows = {r["k"] for r in t.to_df(spark, filters=[("grp", "==", "a")]).collect()}
    assert a_rows == {1, 2}
    files_a = t.plan_files([("grp", "==", "a")])
    assert 0 < len(files_a) < len(t.plan_files())


def test_streaming_sink_epoch_idempotent(spark, tmp_path):
    """Restart-time replay through the ACTUAL sink callable is a no-op:
    the epoch id recorded in the snapshot summary dedups commits, so a
    replayed micro-batch commits no duplicate snapshot and no duplicate
    rows."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.events import iceberg_epoch_sink

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    sink = iceberg_epoch_sink(w)
    df = spark.range(5).select(F.col("id").alias("x"))
    sink(df, 0)
    assert len(w.snapshots) == 1
    # simulated restart: the stream replays epoch 0, then advances
    sink(df, 0)
    assert len(w.snapshots) == 1  # replay committed nothing
    sink(spark.range(5, 8).select(F.col("id").alias("x")), 1)
    t_mid = IcebergTable(w.path)
    assert sorted(r["x"] for r in t_mid.to_df(spark).collect()) == list(range(8))
    # epoch ids are durably recorded in the snapshot summaries
    assert [s["summary"].get("epoch-id") for s in w.snapshots] == ["0", "1"]
    assert len(w.snapshots) == 2
    # a replay arriving AFTER later epochs is still a no-op
    sink(df, 0)
    assert len(w.snapshots) == 2


def test_streaming_sink_epoch_partitioned(spark, tmp_path):
    """Partitioned epoch sink: each micro-batch hive-partitions on the
    dup column, the commit lifts spec-keyed partition values, and the
    streamed table prunes exactly like a batch-written one; replay
    stays a no-op."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.events import iceberg_epoch_sink

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "x", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    sink = iceberg_epoch_sink(w, partition_col="grp", path_col="pgrp")
    df0 = spark.range(6).select(
        F.col("id").alias("x"),
        F.expr("CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END").alias("grp"),
        F.expr("CASE WHEN id % 2 = 0 THEN 'a' ELSE 'b' END").alias("pgrp"),
    )
    sink(df0, 0)
    sink(df0, 0)  # replay: no-op
    assert len(w.snapshots) == 1
    sink(
        spark.range(6, 9).select(
            F.col("id").alias("x"),
            F.lit("c").alias("grp"),
            F.lit("c").alias("pgrp"),
        ),
        1,
    )
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == list(range(9))
    # spec-keyed partition values drive pruning
    files_a = t.plan_files([("grp", "==", "a")])
    assert 0 < len(files_a) < len(t.plan_files())
    assert {r["x"] for r in t.to_df(spark, filters=[("grp", "==", "c")]).collect()} == {6, 7, 8}


def test_merge_rows_spark_multifield_partitioned(spark, tmp_path):
    """Distributed merge on a TWO-field spec (identity + bucket): the
    hive lift records both transformed values, so pruning works on
    either field after the rewrite."""
    from daskberg_spark.iceberg.transforms import bucket
    from daskberg_spark.iceberg.writer import IcebergWriter, merge_rows_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [
            {"name": "grp", "transform": "identity", "source": "grp"},
            {"name": "k_bucket", "transform": "bucket[4]", "source": "k"},
        ],
    )
    w.append([{"k": 1, "grp": "a", "v": 1.0}, {"k": 2, "grp": "b", "v": 2.0}])
    w.append([{"k": 3, "grp": "c", "v": 3.0}])
    updates = spark.createDataFrame(
        [(2, "a", 20.0), (9, "z", 9.0)], "k long, grp string, v double"
    )
    merge_rows_spark(w, spark, updates, ["k"])
    t = IcebergTable(w.path)
    rows = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert rows == {1: ("a", 1.0), 2: ("a", 20.0), 3: ("c", 3.0), 9: ("z", 9.0)}
    # prunable on the identity field
    assert {r["k"] for r in t.to_df(spark, filters=[("grp", "==", "a")]).collect()} == {1, 2}
    assert 0 < len(t.plan_files([("grp", "==", "a")])) < len(t.plan_files())
    # prunable on the bucket field (spec-exact murmur3)
    files_k9 = t.plan_files([("k", "==", 9)])
    assert 0 < len(files_k9) < len(t.plan_files())
    bfield = [f["partition"].get("k_bucket") for f in files_k9]
    assert bucket(9, 4) in bfield


def test_merge_rows_spark_duplicate_keys_raise(spark, tmp_path):
    """A duplicate key in updates would fan out the rewrite join and
    silently duplicate matched rows — it must raise, as in merge_rows."""
    from daskberg_spark.iceberg.writer import IcebergWriter, merge_rows_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"k": 1, "v": "a"}])
    updates = spark.createDataFrame(
        [(1, "x"), (1, "y")], "k long, v string"
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_rows_spark(w, spark, updates, ["k"])


def test_merge_rows_spark_null_update_writes_null(spark, tmp_path):
    """SQL MERGE ... SET v = NULL semantics: an explicit NULL in the
    update REPLACES the old value (presence-marker join, not coalesce),
    matching merge_rows' {**row, **update}."""
    from daskberg_spark.iceberg.writer import IcebergWriter, merge_rows_spark

    fields = [
        {"id": 1, "name": "k", "type": "long", "required": False},
        {"id": 2, "name": "v", "type": "string", "required": False},
    ]
    # distributed path
    w = IcebergWriter(str(tmp_path / "t1"), fields)
    w.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    updates = spark.createDataFrame([(1, None)], "k long, v string")
    merge_rows_spark(w, spark, updates, ["k"])
    rows = {r["k"]: r["v"] for r in IcebergTable(w.path).to_df(spark).collect()}
    assert rows == {1: None, 2: "b"}
    # driver path agrees (twin-parity)
    w2 = IcebergWriter(str(tmp_path / "t2"), fields)
    w2.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    w2.merge_rows([{"k": 1, "v": None}], ["k"])
    rows2 = {r["k"]: r["v"] for r in IcebergTable(w2.path).to_df(spark).collect()}
    assert rows2 == rows


def test_merge_rows_spark_unhinted_above_size_gate(spark, tmp_path, monkeypatch):
    """Above the size gate the update join must carry no forced broadcast
    hint (AQE decides); the merge still produces the correct table."""
    import daskberg_spark.iceberg.writer as wr

    monkeypatch.setattr(wr, "BROADCAST_UPDATES_MAX_BYTES", 0)
    w = wr.IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"k": 1, "v": "a"}, {"k": 2, "v": "b"}])
    updates = spark.createDataFrame([(1, "NEW")], "k long, v string")
    # direct check: the gate refuses the hint for this "large" frame
    hinted = wr._maybe_broadcast_updates(updates)
    assert "ResolvedHint" not in hinted._jdf.queryExecution().logical().toString()
    wr.merge_rows_spark(w, spark, updates, ["k"])
    rows = {r["k"]: r["v"] for r in IcebergTable(w.path).to_df(spark).collect()}
    assert rows == {1: "NEW", 2: "b"}


def test_expire_snapshots_retains_ref_pinned(spark, tmp_path):
    """A tag/branch ref pins its snapshot through expiration (Iceberg
    ref-reachability): open_snapshot(ref=...) keeps working and
    remove_orphan_files keeps the pinned snapshot's data."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        expire_snapshots,
        remove_orphan_files,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}])
    pinned_snap = w.snapshots[-1]["snapshot-id"]
    w.set_ref("release-1", "tag", pinned_snap)
    w.append([{"x": 2}])
    w.append([{"x": 3}])
    expired = expire_snapshots(w, keep_last=1)
    # middle snapshot expired; pinned + head retained
    kept = {s["snapshot-id"] for s in w.snapshots}
    assert pinned_snap in kept and len(expired) == 1
    removed = remove_orphan_files(w.path)
    t = IcebergTable(w.path)
    t.open_snapshot(ref="release-1")
    assert {r["x"] for r in t.to_df(spark).collect()} == {1}
    t2 = IcebergTable(w.path)
    assert {r["x"] for r in t2.to_df(spark).collect()} == {1, 2, 3}
    # nothing reachable was deleted: no data files, only the expired
    # middle snapshot's metadata avro
    assert [p for p in removed if p.endswith(".parquet")] == []


def test_orphan_sweep_age_guard(spark, tmp_path):
    """remove_orphan_files(older_than_ms=): recent unreferenced files
    (a concurrent writer's staging) survive the sweep; old orphans and
    referenced files behave as before."""
    import os as _os
    import time as _time

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        remove_orphan_files,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "long", "required": False}]
    )
    w.append([{"x": 1}])
    old_orphan = f"{p}/data/zz-old-orphan.parquet"
    fresh_stage = f"{p}/data/zz-fresh-stage.parquet"
    for f in (old_orphan, fresh_stage):
        with open(f, "wb") as fh:
            fh.write(b"not really parquet")
    cutoff = int(_time.time() * 1000) + 60_000
    _os.utime(old_orphan, (0, 0))  # epoch mtime → well before any cutoff
    removed = remove_orphan_files(p, older_than_ms=cutoff - 120_000)
    assert old_orphan in removed and fresh_stage not in removed
    assert _os.path.exists(fresh_stage)
    # without the guard the fresh staging file is swept too
    removed = remove_orphan_files(p)
    assert fresh_stage in removed
    t = IcebergTable(p)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [1]


def test_orphan_sweep_age_guard_metadata(spark, tmp_path):
    """Regression (r8 advice): the include_metadata sweep must honor the
    same older_than_ms age guard as the data sweep — a concurrent writer
    writes manifests and the manifest list BEFORE linking the metadata
    JSON, so deleting a fresh unreferenced avro can break an in-flight
    commit."""
    import os as _os
    import time as _time

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        remove_orphan_files,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "long", "required": False}]
    )
    w.append([{"x": 1}])
    old_avro = f"{p}/metadata/zz-old-orphan.avro"
    fresh_avro = f"{p}/metadata/zz-inflight-commit.avro"
    for f in (old_avro, fresh_avro):
        with open(f, "wb") as fh:
            fh.write(b"not really avro")
    cutoff = int(_time.time() * 1000) + 60_000
    _os.utime(old_avro, (0, 0))
    removed = remove_orphan_files(
        p, older_than_ms=cutoff - 120_000, include_metadata=True
    )
    assert old_avro in removed and fresh_avro not in removed
    assert _os.path.exists(fresh_avro)
    # without the guard the fresh avro is reclaimable as before
    removed = remove_orphan_files(p, include_metadata=True)
    assert fresh_avro in removed
    t = IcebergTable(p)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [1]


def test_dv_sharded_commit(spark, tmp_path, monkeypatch):
    """r7 verdict item 4: above the blob-volume gate, deletion-vector
    blobs never reach the driver — executor tasks write per-partition
    puffin SHARDS and ship only slim metadata rows.  Forced here with a
    tiny gate: results, the one-DV-per-file invariant, and prior-DV
    merging must be identical to the single-puffin path."""
    import glob as _glob

    import daskberg_spark.iceberg.writer as writer_mod
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        merge_rows_mor_spark,
    )

    monkeypatch.setattr(writer_mod, "DV_SHARD_FILE_GATE", 2)
    monkeypatch.setattr(writer_mod, "DV_BLOBS_PER_SHARD", 2)
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    for g in range(5):  # five data files, every one touched by the delete
        w.append([{"id": g * 10 + j, "v": float(g)} for j in range(8)])
    delete_where_dv_spark(w, spark, "id % 10 IN (3, 7)")
    shards = _glob.glob(f"{p}/data/dv-*-shard.puffin")
    assert len(shards) >= 2, shards  # 5 files under a 2-blob budget
    t = IcebergTable(p)
    expect = [g * 10 + j for g in range(5) for j in range(8) if j not in (3, 7)]
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == sorted(expect)
    live = t.plan_deletes()
    assert len(live) == 5
    assert len({d["referenced_data_file"] for d in live}) == 5
    # second sharded delete: prior blobs merge executor-side and the
    # superseded shard entries tombstone — still one live DV per file
    delete_where_dv_spark(w, spark, "id % 10 = 0")
    t = IcebergTable(p)
    expect = [k for k in expect if k % 10 != 0]
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == sorted(expect)
    live = t.plan_deletes()
    assert len(live) == 5
    assert len({d["referenced_data_file"] for d in live}) == 5
    # MOR MERGE through the sharded path: updates touch every file
    updates = spark.createDataFrame(
        [(g * 10 + 1, -1.0) for g in range(5)] + [(900, 9.0)],
        "id long, v double",
    )
    merge_rows_mor_spark(w, spark, updates, ["id"])
    t = IcebergTable(p)
    rows = {r["id"]: r["v"] for r in t.to_df(spark).collect()}
    assert rows[900] == 9.0
    assert all(rows[g * 10 + 1] == -1.0 for g in range(5))
    assert sorted(rows) == sorted(set(expect) | {900})


def test_dv_one_per_file_invariant_under_wap_pin(spark, tmp_path):
    """Regression (r8 advice): live-DV discovery for the one-DV-per-file
    invariant must plan from the WRITER's manifest chain, not the
    metadata's current-snapshot-id — while a WAP stage pins main, the
    latter is the PINNED snapshot, so a DV committed earlier in the
    staged chain went unmerged and a second live DV for the same data
    file was committed."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        stage_append,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(20)])  # published, one data file
    stage_append(w, [{"id": 100}], "audit")  # pins main behind the stage
    delete_where_dv_spark(w, spark, "id = 3")  # DV1, staged chain
    delete_where_dv_spark(w, spark, "id = 5")  # must merge+tombstone DV1
    t = IcebergTable(p)
    # plain readers still see the pinned pre-stage table
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == list(range(20))
    # at the staged head: exactly ONE live DV per data file, holding the
    # union of both deletes (a newest-DV-only reader must see position 3)
    t.open_snapshot(snapshot_id=w.snapshots[-1]["snapshot-id"])
    live = t.plan_deletes()
    per_file: dict[str, int] = {}
    for d in live:
        per_file[d["referenced_data_file"]] = (
            per_file.get(d["referenced_data_file"], 0) + 1
        )
    assert per_file and max(per_file.values()) == 1, per_file
    got = sorted(r["id"] for r in t.to_df(spark).collect())
    assert got == [i for i in range(20) if i not in (3, 5)] + [100]


def test_expire_snapshots_older_than(spark, tmp_path):
    """Timestamp retention composes with keep_last as a conjunction
    (real expireSnapshots semantics): only snapshots both outside the
    keep window AND older than the cutoff expire."""
    from daskberg_spark.iceberg.writer import IcebergWriter, expire_snapshots

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    for i in range(4):
        w.append([{"x": i}])
    ts = [s["timestamp-ms"] for s in w.snapshots]
    sids = [s["snapshot-id"] for s in w.snapshots]
    # cutoff between snapshots 2 and 3: snapshots 1-2 are "old"
    cutoff = ts[2]
    # keep_last=3 protects snapshots 2,3,4 even though 2 is old
    expired = expire_snapshots(w, keep_last=3, older_than_ms=cutoff)
    assert expired == [sids[0]]
    kept = {s["snapshot-id"] for s in w.snapshots}
    assert kept == set(sids[1:])
    # with keep_last=1, age now governs: snapshot 2 expires, 3-4 inside
    # the cutoff survive
    expired = expire_snapshots(w, keep_last=1, older_than_ms=cutoff)
    assert expired == [sids[1]]
    assert {s["snapshot-id"] for s in w.snapshots} == set(sids[2:])
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [0, 1, 2, 3]


def test_compact_files_spark_partitioned(spark, tmp_path):
    """Distributed compaction on a partitioned table with live v2
    deletes: per-partition consolidation, content invariant, pruning
    still works, partitions with a single small file left alone."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "x", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    for batch in range(3):
        w.append([{"x": batch * 10 + i, "grp": "a"} for i in range(5)])
        w.append([{"x": 100 + batch * 10 + i, "grp": "b"} for i in range(5)])
    w.append([{"x": 999, "grp": "solo"}])
    f0 = next(
        f["file_path"]
        for f in IcebergTable(w.path).plan_files()
        if f["partition"].get("grp") == "a"
    )
    w.delete_rows_position([(f0, 0)])
    w.delete_rows_equality([{"x": 101}])
    before = sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect())
    snap = compact_files_spark(w, spark)
    assert snap is not None
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == before
    files = t.plan_files()
    by_grp: dict[str, int] = {}
    for f in files:
        g = f["partition"].get("grp")
        by_grp[g] = by_grp.get(g, 0) + 1
    # a and b consolidated to 1 data file each; solo untouched
    data_files = {
        g: n for g, n in by_grp.items() if g in ("a", "b", "solo")
    }
    assert data_files["a"] == 1 and data_files["b"] == 1 and data_files["solo"] == 1
    assert {r["x"] for r in t.to_df(spark, filters=[("grp", "==", "solo")]).collect()} == {999}


def test_commit_spark_overwrite_unmatched_removed_raises(spark, tmp_path):
    """A removed path that matches no live manifest entry must raise —
    silently skipping it would leave the original live next to its
    rewrite (duplicated rows)."""
    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_overwrite

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}])
    d = str(tmp_path / "out")
    spark.range(1).select(F.col("id").alias("x")).write.mode("overwrite").parquet(d)
    with pytest.raises(ValueError, match="matched no live manifest entry"):
        commit_spark_overwrite(w, d, [str(tmp_path / "t/data/nope.parquet")])


def test_scheme_prefixed_position_deletes_apply(spark, tmp_path):
    """Position deletes referencing file:-prefixed paths still apply
    during driver-side rewrites (path normalization parity with the
    scan layer)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}, {"x": 2}])
    f0 = IcebergTable(w.path).plan_files()[0]["file_path"]
    w.delete_rows_position([("file://" + f0, 0)])
    w.merge_rows([{"x": 2, }], ["x"])  # rewrite the file; delete must hold
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == [2]


def test_compact_files_spark_sorted_clustering(spark, tmp_path):
    """Sorted compaction makes stats pruning effective: interleaved
    appends produce files whose footer bounds all span the full value
    range (a point predicate prunes nothing); a range-clustered rewrite
    yields files with disjoint bounds, so the same predicate reads a
    strict subset."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    # every append spans the whole domain → overlapping bounds everywhere
    for batch in range(4):
        w.append([{"x": v} for v in range(batch, 100 + batch, 4)])
    t0 = IcebergTable(w.path)
    n_files_before = len(t0.plan_files())
    assert len(t0.plan_files([("x", "==", 5)])) == n_files_before  # no pruning
    before = sorted(r["x"] for r in t0.to_df(spark).collect())

    snap = compact_files_spark(w, spark, target_partitions=4, sort_by=["x"])
    assert snap is not None
    t = IcebergTable(w.path)
    assert sorted(r["x"] for r in t.to_df(spark).collect()) == before
    files = t.plan_files()
    assert len(files) == 4
    hit = t.plan_files([("x", "==", 5)])
    assert len(hit) == 1  # disjoint ranges: point lookup reads ONE file
    assert {r["x"] for r in t.to_df(spark, filters=[("x", "==", 5)]).collect()} == {5}


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish via branch refs: staged commits are invisible
    to plain readers until publish; audit reads see them via the branch;
    abort discards them and the table keeps working."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        abort_stage,
        publish_branch,
        stage_append,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w.append([{"x": 1}, {"x": 2}])

    stage_append(w, [{"x": 3}], "wap")
    # plain readers: pre-stage state
    assert sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect()) == [1, 2]
    # audit read via the branch sees the staged batch
    ta = IcebergTable(w.path)
    ta.open_snapshot(ref="wap")
    assert sorted(r["x"] for r in ta.to_df(spark).collect()) == [1, 2, 3]

    publish_branch(w, "wap")
    assert sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect()) == [1, 2, 3]

    # abort path: a bad batch never becomes visible and leaves no snapshots
    n_snaps = len(w.snapshots)
    stage_append(w, [{"x": 99}], "wap2")
    assert sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect()) == [1, 2, 3]
    dropped = abort_stage(w, "wap2")
    assert len(dropped) == 1 and len(w.snapshots) == n_snaps
    assert sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect()) == [1, 2, 3]
    # normal commits still work after an abort
    w.append([{"x": 4}])
    assert sorted(r["x"] for r in IcebergTable(w.path).to_df(spark).collect()) == [1, 2, 3, 4]


def test_incremental_aggregate_refresh(spark, tmp_path):
    """Incremental view maintenance: a materialized per-key aggregate
    refreshed from the changelog equals a full recompute — across an
    append AND a copy-on-write merge (tombstone + rewrite), touching
    only changed files."""
    from daskberg_spark.iceberg.scan import materialize_aggregate, refresh_aggregate
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "string", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": "a", "v": 1.0}, {"k": "b", "v": 2.0}])
    w.append([{"k": "a", "v": 3.0}])
    t = IcebergTable(w.path)
    base = materialize_aggregate(
        t.to_df(spark), ["k"], {"sv": "v"}
    ).localCheckpoint()

    # two more snapshots: an append and a CoW merge rewriting file 1
    w.append([{"k": "c", "v": 10.0}])
    w.merge_rows([{"k": "b", "v": 20.0}], ["k"])

    t2 = IcebergTable(w.path)
    refreshed = refresh_aggregate(t2, spark, base, ["k"], {"sv": "v"}, from_rel=-2)
    full = materialize_aggregate(t2.to_df(spark), ["k"], {"sv": "v"})
    got = {r["k"]: (r["n"], float(r["sv"])) for r in refreshed.collect()}
    want = {r["k"]: (r["n"], float(r["sv"])) for r in full.collect()}
    assert got == want == {"a": (2, 4.0), "b": (1, 20.0), "c": (1, 10.0)}


def test_wap_quality_gate_pipeline(spark, tmp_path):
    """End-to-end WAP ingestion: stage a batch, audit it on the branch
    with a quality gate, abort the failing batch and publish the passing
    one — the full validate-before-visible loop."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        abort_stage,
        publish_branch,
        stage_append,
    )

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "doc_id", "type": "long", "required": False},
            {"id": 2, "name": "text", "type": "string", "required": False},
        ],
    )
    w.append([{"doc_id": 1, "text": "a perfectly reasonable document " * 4}])

    def audit_fails(branch: str) -> bool:
        """Gate: reject the batch if any staged doc is under 10 words."""
        ta = IcebergTable(w.path)
        ta.open_snapshot(ref=branch)
        df = ta.to_df(spark)
        short = df.filter(
            F.size(F.split(F.trim("text"), "\\s+")) < 10
        ).limit(1).count()
        return short > 0

    # bad batch: one-word garbage doc → gate rejects → abort
    stage_append(w, [{"doc_id": 2, "text": "junk"}], "ingest")
    assert audit_fails("ingest")
    abort_stage(w, "ingest")
    assert IcebergTable(w.path).to_df(spark).count() == 1

    # good batch: passes the gate → publish
    stage_append(
        w, [{"doc_id": 3, "text": "another long and entirely valid document " * 3}], "ingest"
    )
    assert not audit_fails("ingest")
    publish_branch(w, "ingest")
    assert sorted(
        r["doc_id"] for r in IcebergTable(w.path).to_df(spark).collect()
    ) == [1, 3]


def test_compact_files_spark_zorder_clustering(spark, tmp_path):
    """Z-order compaction bounds EVERY z column per file: after rewrite,
    a point predicate on x OR on y each prunes to half the files — a
    lexicographic x-sort would leave y unprunable (every file spans the
    full y range)."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files_spark

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "x", "type": "long", "required": False},
            {"id": 2, "name": "y", "type": "long", "required": False},
        ],
    )
    # interleaved appends over the full 32x32 grid: no bounds anywhere
    grid = [(x, y) for x in range(32) for y in range(32)]
    for batch in range(4):
        w.append([{"x": x, "y": y} for (x, y) in grid[batch::4]])
    t0 = IcebergTable(w.path)
    assert len(t0.plan_files([("x", "==", 5)])) == len(t0.plan_files())
    before = sorted((r["x"], r["y"]) for r in t0.to_df(spark).collect())

    snap = compact_files_spark(
        w, spark, target_partitions=4, zorder_by=["x", "y"]
    )
    assert snap is not None
    t = IcebergTable(w.path)
    assert sorted((r["x"], r["y"]) for r in t.to_df(spark).collect()) == before
    files = t.plan_files()
    assert len(files) == 4
    # quadrant clustering: each single-dim point predicate reads half
    assert len(t.plan_files([("x", "==", 5)])) == 2
    assert len(t.plan_files([("y", "==", 30)])) == 2
    # both dims together: exactly one quadrant file
    assert len(t.plan_files([("x", "==", 5), ("y", "==", 30)])) == 1
    got = {
        (r["x"], r["y"])
        for r in t.to_df(spark, filters=[("x", "==", 5), ("y", "==", 30)]).collect()
    }
    assert got == {(5, 30)}


def test_nested_types_roundtrip(spark):
    """struct/list/map columns through writer → metadata → scan; the
    reference raises NotImplementedError on any nested type
    (/root/reference/daskberg/conversions.py:46)."""
    from daskberg_spark.iceberg.fixtures import (
        ensure_nested_fixture,
        make_nested_rows,
    )

    t = IcebergTable(ensure_nested_fixture())
    df = t.to_df(spark)
    kinds = dict(df.dtypes)
    assert kinds["meta"].startswith("struct")
    assert kinds["tags"].startswith("array")
    assert kinds["counts"].startswith("map")
    rows = {r["id"]: r for r in df.collect()}
    expect = {r["id"]: r for r in make_nested_rows(30, 0) + make_nested_rows(10, 30)}
    assert len(rows) == 40
    for i in (0, 7, 13, 35):
        e = expect[i]
        got = rows[i]
        assert got["meta"]["author"] == e["meta"]["author"]
        assert got["meta"]["score"] == e["meta"]["score"]
        assert list(got["tags"]) == e["tags"]
        assert got["counts"] == dict(e["counts"])
    # stats pruning on the top-level primitive still fires with nested
    # columns present (bounds for nested fields are skipped, not broken)
    assert len(t.plan_files([("id", ">=", 30)])) < len(t.plan_files())
    pruned = t.to_df(spark, filters=[("id", ">=", 30)])
    assert pruned.count() == 10
    # filters naming a nested column cannot prune (conservative) but must
    # not crash the planner
    assert len(t.plan_files([("meta", "==", "x")])) == len(t.plan_files())


def test_nested_field_residual_filter(spark):
    """Filters on struct-leaf dotted paths evaluate as residual Spark
    predicates with exact results (leaf-id bounds may additionally prune
    files — see test_nested_leaf_bounds_pruning); predicates naming the
    whole struct stay conservative (no pruning, no crash)."""
    from daskberg_spark.iceberg.fixtures import ensure_nested_fixture

    t = IcebergTable(ensure_nested_fixture())
    got = t.to_df(spark, filters=[("meta.score", ">", 3.0)])
    manual = t.to_df(spark).filter(F.col("meta.score") > 3.0)
    assert got.count() == manual.count() > 0
    assert len(t.plan_files([("meta", "==", "x")])) == len(t.plan_files())


def test_nested_leaf_bounds_pruning(spark, tmp_path):
    """Bounds are keyed by LEAF field id (Iceberg spec), so a dotted-path
    predicate on a struct member can skip whole files: two appends with
    disjoint meta.score ranges → the range predicate reads one file."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    fields = [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {
            "id": 2,
            "name": "meta",
            "type": {
                "type": "struct",
                "fields": [
                    {"id": 3, "name": "score", "type": "double", "required": False},
                ],
            },
            "required": False,
        },
    ]
    w = IcebergWriter(str(tmp_path / "t"), fields)
    w.append([{"id": i, "meta": {"score": float(i)}} for i in range(10)])
    w.append([{"id": i, "meta": {"score": float(i)}} for i in range(100, 110)])
    t = IcebergTable(w.path)
    assert len(t.plan_files()) == 2
    assert len(t.plan_files([("meta.score", ">=", 100.0)])) == 1
    got = t.to_df(spark, filters=[("meta.score", ">=", 100.0)])
    assert sorted(r["id"] for r in got.collect()) == list(range(100, 110))


def test_nested_schema_pruning_reaches_scan(spark):
    """Selecting one struct field must prune the parquet ReadSchema to
    that leaf (Catalyst nestedSchemaPruning) — at scale a wide metadata
    struct would otherwise be fully deserialized for a single-field
    projection."""
    import re

    from daskberg_spark.iceberg.fixtures import ensure_nested_fixture

    t = IcebergTable(ensure_nested_fixture())
    df = t.to_df(spark).select(F.col("meta.author").alias("author"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: ([^\n,]*(?:<[^\n]*?>)?)", plan)
    assert m and "author" in m.group(1)
    for dropped in ("score", "tags", "counts"):
        assert dropped not in m.group(1)


def test_nested_add_column_in_struct(spark, tmp_path):
    """In-struct schema evolution: add_column("meta.rating") appends a
    member to the struct with a fresh id drawn from the max over ALL ids
    (nested leaves included — top-level max would collide); files written
    before the evolution null-fill the new member on read."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    fields = [
        {"id": 1, "name": "id", "type": "long", "required": True},
        {
            "id": 2,
            "name": "meta",
            "type": {
                "type": "struct",
                "fields": [
                    {"id": 7, "name": "author", "type": "string", "required": False},
                ],
            },
            "required": False,
        },
    ]
    w = IcebergWriter(str(tmp_path / "t"), fields)
    w.append([{"id": 1, "meta": {"author": "ada"}}])
    w.add_column("meta.rating", "double")
    new_ids = [
        f["id"]
        for f in w.fields[1]["type"]["fields"]
        if f["name"] == "rating"
    ]
    assert new_ids == [8]  # fresh id past the nested max, not max(1,2)+1=3
    w.append([{"id": 2, "meta": {"author": "bob", "rating": 4.5}}])
    t = IcebergTable(w.path)
    rows = {r["id"]: r["meta"] for r in t.to_df(spark).collect()}
    assert rows[1]["rating"] is None and rows[1]["author"] == "ada"
    assert rows[2]["rating"] == 4.5
    import json

    meta = json.load(open(f"{w.path}/metadata/v{w.version}.metadata.json"))
    assert meta["last-column-id"] == 8


def test_writer_load_continues_table(spark, tmp_path):
    """IcebergWriter.load reopens an existing table: the sequence clock,
    snapshot-id allocation, schemas/specs and manifest list all resume,
    so cross-process commits keep equality-delete applicability correct."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": 1, "v": "a"}, {"id": 2, "v": "b"}])
    w.delete_rows_equality([{"id": 1}])
    del w

    w2 = IcebergWriter.load(p)
    assert w2._last_sequence_number == 2
    assert w2._next_snapshot_id == 3
    # a post-load re-insert must survive the pre-load delete (sequence 3 > 2)
    w2.append([{"id": 1, "v": "reborn"}])
    t = IcebergTable(p)
    assert sorted(map(tuple, t.to_df(spark).collect())) == [
        (1, "reborn"),
        (2, "b"),
    ]
    # metadata-log grew and lists the pre-load metadata files
    logged = {e["metadata-file"] for e in t.metadata["metadata-log"]}
    assert any("v2.metadata.json" in f for f in logged)


def test_writer_load_foreign_table_appends(spark, tmp_path):
    """Loading the FOREIGN-style fixture (random snapshot ids, snappy
    manifests, two live specs) and committing on top of it: the new
    snapshot id allocates above the forged maximum, the sequence clock
    continues, and the appended rows land under the evolved spec."""
    import shutil

    from daskberg_spark.iceberg.fixtures import (
        FOREIGN_ID_REMAP,
        ensure_foreign_fixture,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "foreign")
    shutil.copytree(ensure_foreign_fixture(), p)
    w = IcebergWriter.load(p)
    assert w._last_sequence_number == 4
    assert w._next_snapshot_id == max(FOREIGN_ID_REMAP.values()) + 1
    assert len(w.specs) == 2 and w.current_spec_id == 1
    w.append([{"id": 100, "cat": "z", "val": 100.0}])
    t = IcebergTable(p)
    rows = {(r["id"], r["val"]) for r in t.to_df(spark).collect()}
    expect = (
        {(i, float(i)) for i in range(50) if i not in (5, 35)}
        | {(5, -1.0), (100, 100.0)}
    )
    assert rows == expect
    # the reborn row still survives: applicability stayed sequence-keyed
    pruned = t.to_df(spark, filters=[("cat", "==", "z")])
    assert {r["id"] for r in pruned.collect()} == {
        i for i in range(50) if i % 3 == 2 and i not in (5, 35)
    } | {100}


def test_writer_load_legacy_then_commit(spark, tmp_path):
    """Loading a table whose manifests lost their sequence numbers
    (v1-era metadata shape) and committing on top must NOT stamp the
    carried manifests with the new commit's sequence — that would tie an
    old equality delete to its older target data files (the strictly-
    lower applicability rule then stops applying it) and resurrect the
    deleted row.  load() reassigns each carried manifest the sequence of
    the snapshot that added it (or commit-order ordinals when the whole
    table is pre-sequence), so the delete keeps applying and a post-load
    re-insert still beats it."""
    import json

    from daskberg_spark.iceberg.fixtures import strip_sequence_numbers
    from daskberg_spark.iceberg.writer import IcebergWriter

    def build(p):
        w = IcebergWriter(
            p,
            [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "v", "type": "string", "required": False},
            ],
        )
        w.append([{"id": 1, "v": "old"}, {"id": 2, "v": "keep"}])
        w.delete_rows_equality([{"id": 1}])
        strip_sequence_numbers(p)

    # variant 1: Avro sequences stripped, metadata JSON still records the
    # snapshots' sequence numbers — load() restores per-snapshot sequences
    p1 = str(tmp_path / "legacy1")
    build(p1)
    w = IcebergWriter.load(p1)
    by_added = {
        m["added_snapshot_id"]: m["sequence_number"] for m in w.manifests
    }
    assert by_added == {1: 1, 2: 2}
    w.append([{"id": 3, "v": "new"}])
    assert sorted(map(tuple, IcebergTable(p1).to_df(spark).collect())) == [
        (2, "keep"),
        (3, "new"),  # id=1 stays deleted: carried manifests kept seq 1/2
    ]
    w.append([{"id": 1, "v": "reborn"}])
    assert sorted(map(tuple, IcebergTable(p1).to_df(spark).collect())) == [
        (1, "reborn"),
        (2, "keep"),
        (3, "new"),
    ]

    # variant 2: snapshot sequence numbers stripped from the metadata
    # JSON too — commit order is reconstructed from snapshot-list
    # position, so the delete still orders after its target data
    p2 = str(tmp_path / "legacy2")
    build(p2)
    version = int(open(f"{p2}/metadata/version-hint.text").read().strip())
    mpath = f"{p2}/metadata/v{version}.metadata.json"
    with open(mpath) as f:
        meta = json.load(f)
    meta.pop("last-sequence-number", None)
    for s in meta["snapshots"]:
        s.pop("sequence-number", None)
    with open(mpath, "w") as f:
        json.dump(meta, f, indent=1, default=str)
    w = IcebergWriter.load(p2)
    by_added = {
        m["added_snapshot_id"]: m["sequence_number"] for m in w.manifests
    }
    assert by_added[2] > by_added[1]
    w.append([{"id": 1, "v": "reborn"}])
    assert sorted(map(tuple, IcebergTable(p2).to_df(spark).collect())) == [
        (1, "reborn"),
        (2, "keep"),
    ]


def test_v2_delete_applicability_fuzz_forged_ids(spark, tmp_path):
    """Randomized append/eq-delete interleavings vs a Python model of the
    Iceberg sequence rules (a delete removes exactly the live rows whose
    data sequence number precedes it), then snapshot ids forged to random
    longs before reading — five seeded scenarios, each read once."""
    import random

    from daskberg_spark.iceberg.fixtures import remap_snapshot_ids
    from daskberg_spark.iceberg.writer import IcebergWriter

    for seed in range(5):
        rng = random.Random(seed)
        p = str(tmp_path / f"t{seed}")
        w = IcebergWriter(
            p,
            [
                {"id": 1, "name": "id", "type": "long", "required": False},
                {"id": 2, "name": "v", "type": "string", "required": False},
            ],
        )
        live: list[tuple[int, str]] = []  # model: (key, value) multiset
        n_ops = rng.randint(4, 7)
        did_delete = False
        for op_i in range(n_ops):
            if did_delete is False or rng.random() < 0.6 or not live:
                keys = [rng.randint(1, 6) for _ in range(rng.randint(1, 3))]
                rows = [{"id": k, "v": f"v{op_i}_{k}"} for k in keys]
                w.append(rows)
                live.extend((k, f"v{op_i}_{k}") for k in keys)
            else:
                ks = {rng.randint(1, 6) for _ in range(rng.randint(1, 2))}
                w.delete_rows_equality([{"id": k} for k in sorted(ks)])
                live = [(k, v) for k, v in live if k not in ks]
            did_delete = True
        n_snaps = len(w.snapshots)
        forged = rng.sample(range(10_000, 1 << 40), n_snaps)
        remap_snapshot_ids(p, {i + 1: f for i, f in enumerate(forged)})
        t = IcebergTable(p)
        got = sorted((r["id"], r["v"]) for r in t.to_df(spark).collect())
        assert got == sorted(live), (seed, got, sorted(live))


def test_rewrite_manifests_preserves_sequence_applicability(spark, tmp_path):
    """Manifest consolidation is metadata-only and sequence-preserving:
    after collapsing O(commits) manifests into one, the same rows come
    back AND a pre-rewrite equality delete still applies only to the
    data files that preceded it — the rewritten EXISTING entries carry
    their explicit data sequence numbers."""
    from daskberg_spark.iceberg.writer import IcebergWriter, rewrite_manifests

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    for i in range(5):
        w.append([{"id": 10 * i + j, "v": f"v{i}"} for j in range(3)])
    w.delete_rows_equality([{"id": 0}, {"id": 10}])
    w.append([{"id": 0, "v": "reborn"}])  # survives: seq 7 > delete seq 6
    before = sorted(map(tuple, IcebergTable(p).to_df(spark).collect()))
    n_before = len(w.manifests)
    sid = rewrite_manifests(w)
    assert sid is not None and len(w.manifests) == 1 < n_before
    t = IcebergTable(p)
    after = sorted(map(tuple, t.to_df(spark).collect()))
    assert after == before
    assert (0, "reborn") in after and (10, "v1") not in after
    # idempotent: already consolidated → no-op
    assert rewrite_manifests(w) is None


def _shared_puffin_table(path: str):
    """Two data files A and B whose first DVs share ONE puffin file
    (two blobs under one path), then a second DV for A that merges A's
    prior blob and tombstones it by (path, offset) — B's blob stays
    live.  Returns (writer, A path, B path)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "v": "a"} for i in range(5)])
    w.append([{"id": i, "v": "b"} for i in range(5, 10)])
    a, b = sorted(f["file_path"] for f in IcebergTable(path).plan_files())
    w.delete_positions_dv({a: [0], b: [0]})
    w.delete_positions_dv({a: [1]})
    return w, a, b


def test_rewrite_manifests_keeps_sibling_dv_blob(tmp_path):
    """Superseding one blob of a multi-blob puffin must not drop its
    siblings: rewrite_manifests reconciles delete entries by (path,
    blob offset), the reader's rule, so B's DV survives consolidation
    (a path-keyed tombstone set dropped it and B's deleted row came
    back for every reader)."""
    from daskberg_spark.iceberg.writer import rewrite_manifests

    p = str(tmp_path / "t")
    w, a, b = _shared_puffin_table(p)

    def dv_targets():
        return sorted(
            d["referenced_data_file"] for d in IcebergTable(p).plan_deletes()
        )

    assert dv_targets() == [a, b]
    assert rewrite_manifests(w) is not None
    assert dv_targets() == [a, b]


def test_driver_rewrites_keep_sibling_dv_deletes(spark, tmp_path):
    """Driver-side compact_files and merge_rows apply every live DV to
    the rows they rewrite — including a sibling blob in a puffin file
    whose other blob was superseded — so the table's row set is
    unchanged by compaction and changed by a merge only by the update."""
    from daskberg_spark.iceberg.writer import compact_files

    p = str(tmp_path / "t")
    w, _a, _b = _shared_puffin_table(p)
    w.append([{"id": i, "v": "c"} for i in range(10, 20)])

    def rows():
        return sorted(map(tuple, IcebergTable(p).to_df(spark).collect()))

    before = rows()
    assert len(before) == 17 and (5, "b") not in before
    w.merge_rows([{"id": 6, "v": "B"}], ["id"])
    merged = sorted((i, "B" if i == 6 else v) for i, v in before)
    assert rows() == merged
    assert compact_files(w, min_file_bytes=1 << 40) is not None
    assert rows() == merged


def test_table_properties_roundtrip(tmp_path):
    """set_properties emits the spec ``properties`` map and load restores
    it across processes."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.set_properties({"write.target-file-size-bytes": 134217728})
    w.append([{"id": 1}])
    w.set_properties({"owner": "pipeline"})
    t = IcebergTable(p)
    assert t.metadata["properties"] == {
        "write.target-file-size-bytes": "134217728",
        "owner": "pipeline",
    }
    w2 = IcebergWriter.load(p)
    assert w2.properties["owner"] == "pipeline"
    w2.append([{"id": 2}])
    assert IcebergTable(p).metadata["properties"]["owner"] == "pipeline"


def test_eq_delete_null_key(spark, tmp_path):
    """An equality delete with a NULL key matches rows where the column
    IS NULL (Iceberg null-safe equality), composes with sequence
    applicability, and leaves non-null rows alone."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": None, "v": "ghost"}, {"id": 1, "v": "keep"}])
    w.delete_rows_equality([{"id": None}])
    w.append([{"id": None, "v": "reborn-null"}])  # post-delete: stays
    t = IcebergTable(p)
    rows = sorted(
        ((r["id"], r["v"]) for r in t.to_df(spark).collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert rows == [(1, "keep"), (None, "reborn-null")]


def test_rewrite_manifests_then_orphan_cleanup(spark, tmp_path):
    """Manifest consolidation + snapshot expiry leaves the superseded
    manifest Avro unreferenced; remove_orphan_files reclaims exactly that
    metadata (no data files — every row is still live) and reads are
    unchanged.  Without expiry the old manifests stay: prior snapshots
    still reference them for time travel, and cleanup must keep them."""
    import glob

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        expire_snapshots,
        remove_orphan_files,
        rewrite_manifests,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "long", "required": False}]
    )
    for i in range(6):
        w.append([{"x": i}])
    assert rewrite_manifests(w) is not None
    before = sorted(r["x"] for r in IcebergTable(p).to_df(spark).collect())
    # prior snapshots still reference the old manifests → nothing orphaned
    assert remove_orphan_files(p) == []
    expire_snapshots(w, keep_last=1)
    n_avro_before = len(glob.glob(f"{p}/metadata/*.avro"))
    removed = remove_orphan_files(p)
    assert removed and all(r.endswith(".avro") for r in removed)
    assert len(glob.glob(f"{p}/metadata/*.avro")) < n_avro_before
    assert sorted(r["x"] for r in IcebergTable(p).to_df(spark).collect()) == before


def test_sort_order_metadata(spark, tmp_path):
    """set_sort_order emits spec-shaped sort-orders metadata; a sort_by
    compaction registers its clustering automatically; load restores."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "x", "type": "long", "required": False},
            {"id": 2, "name": "y", "type": "long", "required": False},
        ],
    )
    for i in range(3):
        w.append([{"x": 10 * i + j, "y": j} for j in range(20)])
    oid = w.set_sort_order([("x", "desc")])
    meta = IcebergTable(p).metadata
    assert meta["default-sort-order-id"] == oid
    assert meta["sort-orders"][oid]["fields"] == [
        {
            "transform": "identity",
            "source-id": 1,
            "direction": "desc",
            "null-order": "nulls-last",
        }
    ]
    # sort_by compaction registers its clustering as the new default
    sid = compact_files_spark(w, spark, sort_by=["y"])
    assert sid is not None
    meta2 = IcebergTable(p).metadata
    new_oid = meta2["default-sort-order-id"]
    assert new_oid > oid
    assert meta2["sort-orders"][new_oid]["fields"][0]["source-id"] == 2
    w2 = IcebergWriter.load(p)
    assert w2.default_sort_order_id == new_oid


def test_delete_where_spark_merge_on_read(spark, tmp_path):
    """Distributed merge-on-read DELETE: executors write position-delete
    files for predicate matches; rows disappear on read without any data
    rewrite, compose with later appends (the same key re-inserted later
    stays), and a no-match predicate is a no-op."""
    from daskberg_spark.iceberg.writer import IcebergWriter, delete_where_spark

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(20)])
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(20, 30)])
    orig_files = {f["file_path"] for f in IcebergTable(p).plan_files()}
    sid = delete_where_spark(w, spark, "grp = 'a' AND id < 10")
    assert sid is not None
    t = IcebergTable(p)
    ids = sorted(r["id"] for r in t.to_df(spark).collect())
    assert ids == sorted(i for i in range(30) if not (i % 2 == 0 and i < 10))
    # merge-on-read: the original data files were NOT rewritten
    assert {f["file_path"] for f in t.plan_files()} == orig_files
    # a later re-insert of a deleted id stays (position deletes pin files)
    w.append([{"id": 0, "grp": "a"}])
    assert sorted(
        r["id"] for r in IcebergTable(p).to_df(spark).collect()
    ).count(0) == 1
    # no-match predicate → no snapshot
    assert delete_where_spark(w, spark, "id > 999") is None


def test_delete_keys_spark_cdc_batch(spark, tmp_path):
    """Distributed equality-delete from a key DataFrame (the CDC batch
    shape): all earlier versions of the keys die, a later re-insert
    lives, and the keys parquet is executor-written."""
    from daskberg_spark.iceberg.writer import IcebergWriter, delete_keys_spark

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "v": "old"} for i in range(10)])
    w.append([{"id": 3, "v": "old2"}])  # second version of key 3
    keys = spark.createDataFrame([(3,), (7,), (99,)], "id long")
    sid = delete_keys_spark(w, spark, keys)
    assert sid is not None
    w.append([{"id": 7, "v": "reborn"}])
    t = IcebergTable(p)
    rows = sorted((r["id"], r["v"]) for r in t.to_df(spark).collect())
    expect = sorted(
        [(i, "old") for i in range(10) if i not in (3, 7)] + [(7, "reborn")]
    )
    assert rows == expect
    # empty key frame is a no-op
    assert delete_keys_spark(w, spark, keys.where("id < 0")) is None


def test_mor_maintenance_interaction(spark, tmp_path):
    """Maintenance on a merge-on-read table with LIVE position AND
    equality delete files: expire_snapshots + remove_orphan_files must
    never reclaim referenced delete parquet (they live in pos_del_*/
    eq_del_* subdirectories, which the orphan walk now descends into),
    abandoned temp-dir parquet IS reclaimed and its emptied directory
    pruned, and compact_files folding the deletes then expiring the
    pre-compaction snapshots reads the same rows throughout."""
    import os
    import shutil

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_keys_spark,
        delete_where_spark,
        expire_snapshots,
        remove_orphan_files,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(20)])
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(20, 30)])
    delete_where_spark(w, spark, "id < 5")  # position deletes (content 1)
    delete_keys_spark(
        w, spark, spark.createDataFrame([(7,), (25,)], "id long")
    )  # equality deletes (content 2)

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    expect = sorted(i for i in range(30) if i >= 5 and i not in (7, 25))
    assert ids() == expect
    t = IcebergTable(p)
    assert {d["content"] for d in t.plan_deletes()} == {1, 2}

    # plant an abandoned temp-dir parquet (the CommitConflictError /
    # post-expiry leftover shape remove_orphan_files used to miss)
    orphan_dir = f"{p}/data/pos_del_abandoned00"
    os.makedirs(orphan_dir)
    a_delete = sorted(d["file_path"] for d in t.plan_deletes())[0]
    shutil.copy(a_delete, f"{orphan_dir}/part-orphan.parquet")

    expire_snapshots(w, keep_last=1)
    removed = remove_orphan_files(p)
    assert any("pos_del_abandoned00" in r for r in removed)
    assert not os.path.exists(orphan_dir)  # emptied temp dir pruned
    # every still-referenced delete parquet survived the orphan sweep
    surviving = IcebergTable(p).plan_deletes()
    assert {d["content"] for d in surviving} == {1, 2}
    for d in surviving:
        assert os.path.exists(d["file_path"])
    assert ids() == expect

    # compaction folds the live deletes into rewritten delete-free files;
    # expiring the pre-compaction snapshot afterwards changes nothing
    assert compact_files(w) is not None
    assert ids() == expect
    expire_snapshots(w, keep_last=1)
    remove_orphan_files(p)
    assert ids() == expect


def test_deletion_vectors_end_to_end(spark, tmp_path):
    """Iceberg v3 deletion vectors: driver-side DV commit
    (delete_positions_dv), distributed predicate DV
    (delete_where_dv_spark, executor-built bitmaps), multi-blob puffin
    planning (one blob per target at distinct offsets under ONE path),
    sequence-correct reads, and format-version 3 stamping."""
    from daskberg_spark.iceberg.puffin import read_puffin_footer
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(100)])
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(100, 120)])

    t = IcebergTable(p)
    first = t.plan_files()[0]["file_path"]
    w.delete_positions_dv({first: [0, 1, 2]})
    t = IcebergTable(p)
    assert t.metadata["format-version"] == 3

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    assert ids() == [i for i in range(120) if i > 2]

    # distributed: one puffin, one blob per touched data file
    sid = delete_where_dv_spark(w, spark, "id % 10 = 5")
    assert sid is not None
    expect = [i for i in range(120) if i > 2 and i % 10 != 5]
    assert ids() == expect

    dvs = [
        d
        for d in IcebergTable(p).plan_deletes()
        if d.get("referenced_data_file")
    ]
    # v3 invariant: at most ONE live DV per data file — the second
    # commit merged the first file's existing positions (0,1,2) into its
    # new blob and tombstoned the superseded blob in the same commit
    assert len(dvs) == 2
    assert len({d["referenced_data_file"] for d in dvs}) == 2
    multi = [d for d in dvs if "dv-00004" in d["file_path"]]
    assert len(multi) == 2  # both live blobs sit in the NEW puffin
    assert len({d["content_offset"] for d in multi}) == 2  # distinct blobs
    foot = read_puffin_footer(multi[0]["file_path"])
    assert {
        b["properties"]["referenced-data-file"]
        for b in foot["blobs"]
        if b["type"] == "deletion-vector-v1"
    } >= {d["referenced_data_file"] for d in multi}
    # merged cardinality lands in record_count: file 1 carries 3 merged
    # + 10 new positions (5..95), file 2 carries 2 (105, 115)
    assert sorted(d["record_count"] for d in multi) == [2, 13]
    # a spec-conformant reader applying only the newest DV per file sees
    # every deleted position: the merged blob holds the union
    from daskberg_spark.iceberg.puffin import dv_decode_file

    merged = next(d for d in multi if d["referenced_data_file"] == first)
    pos = dv_decode_file(
        merged["file_path"],
        merged["content_offset"],
        merged["content_size_in_bytes"],
    )
    assert set(pos) == {0, 1, 2} | {i for i in range(5, 100, 10)}

    # empty predicate match -> no commit
    assert delete_where_dv_spark(w, spark, "id = -1") is None


def test_dv_single_blob_supersede_keeps_siblings(spark, tmp_path):
    """DELETED reconciliation is (path, content_offset)-keyed: when one
    DV blob of a multi-blob puffin file is superseded (the shape a
    foreign v3 writer produces replacing a single DV entry), the
    still-live sibling blobs for OTHER target files must keep applying —
    path-wide removal would resurrect their deleted rows."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(50)])
    w.append([{"id": i} for i in range(50, 100)])
    # multi-blob puffin: one DV per data file under ONE path
    delete_where_dv_spark(w, spark, "id IN (3, 53)")
    t = IcebergTable(p)
    dvs = t.plan_deletes()
    assert len({d["file_path"] for d in dvs}) == 1 and len(dvs) == 2
    # supersede ONLY file 1's blob (merge commit tombstones just that
    # (path, content_offset)); file 2's sibling blob stays live
    delete_where_dv_spark(w, spark, "id = 7")
    t = IcebergTable(p)
    got = sorted(r["id"] for r in t.to_df(spark).collect())
    assert got == [i for i in range(100) if i not in (3, 7, 53)]
    # and exactly one live DV per data file (v3 invariant)
    live = t.plan_deletes()
    assert len(live) == 2
    assert len({d["referenced_data_file"] for d in live}) == 2


def test_deletion_vectors_maintenance_and_compaction(spark, tmp_path):
    """DVs through the maintenance suite: expire+orphan never reclaim a
    referenced puffin, compact_files folds DV positions into the rewrite
    (same rows before/after), and once compaction supersedes the DVs the
    orphan sweep reclaims orphaned puffin bytes like any parquet."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_dv_spark,
        expire_snapshots,
        remove_orphan_files,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [{"id": 1, "name": "id", "type": "long", "required": False}],
    )
    w.append([{"id": i} for i in range(50)])
    w.append([{"id": i} for i in range(50, 60)])
    delete_where_dv_spark(w, spark, "id < 5")
    expect = list(range(5, 60))

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    assert ids() == expect
    expire_snapshots(w, keep_last=1)
    removed = remove_orphan_files(p)
    assert not any(r.endswith(".puffin") for r in removed)
    assert ids() == expect

    assert compact_files(w) is not None
    assert ids() == expect
    # post-compaction the rewritten files are delete-free; expiring the
    # pre-compaction snapshots makes the old puffin reclaimable only
    # once nothing references it
    expire_snapshots(w, keep_last=1)
    remove_orphan_files(p)
    assert ids() == expect


def test_add_files_registers_external_parquet(spark, tmp_path):
    """add_files (real-Iceberg migration action): existing parquet
    registered in place — no copy/rewrite — with footer-lifted record
    counts and bounds, so stats pruning works on the result."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    ext = tmp_path / "external"
    ext.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                    "v": pa.array([float(x) for x in range(i * 10, i * 10 + 10)]),
                }
            ),
            str(ext / f"chunk{i}.parquet"),
        )
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    sid = add_files(w, [str(ext / f"chunk{i}.parquet") for i in range(3)])
    assert sid is not None
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == list(range(30))
    # footer-lifted bounds drive stats pruning: id>25 matches one file
    assert len(t.plan_files(filters=[("id", ">", 25)])) == 1
    # files are referenced, not owned — they stay outside data/
    assert all(
        f["file_path"].startswith(str(ext))
        for f in t.plan_files()
    )
    with pytest.raises(ValueError):
        add_files(w, [])


def test_add_files_spark_distributed(spark, tmp_path):
    """Distributed add_files: executors lift the parquet footers and the
    driver receives stats rows only — entries (bounds bytes, counts,
    sizes) must be IDENTICAL to the sequential driver path, and stats
    pruning must fire on the lifted bounds."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        add_files,
        add_files_spark,
    )

    ext = tmp_path / "ext"
    ext.mkdir()
    paths = []
    for i in range(12):
        p = str(ext / f"chunk{i:02d}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                    "name": [f"n{x}" for x in range(i * 10, i * 10 + 10)],
                    "val": [x * 0.25 for x in range(i * 10, i * 10 + 10)],
                }
            ),
            p,
        )
        paths.append(p)
    schema = [
        {"id": 1, "name": "id", "type": "long", "required": False},
        {"id": 2, "name": "name", "type": "string", "required": False},
        {"id": 3, "name": "val", "type": "double", "required": False},
    ]
    w_seq = IcebergWriter(str(tmp_path / "seq"), schema)
    add_files(w_seq, paths)
    w_dist = IcebergWriter(str(tmp_path / "dist"), schema)
    add_files_spark(w_dist, spark, paths)

    def norm(t):
        out = []
        for f in sorted(t.plan_files(), key=lambda f: f["file_path"]):
            out.append(
                {
                    "path": f["file_path"],
                    "n": f["record_count"],
                    "size": f["file_size_in_bytes"],
                    "lo": sorted(
                        (b["key"], b["value"]) for b in f["lower_bounds"]
                    ),
                    "hi": sorted(
                        (b["key"], b["value"]) for b in f["upper_bounds"]
                    ),
                }
            )
        return out

    assert norm(IcebergTable(w_seq.path)) == norm(IcebergTable(w_dist.path))
    t = IcebergTable(w_dist.path)
    rows = sorted(r["id"] for r in t.to_df(spark).collect())
    assert rows == list(range(120))
    # lifted bounds drive file pruning: a tight id predicate plans 1 file
    assert len(t.plan_files([("id", "==", 57)])) == 1
    # name mapping recorded for the import (foreign-reader resolvable)
    assert "schema.name-mapping.default" in w_dist.properties


def test_commit_with_retries_interleaved_appends(spark, tmp_path):
    """Two interleaved appends both land: the second writer loses the
    metadata-version race, commit_with_retries reloads and re-runs the
    append on the new head (append-vs-append always merges)."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_with_retries,
    )

    p = str(tmp_path / "t")
    w0 = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w0.append([{"id": 0}])

    interloper = IcebergWriter.load(p)
    raced = {"done": False}

    def attempt(w):
        if not raced["done"]:
            raced["done"] = True
            interloper.append([{"id": 100}])  # wins the race mid-attempt
        return w.append([{"id": 1}])

    commit_with_retries(p, attempt)
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [0, 1, 100]
    # both concurrent commits are distinct snapshots in one lineage
    assert len(t.metadata["snapshots"]) == 3


def test_commit_with_retries_conflicting_overwrite_fails(spark, tmp_path):
    """An overwrite whose target files a concurrent commit rewrote must
    NOT retry its way into losing that update: the re-validation sees
    the declared removes are no longer live and re-raises."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import (
        CommitConflictError,
        IcebergWriter,
        commit_with_retries,
        compact_files,
    )

    p = str(tmp_path / "t")
    w0 = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w0.append([{"id": 0}])
    w0.append([{"id": 1}])
    target = IcebergTable(p).plan_files()[0]["file_path"]

    interloper = IcebergWriter.load(p)
    raced = {"done": False}

    def attempt(w):
        if not raced["done"]:
            raced["done"] = True
            compact_files(interloper)  # rewrites EVERY file incl. target
        return w.delete_files(lambda rec: rec["file_path"] == target)

    with _pytest.raises(CommitConflictError, match="removed/rewrote"):
        commit_with_retries(
            p, attempt, removes=lambda w: {target}, max_retries=3
        )
    # the table still reflects the compaction, not a lost update
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [0, 1]

    # the same remove against a file the concurrent commit does NOT
    # touch retries cleanly
    live = t.plan_files()[0]["file_path"]
    interloper2 = IcebergWriter.load(p)
    raced2 = {"done": False}

    def attempt2(w):
        if not raced2["done"]:
            raced2["done"] = True
            interloper2.append([{"id": 200}])  # non-overlapping commit
        return w.delete_files(lambda rec: rec["file_path"] == live)

    commit_with_retries(p, attempt2, removes=lambda w: {live})
    got = sorted(
        r["id"] for r in IcebergTable(p).to_df(spark).collect()
    )
    assert got == [200]


def test_name_mapping_read(spark, tmp_path):
    """schema.name-mapping.default: add_files records physical-name →
    field-id assignments; after a rename AND with per-snapshot schema
    pinning forged away (foreign/v1-era shape), the scan still resolves
    the field-id-less files through the mapping instead of silently
    null-filling the renamed column."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.fixtures import strip_schema_ids
    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    ext = str(tmp_path / "ext.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1, 2], pa.int64()), "val": [1.5, 2.5]}), ext
    )
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    add_files(w, [ext])
    import json as _json

    mapping = _json.loads(w.properties["schema.name-mapping.default"])
    assert {e["field-id"]: e["names"] for e in mapping} == {
        1: ["id"],
        2: ["val"],
    }
    w.rename_column("val", "value")
    strip_schema_ids(p)
    t = IcebergTable(p)
    assert [f["name"] for f in t.schema["fields"]] == ["id", "value"]
    rows = {r["id"]: r["value"] for r in t.to_df(spark).collect()}
    assert rows == {1: 1.5, 2: 2.5}  # null-filled would be {1: None, ...}
    # a second import AFTER the rename appends the new physical name to
    # the field's names list (spec: several names per field)
    ext2 = str(tmp_path / "ext2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()), "value": [3.5]}), ext2
    )
    add_files(w, [ext2])
    mapping = _json.loads(w.properties["schema.name-mapping.default"])
    assert {e["field-id"]: e["names"] for e in mapping} == {
        1: ["id"],
        2: ["val", "value"],
    }
    # MIXED unpinned group: a writer-appended file (physical name
    # 'value') whose pinning is also forged away must NOT null-fill —
    # the mapped read coalesces over both physical names
    w.append([{"id": 4, "value": 4.5}])
    strip_schema_ids(p)
    t = IcebergTable(p)
    rows = {r["id"]: r["value"] for r in t.to_df(spark).collect()}
    assert rows == {1: 1.5, 2: 2.5, 3: 3.5, 4: 4.5}


def test_name_mapping_multi_alias_read(spark, tmp_path):
    """Regression (r8): a name-mapping field's ``names`` LIST can carry
    SEVERAL physical spellings (imports before and after a rename), none
    of them the current name.  The mapped read must coalesce over every
    alias — the names[0]-only read silently null-filled files written
    under the later spellings."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.fixtures import strip_schema_ids
    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    ext1 = str(tmp_path / "ext1.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "val": [1.5]}), ext1
    )
    add_files(w, [ext1])  # physical spelling #1: val
    w.rename_column("val", "wert")
    ext2 = str(tmp_path / "ext2.parquet")
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64()), "wert": [2.5]}), ext2
    )
    add_files(w, [ext2])  # physical spelling #2: wert
    import json as _json

    mapping = _json.loads(w.properties["schema.name-mapping.default"])
    assert {e["field-id"]: e["names"] for e in mapping}[2] == ["val", "wert"]
    w.rename_column("wert", "value")  # current name matches NO spelling
    strip_schema_ids(p)
    t = IcebergTable(p)
    rows = {r["id"]: r["value"] for r in t.to_df(spark).collect()}
    assert rows == {1: 1.5, 2: 2.5}  # names[0]-only read gives {2: None}


def test_name_mapping_read_initial_default(spark, tmp_path):
    """Regression (r8 advice): the mapped (unpinned-file) group must
    apply v3 initial-defaults like every other group — a field ABSENT
    from the mapping predates every imported file, so those files read
    the default, not null; files that DO carry the column keep their
    values."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.fixtures import strip_schema_ids
    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    ext = str(tmp_path / "ext.parquet")
    pq.write_table(
        pa.table({"id": pa.array([1], pa.int64()), "val": [1.5]}), ext
    )
    add_files(w, [ext])
    w.rename_column("val", "value")  # activates the mapped read path
    w.add_column("score", "long", default=7)  # AFTER the mapping
    w.append([{"id": 2, "value": 2.5, "score": 9}])
    strip_schema_ids(p)
    t = IcebergTable(p)
    rows = {r["id"]: (r["value"], r["score"]) for r in t.to_df(spark).collect()}
    # the imported file predates 'score' → initial-default 7, not null;
    # the post-add file keeps its written value through the same group
    assert rows == {1: (1.5, 7), 2: (2.5, 9)}
    # review r8: a SECOND import after the add puts 'score' in the name
    # mapping — mapping membership proves nothing about per-file
    # presence, so a mapped file lacking the column must STILL read 7
    ext3 = str(tmp_path / "ext3.parquet")
    pq.write_table(
        pa.table({"id": pa.array([3], pa.int64()), "value": [3.5]}), ext3
    )
    add_files(w, [ext3])
    import json as _json

    mapping = _json.loads(w.properties["schema.name-mapping.default"])
    assert any(e["names"] == ["score"] for e in mapping)  # now mapped
    strip_schema_ids(p)
    t = IcebergTable(p)
    rows = {r["id"]: (r["value"], r["score"]) for r in t.to_df(spark).collect()}
    assert rows == {1: (1.5, 7), 2: (2.5, 9), 3: (3.5, 7)}


def test_name_mapping_read_promoted_type(spark, tmp_path):
    """Regression (r8 advice): mapped-group files written under a
    narrower promoted type (int32 before int→long) must read under the
    wide current type — Spark 4's parquet reader widens natively, and the
    group must not error or truncate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.fixtures import strip_schema_ids
    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "int", "required": False},
            {"id": 2, "name": "v", "type": "float", "required": False},
        ],
    )
    ext = str(tmp_path / "ext.parquet")
    pq.write_table(
        pa.table(
            {
                "k": pa.array([1, 2], pa.int32()),
                "v": pa.array([1.5, 2.5], pa.float32()),
            }
        ),
        ext,
    )
    add_files(w, [ext])
    w.rename_column("k", "key")  # activates the mapped read path
    w.update_column_type("key", "long")
    w.update_column_type("v", "double")
    big = 2**40
    w.append([{"key": big, "v": 1e300}])
    strip_schema_ids(p)
    t = IcebergTable(p)
    df = t.to_df(spark)
    assert dict(df.dtypes) == {"key": "bigint", "v": "double"}
    rows = {r["key"]: r["v"] for r in df.collect()}
    assert rows[big] == 1e300 and abs(rows[1] - 1.5) < 1e-6 and 2 in rows


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_to: metadata-only, keeps rolled-past snapshots
    time-travelable, and the next commit builds on the target."""
    from daskberg_spark.iceberg.writer import IcebergWriter, rollback_to

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    s2 = None
    w.append([{"id": 2}])
    s2 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 3}])
    s3 = w.snapshots[-1]["snapshot-id"]
    rollback_to(w, s2)
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2]
    assert len(t.metadata["snapshots"]) == 3  # nothing deleted
    t.open_snapshot(snapshot_id=s3)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2, 3]
    # next commit parents on the rollback target, not the rolled-past head
    w.append([{"id": 4}])
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2, 4]
    assert t.current_snapshot["parent-snapshot-id"] == s2
    with pytest.raises(KeyError):
        rollback_to(w, 999999)


def test_rollback_load_with_user_branch_ref(spark, tmp_path):
    """A reloaded writer must keep a rollback repoint even when an
    ordinary user branch ref points at the rolled-past head — the WAP
    pin is recorded explicitly in metadata, never inferred from ref
    ancestry (a heuristic there silently undid the rollback on the next
    commit)."""
    from daskberg_spark.iceberg.writer import IcebergWriter, rollback_to

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    s1 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 2}])
    w.append([{"id": 3}])
    s3 = w.snapshots[-1]["snapshot-id"]
    w.set_ref("dev", "branch", s3)  # user branch at the future rolled-past head
    rollback_to(w, s1)

    w2 = IcebergWriter.load(p)
    assert w2.head_id == s1 and w2.main_pin is None
    w2.append([{"id": 10}])
    t = IcebergTable(p)
    # the commit is VISIBLE and parents on the rollback target
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 10]
    assert t.current_snapshot["parent-snapshot-id"] == s1
    # the user branch still reaches the rolled-past state
    t.open_snapshot(ref="dev")
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2, 3]


def test_wap_pin_survives_reload(spark, tmp_path):
    """The explicit WAP marker: a staged (pinned) table reloaded from
    disk keeps the pin — readers see the published head while the
    reloaded writer's staged chain continues."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        publish_branch,
        stage_append,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    pin = w.snapshots[-1]["snapshot-id"]
    stage_append(w, [{"id": 2}], "audit")

    w2 = IcebergWriter.load(p)
    assert w2.main_pin == pin and w2.head_id is None
    # plain readers still see the pre-stage table
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1]
    # the marker is internal: it does not leak into reloaded properties
    assert "daskberg.wap-pin" not in w2.properties
    publish_branch(w2, "audit")
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2]
    assert "daskberg.wap-pin" not in t.metadata.get("properties", {})


def test_expire_after_rollback_keeps_head_lineage(spark, tmp_path):
    """retain-last counts ancestors of the CURRENT head (real Iceberg):
    after a rollback, keep_last protects the head's recent ancestors and
    the stranded rolled-past snapshot expires instead."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        expire_snapshots,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    s1 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 2}])
    s2 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 3}])
    s3 = w.snapshots[-1]["snapshot-id"]
    rollback_to(w, s2)
    expired = expire_snapshots(w, keep_last=2)
    # head lineage (s2, s1) protected; stranded s3 expired
    assert expired == [s3]
    kept = {s["snapshot-id"] for s in w.snapshots}
    assert kept == {s1, s2}
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2]
    t.open_snapshot(snapshot_id=s1)  # the head's parent is still travelable
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1]


def test_rollback_truncates_snapshot_log(spark, tmp_path):
    """Rollback drops rolled-past snapshots from the snapshot-log (the
    reference-Iceberg rule), so FOR TIMESTAMP AS OF after a rollback
    never resolves to a snapshot off the current lineage, the snapshots
    list stays in commit order, and a reloaded writer keeps building on
    the rollback target."""
    from daskberg_spark.iceberg.writer import IcebergWriter, rollback_to

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    w.append([{"id": 2}])
    s2 = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 3}])
    s3 = w.snapshots[-1]["snapshot-id"]
    s3_ts = w.snapshots[-1]["timestamp-ms"]
    rollback_to(w, s2)

    t = IcebergTable(p)
    log_ids = [e["snapshot-id"] for e in t.metadata["snapshot-log"]]
    assert s3 not in log_ids and log_ids[-1] == s2
    # commit order preserved — snapshots list is NOT reshuffled
    assert [s["snapshot-id"] for s in t.metadata["snapshots"]] == sorted(
        s["snapshot-id"] for s in t.metadata["snapshots"]
    )
    # AS OF a time at/after the rolled-past commit resolves to the head,
    # not the stranded snapshot (upstream behavior)
    t.open_snapshot(as_of_ms=s3_ts)
    assert t.current_snapshot["snapshot-id"] == s2

    # a writer RELOADED from disk keeps the rollback repoint
    w2 = IcebergWriter.load(p)
    assert w2.head_id == s2 and w2.main_pin is None
    w2.append([{"id": 4}])
    t2 = IcebergTable(p)
    assert sorted(r["id"] for r in t2.to_df(spark).collect()) == [1, 2, 4]
    assert t2.current_snapshot["parent-snapshot-id"] == s2
    # post-commit log: lineage only (s3 still absent), chronological
    log_ids = [e["snapshot-id"] for e in t2.metadata["snapshot-log"]]
    assert s3 not in log_ids and s2 in log_ids


def test_compact_tombstones_superseded_deletes(spark, tmp_path):
    """compact_files drops delete files its rewrite fully supersedes:
    DVs/position deletes whose every target was rewritten and equality
    deletes with no surviving lower-sequence data file are tombstoned,
    so future scans carry zero stale anti-join inputs and the orphan
    sweep can reclaim the bytes."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_keys_spark,
        delete_where_dv_spark,
        expire_snapshots,
        remove_orphan_files,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(50)])
    w.append([{"id": i} for i in range(50, 60)])
    delete_where_dv_spark(w, spark, "id < 5")
    delete_keys_spark(w, spark, spark.createDataFrame([(30,)], "id long"))
    expect = [i for i in range(5, 60) if i != 30]

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    assert ids() == expect
    assert len(IcebergTable(p).plan_deletes()) == 2
    assert compact_files(w) is not None
    assert ids() == expect
    assert IcebergTable(p).plan_deletes() == []  # all superseded
    expire_snapshots(w, keep_last=1)
    removed = remove_orphan_files(p)
    assert any(r.endswith(".puffin") for r in removed)
    assert ids() == expect


def test_dv_counter_resumes_after_load(spark, tmp_path):
    """Regression (review r6): IcebergWriter.load's counter scan must
    count dv-NNNNN.puffin names — resuming too low made the next DV
    commit overwrite a live puffin in place, and the old delete entries
    then decoded foreign bytes at their recorded offsets (deleted rows
    resurrected with no error)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(10)])
    first = IcebergTable(p).plan_files()[0]["file_path"]
    w.delete_positions_dv({first: [0, 1]})
    assert sorted(
        r["id"] for r in IcebergTable(p).to_df(spark).collect()
    ) == list(range(2, 10))

    w2 = IcebergWriter.load(p)
    assert w2._file_counter >= 2  # dv-00002.puffin counted
    w2.delete_positions_dv({first: [2]})
    assert sorted(
        r["id"] for r in IcebergTable(p).to_df(spark).collect()
    ) == list(range(3, 10))


def test_norm_scan_path_canonicalizes():
    from daskberg_spark.iceberg.scan import _norm_scan_path

    assert _norm_scan_path("file:///a//b/./c.parquet") == "/a/b/c.parquet"
    assert _norm_scan_path("/a/x/../b.parquet") == "/a/b.parquet"
    assert _norm_scan_path("/a/b.parquet") == "/a/b.parquet"


def test_eq_delete_applies_with_noncanonical_manifest_paths(spark, tmp_path):
    """Regression (review r6): the sequence-map keys must canonicalize
    like Spark's _metadata.file_path — a manifest path carrying '//'
    segments otherwise looks up NULL __seq and the equality delete is
    silently unapplied (every deleted row survives)."""
    import json

    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(10)])
    w.delete_rows_equality([{"id": 3}])
    # forge non-canonical '//' into the table location used at read time
    doubled = p.replace(str(tmp_path), str(tmp_path) + "//")
    t = IcebergTable(doubled)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [
        i for i in range(10) if i != 3
    ]


def test_dv_decode_paths_agree(spark, tmp_path, monkeypatch):
    """Both DV decode strategies — driver-side Arrow local relation
    (small blobs) and executor-side mapInPandas (large) — produce
    identical live rows."""
    from daskberg_spark.iceberg import scan as scan_mod
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(1000)])
    delete_where_dv_spark(w, spark, "id % 7 = 0")
    expect = [i for i in range(1000) if i % 7 != 0]
    t = IcebergTable(p)
    got_driver = sorted(r["id"] for r in t.to_df(spark).collect())
    assert got_driver == expect
    monkeypatch.setattr(scan_mod, "DV_DRIVER_DECODE_MAX_BYTES", -1)
    t2 = IcebergTable(p)
    got_exec = sorted(r["id"] for r in t2.to_df(spark).collect())
    assert got_exec == expect


@pytest.mark.parametrize("seed", [7, 23, 91])
def test_delete_surface_interaction_fuzz(spark, tmp_path, seed):
    """Model-based fuzz over the whole row-level-delete surface: random
    interleavings of appends (with id re-insertion), equality deletes,
    predicate position deletes, predicate DELETION VECTORS, compaction,
    and expire+orphan maintenance must always read back exactly the
    model's live multiset.  Semantics modeled: an equality delete kills
    matching rows appended BEFORE it (re-inserts after it survive);
    position-based deletes (parquet or DV) kill currently-live matching
    rows; compaction and maintenance never change the live set."""
    import random

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_dv_spark,
        delete_where_spark,
        expire_snapshots,
        remove_orphan_files,
    )

    rng = random.Random(seed)
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ],
    )
    live: list[tuple[int, int]] = []  # (id, v) multiset
    next_v = 0

    def do_append():
        nonlocal next_v
        n = rng.randint(1, 12)
        ids = [rng.randint(0, 30) for _ in range(n)]
        rows = []
        for i in ids:
            rows.append({"id": i, "v": next_v})
            live.append((i, next_v))
            next_v += 1
        w.append(rows)

    def do_eq_delete():
        if not live:
            return
        targets = sorted({i for i, _ in rng.sample(live, min(3, len(live)))})
        w.delete_rows_equality([{"id": i} for i in targets])
        live[:] = [(i, v) for i, v in live if i not in targets]

    def do_where(fn):
        k, r = rng.choice([(2, 0), (3, 1), (5, 2)])
        if fn(w, spark, f"v % {k} = {r}") is not None:
            live[:] = [(i, v) for i, v in live if v % k != r]

    ops = [
        do_append,
        do_append,  # appends twice as likely
        do_eq_delete,
        lambda: do_where(delete_where_spark),
        lambda: do_where(delete_where_dv_spark),
        lambda: compact_files(w),
        lambda: (expire_snapshots(w, keep_last=2), remove_orphan_files(p)),
    ]
    do_append()  # never start empty
    for step in range(9):
        rng.choice(ops)()
        got = sorted(
            (r["id"], r["v"])
            for r in IcebergTable(p).to_df(spark).collect()
        )
        assert got == sorted(live), f"seed={seed} step={step}"


def test_rollback_across_delete_history(spark, tmp_path):
    """rollback_to a snapshot whose state already included live delete
    files (position + equality + DV): the restored read must equal the
    historical live set, and post-rollback commits build on it."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        delete_where_spark,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(20)])
    delete_where_spark(w, spark, "id < 3")
    w.delete_rows_equality([{"id": 10}])
    mid = w.snapshots[-1]["snapshot-id"]
    mid_live = [i for i in range(20) if i >= 3 and i != 10]
    delete_where_dv_spark(w, spark, "id >= 15")
    w.append([{"id": 100}])

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    assert ids() == [i for i in mid_live if i < 15] + [100]
    rollback_to(w, mid)
    assert ids() == mid_live  # DV + later append rolled past
    # a fresh equality delete applies to the restored state; a re-insert
    # after it survives by sequence order
    w.delete_rows_equality([{"id": 5}])
    w.append([{"id": 5}])
    assert ids() == sorted([i for i in mid_live if i != 5] + [5])


def test_table_statistics_lifecycle(spark, tmp_path):
    """Table-statistics files (spec 'statistics' list): exact NDVs per
    column, carried by IcebergWriter.load, replaced idempotently per
    snapshot, dropped by expire_snapshots with their snapshot, and the
    stale puffin reclaimed by the metadata orphan sweep."""
    import os

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        expire_snapshots,
        remove_orphan_files,
        write_table_statistics,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(40)])
    path1 = write_table_statistics(w, spark, exact=True)
    t = IcebergTable(p)
    assert t.column_ndv("id") == 40
    assert t.column_ndv("grp") == 2
    assert len(t.table_statistics()) == 1
    # approx variant lands in a sane range on a tiny table
    write_table_statistics(w, spark)  # replaces the same snapshot's entry
    t = IcebergTable(p)
    assert len(t.table_statistics()) == 1
    approx = t.column_ndv("id")
    assert 30 <= approx <= 50

    # new snapshot: old stats stay keyed to their snapshot; current has none
    w.append([{"id": 100 + i, "grp": "c"} for i in range(5)])
    t = IcebergTable(p)
    assert t.column_ndv("id") is None  # no stats for the head snapshot
    path2 = write_table_statistics(w, spark, exact=True)
    t = IcebergTable(p)
    assert t.column_ndv("id") == 45
    assert t.column_ndv("grp") == 3
    assert len(t.table_statistics()) == 2

    # load() carries the statistics list
    w2 = IcebergWriter.load(p)
    assert len(w2.statistics) == 2

    # expire drops the old snapshot's stats entry; its puffin becomes
    # orphan-reclaimable while the live one survives
    expire_snapshots(w2, keep_last=1)
    removed = remove_orphan_files(p)
    assert any(r.endswith(os.path.basename(path1)) for r in removed)
    assert os.path.exists(path2)
    t = IcebergTable(p)
    assert len(t.table_statistics()) == 1
    assert t.column_ndv("id") == 45


def test_partition_statistics_lifecycle(spark, tmp_path):
    """Partition-statistics files: spec-shaped parquet derived from
    manifests only (delete-file counts included), carried by load,
    dropped by expire, stale file orphan-reclaimed."""
    import os

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        expire_snapshots,
        remove_orphan_files,
        write_partition_statistics,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(20)])
    delete_where_dv_spark(w, spark, "id < 4")
    path1 = write_partition_statistics(w)
    t = IcebergTable(p)
    rows = {r["partition"]["grp"]: r for r in t.partition_statistics() if r["partition"]["grp"]}
    assert rows["a"]["data_record_count"] == 10  # counts are pre-delete file stats
    assert rows["a"]["data_file_count"] == 1
    # the DV entry lands under its own (empty) partition row
    dv_rows = [r for r in t.partition_statistics() if r["position_delete_file_count"]]
    assert sum(r["position_delete_record_count"] for r in dv_rows) == 4

    w.append([{"id": 100, "grp": "a"}])
    path2 = write_partition_statistics(w)
    w2 = IcebergWriter.load(p)
    assert len(w2.partition_statistics) == 2
    expire_snapshots(w2, keep_last=1)
    removed = remove_orphan_files(p)
    assert any(r.endswith(os.path.basename(path1)) for r in removed)
    assert os.path.exists(path2)
    t = IcebergTable(p)
    assert len(t.metadata["partition-statistics"]) == 1
    assert t.partition_statistics()


def test_overwrite_partitions_spark(spark, tmp_path):
    """Dynamic partition overwrite: replaces exactly the partitions
    present in the frame, leaves others untouched (pruning intact),
    no-ops on an empty frame, and delete files targeting the replaced
    files die with them."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        overwrite_partitions_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "long", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"id": i, "grp": "abc"[i % 3], "val": i} for i in range(30)])
    delete_where_dv_spark(w, spark, "grp = 'a' AND id < 3")  # DV on old files

    new = spark.createDataFrame(
        [(100 + j, "a", -1) for j in range(5)], "id long, grp string, val long"
    ).withColumn("part_grp", F.col("grp"))
    sid = overwrite_partitions_spark(w, spark, new, "grp", "part_grp")
    assert sid is not None

    t = IcebergTable(p)
    rows = sorted((r["grp"], r["id"]) for r in t.to_df(spark).collect())
    expect = sorted(
        [("abc"[i % 3], i) for i in range(30) if i % 3 != 0]
        + [("a", 100 + j) for j in range(5)]
    )
    assert rows == expect
    assert t.current_snapshot["summary"]["operation"] == "overwrite"
    # untouched partitions prune as before
    pruned = t.plan_files(filters=[("grp", "==", "b")])
    assert pruned and all(f["partition"]["grp"] == "b" for f in pruned)
    # empty frame no-ops
    empty = spark.createDataFrame(
        [], "id long, grp string, val long, part_grp string"
    )
    assert overwrite_partitions_spark(w, spark, empty, "grp", "part_grp") is None


def test_cherrypick_snapshot(spark, tmp_path):
    """Cherry-pick: a rollback-stranded append re-publishes onto the
    current head as a fresh append (metadata-only, files referenced not
    rewritten); sequence semantics give the republished rows the NEW
    commit's sequence, so an equality delete issued between staging and
    publish does not kill them; non-append snapshots refuse."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        cherrypick_snapshot,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}])
    base = w.snapshots[-1]["snapshot-id"]
    w.append([{"id": 2}])
    staged = w.snapshots[-1]["snapshot-id"]
    rollback_to(w, base)  # strand the id=2 append
    w.append([{"id": 3}])
    w.delete_rows_equality([{"id": 2}])  # issued BEFORE the publish

    def ids():
        return sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())

    assert ids() == [1, 3]
    new_id = cherrypick_snapshot(w, staged)
    assert ids() == [1, 2, 3]  # republished row survives the older delete
    t = IcebergTable(p)
    assert (
        t.current_snapshot["summary"]["cherry-picked-snapshot-id"]
        == str(staged)
    )
    assert new_id != staged
    # non-append refuses
    delete_snap = [
        s
        for s in w.snapshots
        if (s.get("summary") or {}).get("operation") == "delete"
    ][0]["snapshot-id"]
    with _pytest.raises(ValueError, match="append snapshots only"):
        cherrypick_snapshot(w, delete_snap)


def test_row_lineage_assignment_and_read(spark, tmp_path):
    """v3 row lineage: every ADDED data file claims a first_row_id block,
    the lineage read surfaces _row_id = first_row_id + position and
    _last_updated_sequence_number = the file's data sequence number, and
    pre-lineage files (no first_row_id) read NULL."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 0}, {"k": 1}, {"k": 2}])
    w.append([{"k": 10}, {"k": 11}])
    assert w._next_row_id == 5
    t = IcebergTable(p)
    df = t.to_df(spark, row_lineage=True)
    rows = {r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
            for r in df.collect()}
    assert rows == {
        0: (0, 1), 1: (1, 1), 2: (2, 1),
        10: (3, 2), 11: (4, 2),
    }
    # ids are unique and survive a writer reload (next-row-id persisted)
    w2 = IcebergWriter.load(p)
    assert w2._next_row_id == 5
    w2.append([{"k": 20}])
    t = IcebergTable(p)
    rows = {r["k"]: r["_row_id"] for r in t.to_df(spark, row_lineage=True).collect()}
    assert rows[20] == 5 and len(set(rows.values())) == 6


def test_row_lineage_survives_compaction_and_mor_update(spark, tmp_path):
    """The r7 verdict's row-lineage criterion: identity survives a
    compact + MOR-update sequence — compaction MATERIALIZES each row's
    _row_id into the rewritten file, and a MOR update's replacement row
    carries its source's _row_id with a bumped
    _last_updated_sequence_number."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        update_where_mor_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 0, "v": 0.0}, {"k": 1, "v": 1.0}])
    w.append([{"k": 2, "v": 2.0}])
    t = IcebergTable(p)
    before = {r["k"]: r["_row_id"] for r in t.to_df(spark, row_lineage=True).collect()}
    assert before == {0: 0, 1: 1, 2: 2}
    # compaction rewrites both files into one; identity must NOT re-key
    assert compact_files(w) is not None
    t = IcebergTable(p)
    after = {r["k"]: (r["_row_id"], r["_last_updated_sequence_number"])
             for r in t.to_df(spark, row_lineage=True).collect()}
    assert {k: rid for k, (rid, _) in after.items()} == before
    # compacted rows keep their ORIGINAL last-updated sequence
    assert after[0][1] == 1 and after[2][1] == 2
    # MOR update: replacement row keeps _row_id, bumps the sequence
    update_where_mor_spark(w, spark, "k = 1", {"v": "v + 100"})
    t = IcebergTable(p)
    rows = {r["k"]: (r["_row_id"], r["_last_updated_sequence_number"], r["v"])
            for r in t.to_df(spark, row_lineage=True).collect()}
    assert rows[1][0] == before[1]          # identity stable
    assert rows[1][2] == 101.0              # value updated
    assert rows[1][1] > after[0][1]         # sequence advanced
    assert rows[0] == (before[0], after[0][1], 0.0)  # untouched row intact


def test_row_lineage_merge_inserts_get_fresh_ids(spark, tmp_path):
    """MOR MERGE: matched rows keep their _row_id; INSERTED rows write
    NULL and inherit fresh ids from the replacement file's first_row_id
    block — all ids stay unique."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        merge_rows_mor_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 0, "v": 0.0}, {"k": 1, "v": 1.0}])
    merge_rows_mor_spark(
        w,
        spark,
        spark.createDataFrame([(1, -1.0), (9, 9.0)], "k long, v double"),
        ["k"],
    )
    t = IcebergTable(p)
    rows = {r["k"]: r["_row_id"] for r in t.to_df(spark, row_lineage=True).collect()}
    assert rows[1] == 1            # updated row keeps its id
    assert rows[9] is not None     # insert got a fresh inherited id
    assert len(set(rows.values())) == 3


def test_changelog_row_identity_update_pairs(spark, tmp_path):
    """identity='row' changelog: a MOR update surfaces as an
    update_before/update_after pair; compaction churn (same _row_id,
    same values) vanishes entirely."""
    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        update_where_mor_spark,
    )
    import pytest as _pytest

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 0, "v": 0.0}, {"k": 1, "v": 1.0}])
    w.append([{"k": 2, "v": 2.0}])
    # window = one MOR update: exactly one update pair, keyed by _row_id
    update_where_mor_spark(w, spark, "k = 1", {"v": "v + 100"})
    t = IcebergTable(p)
    changes = [
        (r["_change_type"], r["k"], r["v"], r["_row_id"])
        for r in changelog_rows_df(t, spark, from_rel=-1, identity="row").collect()
    ]
    assert sorted(changes) == [
        ("update_after", 1, 101.0, 1),
        ("update_before", 1, 1.0, 1),
    ]
    # the position-identity changelog reports the same window as
    # delete+insert (no pairing) — row identity is strictly stronger
    pos = {
        (r["_change_type"], r["k"])
        for r in changelog_rows_df(t, spark, from_rel=-1).collect()
    }
    assert pos == {("delete", 1), ("insert", 1)}
    # compaction window: position identity shows rewrite churn, row
    # identity shows NOTHING
    assert compact_files(w) is not None
    t = IcebergTable(p)
    assert changelog_rows_df(t, spark, from_rel=-1).count() > 0
    assert (
        changelog_rows_df(t, spark, from_rel=-1, identity="row").count() == 0
    )
    with _pytest.raises(ValueError, match="net_changes"):
        changelog_rows_df(t, spark, identity="row", net_changes=True)


def test_row_lineage_survives_distributed_rewrites(spark, tmp_path):
    """Lineage through the DISTRIBUTED rewrite paths: compact_files_spark
    and the CoW merge both materialize _row_id into their output, so
    identity is stable regardless of which compaction/merge twin ran."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files_spark,
        merge_rows_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 0, "v": 0.0}, {"k": 1, "v": 1.0}])
    w.append([{"k": 2, "v": 2.0}])
    t = IcebergTable(p)
    before = {r["k"]: r["_row_id"] for r in t.to_df(spark, row_lineage=True).collect()}
    assert before == {0: 0, 1: 1, 2: 2}
    assert compact_files_spark(w, spark) is not None
    t = IcebergTable(p)
    after = {r["k"]: r["_row_id"] for r in t.to_df(spark, row_lineage=True).collect()}
    assert after == before
    # CoW merge: update k=1, insert k=9 — carried + updated rows keep
    # ids, the insert inherits a fresh one; carried rows keep their
    # ORIGINAL _last_updated_sequence_number, the updated row advances
    seqs_before = {
        r["k"]: r["_last_updated_sequence_number"]
        for r in t.to_df(spark, row_lineage=True).collect()
    }
    merge_rows_spark(
        w,
        spark,
        spark.createDataFrame([(1, -1.0), (9, 9.0)], "k long, v double"),
        ["k"],
    )
    t = IcebergTable(p)
    rows = {
        r["k"]: (r["_row_id"], r["_last_updated_sequence_number"], r["v"])
        for r in t.to_df(spark, row_lineage=True).collect()
    }
    assert {k: rid for k, (rid, _, _) in rows.items() if k != 9} == before
    assert rows[1][2] == -1.0 and rows[1][1] > seqs_before[1]
    assert rows[0][1] == seqs_before[0]  # carried row keeps its sequence
    assert rows[9][0] is not None and len({r[0] for r in rows.values()}) == 4


def test_changelog_row_identity_pre_lineage_fallback(spark, tmp_path):
    """Review r8: NULL-lineage rows (pre-lineage files) key on (file, pos)
    in the row-identity changelog — unchanged rows of a shared file must
    CANCEL, not surface as spurious delete+insert pairs."""
    import glob as _glob

    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file
    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": i} for i in range(5)])
    # forge pre-lineage metadata: null every first_row_id
    import json as _json

    for mp in _glob.glob(f"{p}/metadata/manifest-*.avro"):
        header, entries = read_avro_file(mp)  # header: avro metadata map
        schema = _json.loads(header["avro.schema"])
        for e in entries:
            e["data_file"]["first_row_id"] = None
        write_avro_file(mp, schema, entries)
    t = IcebergTable(p)
    assert all(
        r["_row_id"] is None
        for r in t.to_df(spark, row_lineage=True).collect()
    )
    delete_where_dv_spark(w, spark, "k = 3")
    t = IcebergTable(p)
    changes = [
        (r["_change_type"], r["k"])
        for r in changelog_rows_df(t, spark, from_rel=-1, identity="row").collect()
    ]
    # exactly the deleted row — the 4 unchanged NULL-lineage rows cancel
    # on their (file, pos) fallback key
    assert changes == [("delete", 3)]


def test_expire_snapshots_per_ref_retention(spark, tmp_path):
    """Per-ref retention knobs (set_ref → expire_snapshots(now_ms=)):
    a tag past max-ref-age-ms drops and releases its pin; a branch
    protects min-snapshots-to-keep newest ancestors plus everything
    inside max-snapshot-age-ms; the rest expires as before."""
    from daskberg_spark.iceberg.writer import IcebergWriter, expire_snapshots

    E = 1700000000000  # writer's deterministic clock base
    w = IcebergWriter(
        str(tmp_path / "t"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    for i in range(1, 6):
        w.append([{"x": i}])
    sids = [s["snapshot-id"] for s in w.snapshots]  # ts = E + sid
    w.set_ref("old-tag", "tag", sids[0], max_ref_age_ms=2)
    w.set_ref(
        "audit",
        "branch",
        sids[3],
        min_snapshots_to_keep=2,
        max_snapshot_age_ms=3,
    )
    now = E + 10
    expired = expire_snapshots(w, keep_last=1, now_ms=now)
    # tag aged out (age 9 > 2) → s1 released; branch protects s4 + s3
    # (min_keep=2; cutoff E+7 protects nothing extra); head s5 kept
    assert expired == sorted([sids[0], sids[1]])
    assert "old-tag" not in w.refs and "audit" in w.refs
    t = IcebergTable(w.path)
    assert set(t.snapshots) == {sids[2], sids[3], sids[4]}
    t.open_snapshot(ref="audit")
    assert {r["x"] for r in t.to_df(spark).collect()} == {1, 2, 3, 4}

    # ref sweep with zero snapshot expiry still persists the drop
    w2 = IcebergWriter(
        str(tmp_path / "t2"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w2.append([{"x": 1}])
    head = w2.snapshots[-1]["snapshot-id"]
    w2.set_ref("ephemeral", "tag", head, max_ref_age_ms=1)
    assert expire_snapshots(w2, keep_last=1, now_ms=E + 100) == []
    assert "ephemeral" not in IcebergTable(w2.path).metadata["refs"]

    # without a clock, retention knobs are inert (deterministic default)
    w3 = IcebergWriter(
        str(tmp_path / "t3"),
        [{"id": 1, "name": "x", "type": "long", "required": False}],
    )
    w3.append([{"x": 1}])
    w3.set_ref("keep", "tag", w3.snapshots[-1]["snapshot-id"], max_ref_age_ms=1)
    w3.append([{"x": 2}])
    expire_snapshots(w3, keep_last=1)
    assert "keep" in IcebergTable(w3.path).metadata["refs"]


def test_rewrite_position_deletes(spark, tmp_path):
    """v2→v3 conversion: position-delete parquet (two commits, one
    overlapping a pre-existing DV) becomes one merged DV per touched
    file in a single replace snapshot; the read is unchanged, no live
    non-DV delete file remains, and the consumed parquet is tombstoned."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        rewrite_position_deletes,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"id": i, "v": float(i)} for i in range(20)])
    w.append([{"id": i, "v": float(i)} for i in range(20, 30)])
    t = IcebergTable(p)
    f1, f2 = sorted(t.scan_all()[0])
    w.delete_positions_dv({f2: [0, 1]})          # ids 20, 21
    w.delete_rows_position([(f1, 0), (f1, 5)])   # ids 0, 5
    w.delete_rows_position([(f2, 2), (f1, 5)])   # id 22 (+ dup of 5)
    before = sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())
    assert before == sorted(set(range(30)) - {0, 5, 20, 21, 22})

    sid = rewrite_position_deletes(w)
    assert sid is not None
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == before
    # replace snapshot, v3 metadata
    assert t.snapshots[sid]["summary"]["operation"] == "replace"
    assert t.metadata["format-version"] == 3
    # only DVs survive, exactly one per touched file, merged positions
    deletes = t.plan_deletes()
    assert deletes and all(d.get("referenced_data_file") for d in deletes)
    by_target = {d["referenced_data_file"]: d for d in deletes}
    assert len(by_target) == len(deletes) == 2
    from daskberg_spark.iceberg.puffin import dv_decode_file

    decode = lambda d: sorted(
        dv_decode_file(
            d["file_path"], d["content_offset"], d["content_size_in_bytes"]
        )
    )
    assert decode(by_target[f1]) == [0, 5]
    assert decode(by_target[f2]) == [0, 1, 2]
    # idempotent: nothing left to convert
    assert rewrite_position_deletes(w) is None


def test_upgrade_format_version(spark, tmp_path):
    """Explicit one-way format upgrade: v1 → 3 emits a metadata version
    immediately; downgrade raises; re-upgrade is a no-op; a v3 table
    written by the implicit bump (DV commit) refuses a downgrade too."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        upgrade_format_version,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}, {"id": 2}])
    assert IcebergTable(p).metadata["format-version"] == 1
    v_before = w.version
    upgrade_format_version(w, 3)
    t = IcebergTable(p)
    assert t.metadata["format-version"] == 3
    assert w.version == v_before + 1
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == [1, 2]
    upgrade_format_version(w, 3)  # no-op, no extra metadata version
    assert w.version == v_before + 1
    with _pytest.raises(ValueError, match="downgrade"):
        upgrade_format_version(w, 2)
    with _pytest.raises(ValueError, match="unknown"):
        upgrade_format_version(w, 4)


def test_merge_mor_not_matched_by_source_delete(spark, tmp_path):
    """WHEN NOT MATCHED BY SOURCE THEN DELETE under merge-on-read: the
    source becomes the exact table state — matched rows update in place
    (keeping their v3 _row_id), source-only keys insert, and target-only
    rows DV-tombstone in the SAME commit."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        merge_rows_mor_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"id": i, "v": float(i)} for i in range(6)])
    w.append([{"id": i, "v": float(i)} for i in range(6, 10)])
    t = IcebergTable(p)
    rid_of_2 = {
        r["id"]: r["_row_id"]
        for r in t.to_df(spark, row_lineage=True).collect()
    }[2]
    src = spark.createDataFrame([(2, 99.5), (7, -1.0), (100, 42.0)], "id long, v double")
    merge_rows_mor_spark(w, spark, src, ["id"], not_matched_by_source_delete=True)
    t = IcebergTable(p)
    got = {
        r["id"]: (r["v"], r["_row_id"])
        for r in t.to_df(spark, row_lineage=True).collect()
    }
    assert sorted(got) == [2, 7, 100]
    assert got[2][0] == 99.5 and got[7][0] == -1.0 and got[100][0] == 42.0
    # updated row keeps its stable row identity
    assert got[2][1] == rid_of_2
    # exactly one commit past the two appends
    assert len(t.metadata["snapshots"]) == 3


def test_identifier_fields_and_upsert(spark, tmp_path):
    """identifier-field-ids round-trip through metadata (and load());
    upsert_spark keys on them; spec validation rejects missing,
    non-required, and float identifier columns."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter, upsert_spark

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
            {"id": 3, "name": "s", "type": "string", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i), "s": None} for i in range(5)])
    with _pytest.raises(ValueError, match="unknown identifier"):
        w.set_identifier_fields(["nope"])
    with _pytest.raises(ValueError, match="cannot be double"):
        w.set_identifier_fields(["v"])
    with _pytest.raises(ValueError, match="required"):
        w.set_identifier_fields(["s"])
    w.set_identifier_fields(["k"])
    # persisted on the current schema, restored by load()
    t = IcebergTable(p)
    cur = next(
        s
        for s in t.metadata["schemas"]
        if s["schema-id"] == t.metadata["current-schema-id"]
    )
    assert cur["identifier-field-ids"] == [1]
    w2 = IcebergWriter.load(p)
    assert w2.identifier_field_ids == [1]
    upsert_spark(
        w2, spark, spark.createDataFrame([(3, -1.0), (9, 9.0)], "k long, v double")
    )
    got = {r["k"]: r["v"] for r in IcebergTable(p).to_df(spark).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: -1.0, 4: 4.0, 9: 9.0}
    # no identifier fields and no on= → refuse to guess
    w3 = IcebergWriter(
        str(tmp_path / "t2"),
        [{"id": 1, "name": "k", "type": "long", "required": True}],
    )
    w3.append([{"k": 1}])
    with _pytest.raises(ValueError, match="identifier fields"):
        upsert_spark(w3, spark, spark.createDataFrame([(1,)], "k long"))


def test_changelog_silent_across_pos_delete_rewrite(spark, tmp_path):
    """rewrite_position_deletes is a pure representation change, and the
    metadata-delta changelog proves it: the window spanning only the
    conversion emits ZERO rows (the consumed parquet's targets are
    re-checked on both sides and their live (file, pos) sets agree),
    while a window that also spans the original delete still reports it."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        rewrite_position_deletes,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"id": i, "v": float(i)} for i in range(10)])
    f = next(iter(IcebergTable(p).scan_all()[0]))
    w.delete_rows_position([(f, 2), (f, 4)])
    assert rewrite_position_deletes(w) is not None
    t = IcebergTable(p)
    # conversion-only window: silent
    assert t.changelog_rows_df(spark, from_rel=-1).count() == 0
    # window including the delete commit: exactly the two dead rows
    rows = t.changelog_rows_df(spark, from_rel=-2).collect()
    assert sorted((r["id"], r["_change_type"]) for r in rows) == [
        (2, "delete"),
        (4, "delete"),
    ]


def test_convert_deletes_to_dvs(spark, tmp_path):
    """Full delete consolidation: equality deletes (value-identified,
    out of rewrite_position_deletes' reach), position parquet, and an
    existing DV all fold into one DV per touched file; the read is
    unchanged, every non-DV delete file tombstones, sequence semantics
    survive (a row re-inserted AFTER an equality delete stays live and
    gets no DV), and the metadata-delta changelog is silent across the
    conversion."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        convert_deletes_to_dvs,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"id": i, "v": float(i)} for i in range(10)])
    w.delete_rows_equality([{"id": 3}, {"id": 7}])
    w.append([{"id": 7, "v": -7.0}])          # re-insert AFTER the delete
    f1 = sorted(IcebergTable(p).scan_all()[0])[0]
    w.delete_rows_position([(f1, 0)])          # id 0
    w.delete_positions_dv({f1: [1]})           # id 1 via existing DV
    before = sorted(
        (r["id"], r["v"]) for r in IcebergTable(p).to_df(spark).collect()
    )
    assert before == sorted(
        [(i, float(i)) for i in range(10) if i not in (0, 1, 3, 7)]
        + [(7, -7.0)]
    )
    sid = convert_deletes_to_dvs(w, spark)
    assert sid is not None
    t = IcebergTable(p)
    assert sorted(
        (r["id"], r["v"]) for r in t.to_df(spark).collect()
    ) == before
    deletes = t.plan_deletes()
    assert deletes and all(d.get("referenced_data_file") for d in deletes)
    # one DV per touched file; the re-inserted file carries none
    targets = [d["referenced_data_file"] for d in deletes]
    assert len(set(targets)) == len(targets)
    from daskberg_spark.iceberg.puffin import dv_decode_file

    by_target = {d["referenced_data_file"]: d for d in deletes}
    assert sorted(
        dv_decode_file(
            by_target[f1]["file_path"],
            by_target[f1]["content_offset"],
            by_target[f1]["content_size_in_bytes"],
        )
    ) == [0, 1, 3, 7]  # merged: pos parquet + DV + both eq-dead rows
    assert t.changelog_rows_df(spark, from_rel=-1).count() == 0
    assert convert_deletes_to_dvs(w, spark) is None  # idempotent


def test_upsert_rows_equality_blind(spark, tmp_path):
    """Blind equality-delete UPSERT: one overwrite commit per batch, no
    target read; matched keys take the new values (the eq-delete applies
    only to strictly-older sequence numbers, so the same commit's data
    survives), duplicate in-batch keys collapse to the last occurrence,
    and a later plain append of a dead key stays live."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(5)])
    w.set_identifier_fields(["k"])
    w2 = IcebergWriter.load(p)
    # duplicate key 3 in one batch: last occurrence wins
    sid = w2.upsert_rows_equality(
        [{"k": 3, "v": -3.0}, {"k": 9, "v": 9.0}, {"k": 3, "v": -33.0}]
    )
    t = IcebergTable(p)
    snap = next(
        s for s in t.metadata["snapshots"] if s["snapshot-id"] == sid
    )
    assert snap["summary"]["operation"] == "overwrite"
    assert snap["summary"]["upsert-keys"] == "k"
    got = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: 2.0, 3: -33.0, 4: 4.0, 9: 9.0}
    # ONE commit past the append: delete + data share a snapshot
    assert len(t.metadata["snapshots"]) == 2
    # the upsert wrote an eq-delete file and read nothing: original data
    # files all still live (no rewrite)
    files = {f["file_path"] for f in t.plan_files()}
    assert len(files) == 2  # original append file + upsert data file
    # a second upsert only touches its own keys
    w2.upsert_rows_equality([{"k": 0, "v": 100.0}])
    got = {r["k"]: r["v"] for r in IcebergTable(p).to_df(spark).collect()}
    assert got == {0: 100.0, 1: 1.0, 2: 2.0, 3: -33.0, 4: 4.0, 9: 9.0}
    # a plain append AFTER the upsert re-inserts a dead value and stays
    # (sequence-correct applicability)
    w2.append([{"k": 3, "v": 3.5}])
    vals = sorted(
        r["v"] for r in IcebergTable(p).to_df(spark).collect() if r["k"] == 3
    )
    assert vals == [-33.0, 3.5]
    # guard rails
    with _pytest.raises(ValueError, match="null key"):
        w2.upsert_rows_equality([{"k": None, "v": 1.0}])
    with _pytest.raises(ValueError, match="no merge key"):
        IcebergWriter(
            str(tmp_path / "t2"),
            [{"id": 1, "name": "k", "type": "long", "required": True}],
        ).upsert_rows_equality([{"k": 1}])


def test_upsert_spark_output_partitioned(spark, tmp_path):
    """Distributed blind upsert into a PARTITIONED table: the data half
    hive-partitions on the duplicate path column and the commit lifts
    prunable partition values; the eq-delete half is a GLOBAL delete
    (empty partition tuple) so it kills matched keys in every
    partition — including rows whose partition CHANGED in the update."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, upsert_spark_output

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append(
        [{"k": i, "grp": "ab"[i % 2], "v": float(i)} for i in range(10)]
    )
    # partition_col required on a partitioned table
    with _pytest.raises(ValueError, match="partition_col"):
        upsert_spark_output(
            w, spark, spark.createDataFrame([(1, "a", 0.0)], "k long, grp string, v double"),
            on=["k"],
        )
    # k=3 moves from grp 'b' to 'a'; k=4 updates in place; k=20 inserts
    batch = spark.createDataFrame(
        [(3, "a", -3.0), (4, "a", -4.0), (20, "b", 20.0)],
        "k long, grp string, v double",
    ).withColumn("pgrp", F.col("grp"))
    upsert_spark_output(
        w, spark, batch, on=["k"], partition_col="grp", path_col="pgrp"
    )
    t = IcebergTable(p)
    got = {(r["k"], r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    want = {
        (i, "ab"[i % 2], float(i)) for i in range(10) if i not in (3, 4)
    } | {(3, "a", -3.0), (4, "a", -4.0), (20, "b", 20.0)}
    assert got == want
    # lifted partition values prune: grp='b' read skips the 'a' files
    total = len(t.plan_files())
    pruned = len(t.plan_files([("grp", "==", "b")]))
    assert 0 < pruned < total


def test_remove_dangling_deletes(spark, tmp_path):
    """remove_dangling_deletes drops delete files that cannot apply to
    any live data file: equality deletes dangle once compaction has
    rewritten every older file (rewrites commit under a NEWER sequence);
    live-target DVs and still-applicable eq-deletes stay; the operation
    changes no rows and the changelog across it is silent."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files_spark,
        remove_dangling_deletes,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(10)])
    w.upsert_rows_equality([{"k": 3, "v": -3.0}, {"k": 20, "v": 20.0}], on=["k"])
    t0 = IcebergTable(p)
    before = sorted((r["k"], r["v"]) for r in t0.to_df(spark).collect())
    assert len(t0.plan_deletes()) == 1  # the upsert's eq-delete, live
    # still applicable (the first append's file has a lower sequence):
    # NOT dangling yet
    assert remove_dangling_deletes(w) is None
    # compaction rewrites every data file under a newer sequence and
    # applies the eq-delete to the rewrite -> the delete now dangles
    assert compact_files_spark(w, spark) is not None
    assert len(IcebergTable(p).plan_deletes()) == 1  # carried, useless
    sid = remove_dangling_deletes(w)
    assert sid is not None
    t = IcebergTable(p)
    assert t.plan_deletes() == []
    assert sorted((r["k"], r["v"]) for r in t.to_df(spark).collect()) == before
    snap = next(s for s in t.metadata["snapshots"] if s["snapshot-id"] == sid)
    assert snap["summary"]["removed-delete-files"] == "1"
    # zero logical change: the changelog across the cleanup is empty
    assert t.changelog_rows_df(spark, from_rel=-1).count() == 0
    # idempotent
    assert remove_dangling_deletes(w) is None
    # the cleanup must survive the NEXT commit: the carrying manifests
    # were rewritten, so the removed delete cannot resurrect when
    # _commit drops the tombstone-only manifest
    w.append([{"k": 50, "v": 50.0}])
    t2 = IcebergTable(p)
    assert t2.plan_deletes() == []
    assert sorted(
        (r["k"], r["v"]) for r in t2.to_df(spark).collect()
    ) == sorted(before + [(50, 50.0)])


def test_partition_scoped_equality_delete(spark, tmp_path):
    """A partition-scoped equality delete (Flink's shape on partitioned
    tables) applies ONLY to data files in its (spec, partition): the
    same key in another partition survives — on the direct read, AND
    through a compaction rewrite (which must not over-apply the delete
    while folding it).  A later global delete still kills everywhere."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    # same keys in both partitions, two small files per partition
    w.append([{"k": i, "grp": "a"} for i in range(5)])
    w.append([{"k": i, "grp": "b"} for i in range(5)])
    w.append([{"k": i, "grp": "a"} for i in range(5, 8)])
    w.append([{"k": i, "grp": "b"} for i in range(5, 8)])
    # scoped delete: k in (1, 6) in partition grp='a' ONLY
    w.delete_rows_equality([{"k": 1}, {"k": 6}], partition={"grp": "a"})
    t = IcebergTable(p)
    got = sorted((r["grp"], r["k"]) for r in t.to_df(spark).collect())
    want = sorted(
        [("a", k) for k in range(8) if k not in (1, 6)]
        + [("b", k) for k in range(8)]
    )
    assert got == want
    # compaction folds the scoped delete into partition 'a' only and
    # must not over-apply it to partition 'b'
    assert compact_files(w, min_file_bytes=32 << 20) is not None
    t2 = IcebergTable(p)
    assert sorted((r["grp"], r["k"]) for r in t2.to_df(spark).collect()) == want
    # a later GLOBAL delete kills the key in every partition
    w.delete_rows_equality([{"k": 3}])
    got3 = sorted((r["grp"], r["k"]) for r in IcebergTable(p).to_df(spark).collect())
    assert got3 == sorted(x for x in want if x[1] != 3)


def test_snapshot_summary_parity(spark, tmp_path):
    """Snapshot summaries carry real-Iceberg SnapshotSummary fields:
    exact per-commit deltas (added/deleted files, records, byte sizes,
    delete-file counts) and running table totals — through append,
    blind upsert, compaction (survivor entries must NOT recount), and
    load() resume; rollback resumes totals from the target summary."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        rollback_to,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(10)])
    s1 = IcebergTable(p).metadata["snapshots"][-1]["summary"]
    assert s1["added-data-files"] == "1"
    assert s1["added-records"] == "10"
    assert s1["total-data-files"] == "1"
    assert s1["total-records"] == "10"
    assert int(s1["total-files-size"]) > 0
    # blind upsert: 1 data file + 1 eq-delete file, one commit
    w2 = IcebergWriter.load(p)  # totals resume across processes
    w2.upsert_rows_equality([{"k": 3, "v": -3.0}, {"k": 20, "v": 20.0}], on=["k"])
    s2 = IcebergTable(p).metadata["snapshots"][-1]["summary"]
    assert s2["added-data-files"] == "1"
    assert s2["added-delete-files"] == "1"
    assert s2["added-records"] == "2"
    assert s2["total-data-files"] == "2"
    assert s2["total-delete-files"] == "1"
    assert s2["total-records"] == "12"
    # compaction: rewrite adds the consolidated file, tombstones the two
    # originals, folds the eq-delete's kill of k=3 — and the SURVIVOR
    # re-serialization must not inflate added counts
    assert compact_files(w2, min_file_bytes=32 << 20) is not None
    s3 = IcebergTable(p).metadata["snapshots"][-1]["summary"]
    assert s3["operation"] == "replace"
    assert s3["added-data-files"] == "1"
    assert s3["deleted-data-files"] == "2"
    assert s3["total-data-files"] == "1"
    # 11 live rows: 10 + 2 upserted - 1 dead k=3 original
    assert s3["total-records"] == "11"
    # rollback: totals resume from the target snapshot's own summary
    first = IcebergTable(p).metadata["snapshots"][0]["snapshot-id"]
    rollback_to(w2, first)
    w2.append([{"k": 100, "v": 1.0}])
    s4 = IcebergTable(p).metadata["snapshots"][-1]["summary"]
    assert s4["total-records"] == "11"  # 10 at the target + 1 appended
    assert s4["total-data-files"] == "2"


def test_scoped_delete_partition_validation(spark, tmp_path):
    """A misnamed partition scope raises instead of silently serializing
    as all-None.  A NULL-valued scope is only rejected under the LEGACY
    opt-in property (where all-None reads as GLOBAL — cross-partition
    data loss); by default it is a genuine spec-compliant scope
    (test_null_partition_scoped_eq_delete covers the read)."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": 1, "grp": "a"}])
    with _pytest.raises(ValueError, match="unknown partition field"):
        w.delete_rows_equality([{"k": 1}], partition={"group": "a"})
    w.set_properties({"daskberg.legacy-global-eq-deletes": "true"})
    with _pytest.raises(ValueError, match="NULL partition"):
        w.delete_rows_equality([{"k": 1}], partition={"grp": None})


@pytest.mark.parametrize("seed", [11, 47])
def test_partition_scoped_delete_fuzz(spark, tmp_path, seed):
    """Model-based fuzz over the PARTITION-SCOPED delete surface on a
    partitioned table: random interleavings of appends, global equality
    deletes, partition-scoped equality deletes, blind upserts,
    compaction, and dangling-delete cleanup must always read back the
    model's live multiset.  Modeled semantics: a scoped delete kills
    matching earlier rows only in ITS partition; a global delete (and a
    blind upsert's delete half) kills them everywhere; same-commit
    upsert inserts survive their own delete; maintenance never changes
    the live set."""
    import random

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        remove_dangling_deletes,
    )

    rng = random.Random(seed)
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "long", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    live: list[tuple[int, str, int]] = []
    next_v = 0

    def do_append():
        nonlocal next_v
        rows = []
        for _ in range(rng.randint(1, 8)):
            k, g = rng.randint(0, 20), rng.choice("ab")
            rows.append({"k": k, "grp": g, "v": next_v})
            live.append((k, g, next_v))
            next_v += 1
        # appends randomly pick a data-file format: every delete flavor
        # and maintenance action must behave identically over
        # PARQUET/AVRO/ORC files (r9 multi-format surface)
        w.append(rows, file_format=rng.choice(("parquet", "avro", "orc")))

    def do_global_eq():
        if not live:
            return
        ks = sorted({k for k, _, _ in rng.sample(live, min(3, len(live)))})
        w.delete_rows_equality([{"k": k} for k in ks])
        live[:] = [r for r in live if r[0] not in ks]

    def do_scoped_eq():
        if not live:
            return
        g = rng.choice("ab")
        ks = sorted({k for k, _, _ in rng.sample(live, min(3, len(live)))})
        w.delete_rows_equality([{"k": k} for k in ks], partition={"grp": g})
        live[:] = [r for r in live if not (r[0] in ks and r[1] == g)]

    def do_upsert():
        nonlocal next_v
        ks = rng.sample(range(25), rng.randint(1, 4))
        rows = []
        for k in ks:
            g = rng.choice("ab")
            rows.append({"k": k, "grp": g, "v": next_v})
            next_v += 1
        w.upsert_rows_equality(rows, on=["k"])
        kset = set(ks)
        live[:] = [r for r in live if r[0] not in kset]
        live.extend((r["k"], r["grp"], r["v"]) for r in rows)

    ops = [
        do_append,
        do_append,
        do_global_eq,
        do_scoped_eq,
        do_scoped_eq,  # scoped twice as likely: the new surface
        do_upsert,
        lambda: compact_files(w),
        lambda: remove_dangling_deletes(w),
    ]
    do_append()
    for step in range(10):
        rng.choice(ops)()
        got = sorted(
            (r["k"], r["grp"], r["v"])
            for r in IcebergTable(p).to_df(spark).collect()
        )
        assert got == sorted(live), f"seed={seed} step={step}"


def test_null_partition_scoped_eq_delete(spark, tmp_path):
    """ADVICE r8 (medium): a spec-compliant foreign writer (e.g. a Flink
    upsert on an identity partition over a nullable column) legitimately
    scopes an equality delete to the NULL-valued partition — an all-None
    partition tuple.  The old read rule treated every all-None tuple as
    GLOBAL (this engine's legacy shape), silently deleting same-keyed
    rows in every other partition.  Now the NULL partition is a genuine
    scope: only its rows die."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"k": i, "grp": "a"} for i in range(4)])
    w.append([{"k": i, "grp": None} for i in range(4)])
    w.append([{"k": i, "grp": "a"} for i in range(4, 6)])
    w.append([{"k": i, "grp": None} for i in range(4, 6)])
    # the foreign shape: delete k in (1, 2) scoped to the NULL partition
    w.delete_rows_equality([{"k": 1}, {"k": 2}], partition={"grp": None})
    got = {
        (r["grp"], r["k"]) for r in IcebergTable(p).to_df(spark).collect()
    }
    want = {("a", k) for k in range(6)} | {(None, 0), (None, 3), (None, 4), (None, 5)}
    assert got == want
    # compaction folds the scoped delete into the NULL partition only
    assert compact_files(w, min_file_bytes=32 << 20) is not None
    got2 = {
        (r["grp"], r["k"]) for r in IcebergTable(p).to_df(spark).collect()
    }
    assert got2 == want


def test_legacy_global_eq_delete_optin(spark, tmp_path, monkeypatch):
    """The legacy rule (all-None partition tuple under a partitioned
    spec = GLOBAL delete — the shape this engine wrote before global
    deletes moved to an unpartitioned spec) survives only behind the
    explicit table property ``daskberg.legacy-global-eq-deletes=true``.
    Without the property the same metadata reads spec-compliantly: the
    delete scopes to the (empty) NULL partition and other partitions
    keep their rows."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    def build(path, legacy):
        w = IcebergWriter(
            path,
            [
                {"id": 1, "name": "k", "type": "long", "required": True},
                {"id": 2, "name": "grp", "type": "string", "required": False},
            ],
            [{"name": "grp", "transform": "identity", "source": "grp"}],
        )
        if legacy:
            w.set_properties({"daskberg.legacy-global-eq-deletes": "true"})
        w.append([{"k": i, "grp": "a"} for i in range(4)])
        w.append([{"k": i, "grp": "b"} for i in range(4)])
        # emulate the legacy writer: a GLOBAL delete forced through the
        # PARTITIONED spec (materializes as an all-None record)
        monkeypatch.setattr(
            w, "_global_delete_spec_id", lambda: w.current_spec_id
        )
        w.delete_rows_equality([{"k": 1}])
        return w

    # legacy opt-in: the all-None tuple is read as global — k=1 dies in
    # every partition
    build(str(tmp_path / "legacy"), legacy=True)
    got = sorted(
        (r["grp"], r["k"])
        for r in IcebergTable(str(tmp_path / "legacy")).to_df(spark).collect()
    )
    assert got == sorted(
        (g, k) for g in ("a", "b") for k in range(4) if k != 1
    )
    # no property: spec-compliant scoping — the delete's all-None scope
    # matches no populated partition, every row survives
    build(str(tmp_path / "modern"), legacy=False)
    got2 = sorted(
        (r["grp"], r["k"])
        for r in IcebergTable(str(tmp_path / "modern")).to_df(spark).collect()
    )
    assert got2 == sorted((g, k) for g in ("a", "b") for k in range(4))


def test_eq_delta_files_missing_sequence_conservative(tmp_path):
    """ADVICE r8 (low): an equality-delete record with NO
    ``_sequence_number`` (foreign/v1-era metadata) cannot be bounded by
    the strictly-lower sequence gate — mapping it to 0 made every
    candidate fail the gate and the changelog silently missed its
    changes.  ``_eq_delta_files`` must return None (cannot bound) so
    callers fall back to conservative full marking."""
    from daskberg_spark.iceberg.scan import _eq_delta_files
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": True}]
    )
    w.append([{"k": i} for i in range(5)])
    w.append([{"k": i} for i in range(5, 10)])
    w.delete_rows_equality([{"k": 2}])
    t = IcebergTable(p)
    dels = [d for d in t.plan_deletes() if d.get("content") == 2]
    assert len(dels) == 1
    files = t.plan_files()
    # with sequence metadata: bounded — stats prune to the file holding
    # k=2 (both candidate files predate the delete)
    hit = _eq_delta_files(t, dels[0], files)
    assert hit is not None
    assert {f["file_path"] for f in hit} <= {f["file_path"] for f in files}
    assert len(hit) == 1
    # without: cannot bound — conservative None, never a silent empty set
    stripped = {k: v for k, v in dels[0].items() if k != "_sequence_number"}
    assert _eq_delta_files(t, stripped, files) is None


def test_multiformat_roundtrip_types(spark, tmp_path):
    """PARQUET/AVRO/ORC data files in one table (real Iceberg's format
    set; the reference is parquet-only — README.md:97) read back
    value-exact across long/int/float/double/string/boolean/timestamp/
    date columns.  PARQUET and untagged ORC use Spark's native readers;
    AVRO decodes executor-side via the from-scratch container reader."""
    import datetime as dt

    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "i", "type": "int", "required": False},
            {"id": 3, "name": "f", "type": "float", "required": False},
            {"id": 4, "name": "d", "type": "double", "required": False},
            {"id": 5, "name": "s", "type": "string", "required": False},
            {"id": 6, "name": "b", "type": "boolean", "required": False},
            {"id": 7, "name": "ts", "type": "timestamp", "required": False},
            {"id": 8, "name": "dt", "type": "date", "required": False},
        ],
    )

    def rows(a, b):
        return [
            {
                "k": i,
                "i": i * 2,
                "f": float(i) / 4,
                "d": i * 1.5,
                "s": f"s{i}" if i % 3 else None,
                "b": i % 2 == 0,
                "ts": dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i),
                "dt": dt.date(2024, 1, 1) + dt.timedelta(days=i),
            }
            for i in range(a, b)
        ]

    w.append(rows(0, 4))
    w.append(rows(4, 8), file_format="avro")
    w.append(rows(8, 12), file_format="orc")
    got = {
        (r["k"], r["i"], r["f"], r["d"], r["s"], r["b"], r["ts"], r["dt"])
        for r in IcebergTable(p).to_df(spark).collect()
    }
    want = {
        (
            r["k"], r["i"], r["f"], r["d"], r["s"], r["b"], r["ts"], r["dt"]
        )
        for r in rows(0, 12)
    }
    assert got == want


def test_multiformat_prune_and_deletes(spark, tmp_path):
    """Manifest stats prune files regardless of format (bounds are
    computed from rows at write time, not from parquet footers); DV and
    equality deletes apply across formats — AVRO/ORC position identity
    comes from the executor-side decode's row order."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(0, 10)])
    w.append(
        [{"k": i, "v": float(i)} for i in range(10, 20)], file_format="avro"
    )
    w.append(
        [{"k": i, "v": float(i)} for i in range(20, 30)], file_format="orc"
    )
    t = IcebergTable(p)
    # stats prune: k >= 20 plans ONLY the orc file
    planned = t.plan_files([("k", ">=", 20)])
    assert len(planned) == 1
    assert planned[0]["file_format"] == "ORC"
    assert sorted(
        r["k"] for r in t.to_df(spark, filters=[("k", ">=", 20)]).collect()
    ) == list(range(20, 30))
    # DV delete hits one row in each format's file
    delete_where_dv_spark(w, spark, "k IN (5, 15, 25)")
    got = sorted(r["k"] for r in IcebergTable(p).to_df(spark).collect())
    assert got == [k for k in range(30) if k not in (5, 15, 25)]
    # equality delete on top
    w.delete_rows_equality([{"k": 12}, {"k": 22}])
    got2 = sorted(r["k"] for r in IcebergTable(p).to_df(spark).collect())
    assert got2 == [k for k in range(30) if k not in (5, 15, 25, 12, 22)]


def test_multiformat_compaction_folds_to_parquet(spark, tmp_path):
    """Compaction reads AVRO/ORC files through the format-dispatched
    driver read (``writer._read_data_table``) and consolidates into
    parquet — formats may vary per file, so a rewrite changing the
    format is spec-legal."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(5)])
    w.append([{"k": i, "v": float(i)} for i in range(5, 10)], file_format="avro")
    w.append([{"k": i, "v": float(i)} for i in range(10, 15)], file_format="orc")
    w.delete_rows_equality([{"k": 7}])
    assert compact_files(w, min_file_bytes=32 << 20) is not None
    t = IcebergTable(p)
    assert {f["file_format"] for f in t.plan_files()} == {"PARQUET"}
    got = sorted((r["k"], r["v"]) for r in t.to_df(spark).collect())
    assert got == [(k, float(k)) for k in range(15) if k != 7]


def test_avro_data_file_unsupported_type_loud(tmp_path):
    """AVRO data files with decimal/nested columns fail loudly at write
    time (the scan's AVRO decode has the matching guard)."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "t"),
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "m", "type": "decimal(10,2)", "required": False},
        ],
    )
    with _pytest.raises(NotImplementedError, match="AVRO data files"):
        w.append([{"k": 1, "m": None}], file_format="avro")


def test_v2_position_delete_on_nonparquet_files(spark, tmp_path):
    """Predicate position deletes (v2 parquet delete files) target
    AVRO/ORC data files too: row positions come from the executor-side
    decode's row order, and the delete-aware read anti-joins the same
    (file, pos) pairs regardless of data-file format — including
    through a later compaction fold."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_spark,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(0, 6)], file_format="avro")
    w.append([{"k": i, "v": float(i)} for i in range(6, 12)], file_format="orc")
    w.append([{"k": i, "v": float(i)} for i in range(12, 18)])
    delete_where_spark(w, spark, "k % 5 = 0")  # kills 0,5,10,15
    got = sorted(r["k"] for r in IcebergTable(p).to_df(spark).collect())
    want = [k for k in range(18) if k % 5 != 0]
    assert got == want
    # compaction folds the position deletes across all three formats
    assert compact_files(w, min_file_bytes=32 << 20) is not None
    got2 = sorted(r["k"] for r in IcebergTable(p).to_df(spark).collect())
    assert got2 == want


def test_avro_data_file_carries_materialized_lineage(spark, tmp_path):
    """Review r9: AVRO data files must encode materialized v3 lineage
    columns like the parquet/ORC writers do — dropping them would
    silently re-key row identity on read (inheritance fallback)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": True}]
    )
    # rows carrying explicit materialized lineage (the rewrite shape)
    w.append(
        [
            {"k": 1, "_row_id": 100, "_last_updated_sequence_number": 7},
            {"k": 2, "_row_id": 101, "_last_updated_sequence_number": 7},
        ],
        file_format="avro",
    )
    df = IcebergTable(p).to_df(spark, row_lineage=True)
    got = sorted((r["k"], r["_row_id"]) for r in df.collect())
    assert got == [(1, 100), (2, 101)], got


def test_v3_variant_column(spark, tmp_path):
    """v3 ``variant`` type: maps to Spark's native VariantType; data
    files here come from the cluster write path (Spark parquet +
    metadata commit; since r10 the driver-side writer ALSO accepts
    variant — test_variant.py), footer stats for sibling primitive
    columns lift through the DuckDB fallback (pyarrow cannot parse the
    VARIANT annotation), so id-range pruning still works on a
    variant-bearing table."""
    from daskberg_spark.iceberg.fixtures import ensure_variant_fixture

    t = IcebergTable(ensure_variant_fixture(spark))
    df = t.to_df(spark).selectExpr(
        "id", "variant_get(payload, '$.a', 'long') AS a"
    )
    got = {(r["id"], r["a"]) for r in df.collect()}
    assert got == {(i, i % 7) for i in range(50)}
    # sibling-column stats pruned through the DuckDB footer fallback
    all_files = t.plan_files()
    assert len(all_files) == 2
    assert len(t.plan_files([("id", ">=", 40)])) == 1


def test_diff_df_changelog_rename_alignment(spark, tmp_path):
    """Review r9: the changelog's removed side must read pre-rename
    files by FIELD ID — a plain by-name read under the current schema
    silently null-fills the renamed column on every delete-side row
    (and an incremental aggregate would then subtract nothing)."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "amount", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 1, "amount": 10.0}, {"k": 2, "amount": 20.0}])
    w.append([{"k": 3, "amount": 30.0}])
    w.rename_column("amount", "total")
    # compaction rewrites the PRE-rename files in one replace commit
    assert compact_files(w, min_file_bytes=32 << 20) is not None
    t = IcebergTable(p)
    delta = t.diff_df(spark, from_rel=-1, changelog=True)
    dels = {
        (r["k"], r["total"])
        for r in delta.filter("_change_type = 'delete'").collect()
    }
    # the delete side carries REAL values under the current name
    assert dels == {(1, 10.0), (2, 20.0), (3, 30.0)}, dels
    ins = {
        (r["k"], r["total"])
        for r in delta.filter("_change_type = 'insert'").collect()
    }
    assert ins == dels


def test_refresh_aggregate_null_group_key(spark, tmp_path):
    """Review r9: the materialized/delta merge must join group keys
    NULL-SAFELY — groupBy puts NULL keys in one group, and a
    null-unsafe join would split the NULL group into duplicate rows on
    every refresh."""
    from daskberg_spark.iceberg.scan import (
        materialize_aggregate,
        refresh_aggregate,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "g", "type": "string", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"g": None, "v": 1.0}, {"g": "a", "v": 2.0}])
    t = IcebergTable(p)
    base = materialize_aggregate(t.to_df(spark), ["g"], {"sv": "v"})
    w.append([{"g": None, "v": 5.0}, {"g": "a", "v": 7.0}])
    t2 = IcebergTable(p)
    refreshed = refresh_aggregate(
        t2, spark, base, ["g"], {"sv": "v"}, from_rel=-1
    )
    rows = {(r["g"], r["n"], float(r["sv"])) for r in refreshed.collect()}
    # ONE row per key, NULL included — no duplication
    assert rows == {(None, 2, 6.0), ("a", 2, 9.0)}, rows


def test_dangling_sweep_preserves_mixed_manifest_tombstones(spark, tmp_path):
    """Review r9 (writer): rewriting a MIXED manifest (live DV adds +
    superseded-DV tombstones — exactly what a DV commit writes) must
    keep the tombstones as status 2.  Re-serializing them EXISTING
    resurrected the superseded DV: two live DVs for one data file, and
    newest-DV-only readers would drop the older delete set."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
        remove_dangling_deletes,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": True}]
    )
    w.append([{"k": i} for i in range(10)])        # file A
    w.append([{"k": i} for i in range(10, 20)])    # file B
    delete_where_dv_spark(w, spark, "k = 1")       # DV_A1
    # one commit: merged DV for A (supersedes DV_A1 → tombstone) + DV
    # for B — a MIXED manifest
    delete_where_dv_spark(w, spark, "k IN (2, 11)")
    # drop file B entirely → its DV dangles
    b_path = sorted(
        f["file_path"] for f in IcebergTable(p).plan_files()
    )[1]
    w.delete_files(lambda df: df["file_path"] == b_path)
    assert remove_dangling_deletes(w) is not None
    t = IcebergTable(p)
    # exactly ONE live DV, targeting file A — the superseded DV_A1 must
    # NOT have resurrected through the rewrite
    dvs = [d for d in t.plan_deletes() if d.get("referenced_data_file")]
    assert len(dvs) == 1, dvs
    got = sorted(r["k"] for r in t.to_df(spark).collect())
    assert got == [0] + list(range(3, 10))


def test_cherrypick_rejects_ancestor(tmp_path):
    """Review r9 (writer): cherry-picking a snapshot already in the
    head's lineage would re-add its live files and duplicate every
    row — refuse loudly."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        cherrypick_snapshot,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    s1 = w.append([{"k": 1}])
    w.append([{"k": 2}])
    with _pytest.raises(ValueError, match="ancestor"):
        cherrypick_snapshot(w, s1)


def test_distributed_write_date_and_null_partitions(spark, tmp_path):
    """Review r9 (writer): hive path segments for identity-on-date
    partitions parse to epoch-day ints (the manifest Avro's logical
    date), and Spark's __HIVE_DEFAULT_PARTITION__ segment (NULL source
    value) records a None partition value instead of crashing int() or
    storing the literal string."""
    import datetime as dt

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "d", "type": "date", "required": False},
        ],
        [{"name": "d", "transform": "identity", "source": "d"}],
    )
    df = spark.createDataFrame(
        [
            (1, dt.date(2024, 1, 1)),
            (2, dt.date(2024, 1, 2)),
            (3, None),
        ],
        "k long, d date",
    ).withColumn("part_d", F.col("d"))
    stage = str(tmp_path / "stage")
    df.write.partitionBy("part_d").mode("overwrite").parquet(stage)
    commit_spark_output(w, stage, partition_col="d", path_col="part_d")
    t = IcebergTable(p)
    parts = {
        f["partition"]["d"] for f in t.plan_files()
    }
    epoch = dt.date(1970, 1, 1)
    assert parts == {
        (dt.date(2024, 1, 1) - epoch).days,
        (dt.date(2024, 1, 2) - epoch).days,
        None,
    }, parts
    got = sorted(
        (r["k"], r["d"]) for r in t.to_df(spark).collect()
    )
    assert got == [(1, dt.date(2024, 1, 1)), (2, dt.date(2024, 1, 2)), (3, None)]
    # identity-date pruning skips the other DATE partition (the NULL
    # partition stays conservatively — no bounds to disprove a match)
    pruned = {f["partition"]["d"] for f in t.plan_files([("d", "==", dt.date(2024, 1, 1))])}
    assert (dt.date(2024, 1, 1) - epoch).days in pruned
    assert (dt.date(2024, 1, 2) - epoch).days not in pruned


def test_merge_rows_carries_row_lineage(spark, tmp_path):
    """Review r9 (writer): the driver-side CoW merge must materialize
    surviving rows' v3 lineage like compaction and the Spark twins —
    matched rows keep their _row_id (identity survives the update) and
    inherit the NEW commit's sequence."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": 1, "v": 1.0}, {"k": 2, "v": 2.0}, {"k": 3, "v": 3.0}])
    t0 = IcebergTable(p)
    before = {
        r["k"]: r["_row_id"]
        for r in t0.to_df(spark, row_lineage=True).collect()
    }
    w.merge_rows([{"k": 2, "v": -2.0}], key_cols=["k"])
    t1 = IcebergTable(p)
    after = {
        r["k"]: (r["_row_id"], r["v"])
        for r in t1.to_df(spark, row_lineage=True).collect()
    }
    assert after[2] == (before[2], -2.0)  # identity survives the update
    assert after[1] == (before[1], 1.0)
    assert after[3] == (before[3], 3.0)


def test_orphan_sweep_reclaims_nonparquet_data_files(tmp_path):
    """Review r9 (writer): orphaned .avro/.orc data files are
    reclaimable like parquet ones."""
    import os

    from daskberg_spark.iceberg.writer import IcebergWriter, remove_orphan_files

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 1}])
    stray_a = os.path.join(p, "data", "stray.avro")
    stray_o = os.path.join(p, "data", "stray.orc")
    open(stray_a, "wb").write(b"x")
    open(stray_o, "wb").write(b"x")
    remove_orphan_files(p)
    assert not os.path.exists(stray_a) and not os.path.exists(stray_o)


def test_commit_tolerates_null_manifest_counts(tmp_path):
    """Review r9 (writer): a loaded foreign manifest list may store
    explicit null added/existing counts (nullable per the v1 spec);
    the first commit after load must not TypeError on None > 0."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "k", "type": "long", "required": False}]
    )
    w.append([{"k": 1}])
    w2 = IcebergWriter.load(p)
    for m in w2.manifests:
        m["added_data_files_count"] = None
        m["existing_data_files_count"] = None
    w2.append([{"k": 2}])  # must not raise
    assert len(IcebergTable(p).plan_files()) == 2


def test_avro_split_scan_exact_and_delete_aligned(spark, tmp_path, monkeypatch):
    """A large AVRO data file fans out into byte-range tasks (one huge
    container no longer serializes on one core).  The split read must be
    (a) row-exact vs the whole-file read and (b) POSITION-exact: each
    range task tags ``__pos`` with the whole-file row offset of its
    first owned block, so position deletes and DVs kill the same rows
    they would in an unsplit scan."""
    import daskberg_spark.iceberg.avro as avro_mod
    import daskberg_spark.iceberg.scan as scan_mod
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    # many small blocks + a tiny split threshold → several range tasks
    monkeypatch.setattr(avro_mod, "AVRO_BLOCK_BYTES", 1024)
    monkeypatch.setattr(scan_mod, "AVRO_SPLIT_BYTES", 4096)

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "s", "type": "string", "required": False},
        ],
    )
    rows = [{"k": i, "s": f"value-{i:05d}"} for i in range(2000)]
    w.append(rows, file_format="avro")
    t = IcebergTable(p)
    rec = t.plan_files()[0]
    assert rec["file_format"] == "AVRO"
    assert rec["file_size_in_bytes"] > scan_mod.AVRO_SPLIT_BYTES

    df = t.to_df(spark)
    assert df.rdd.getNumPartitions() > 1  # genuinely split
    got = sorted(r["k"] for r in df.collect())
    assert got == list(range(2000))

    # delete rows across the file; split positions must align
    delete_where_dv_spark(w, spark, "k % 400 = 7")
    killed = {k for k in range(2000) if k % 400 == 7}
    got2 = sorted(r["k"] for r in IcebergTable(p).to_df(spark).collect())
    assert got2 == [k for k in range(2000) if k not in killed]


def test_avro_split_scan_matches_unsplit(spark, tmp_path, monkeypatch):
    """Differential: the same table read split vs unsplit returns
    identical row sets (ownership rule covers every block exactly once,
    including ranges that start mid-block and files whose string data
    contains the sync-marker bytes)."""
    import daskberg_spark.iceberg.avro as avro_mod
    import daskberg_spark.iceberg.scan as scan_mod
    from daskberg_spark.iceberg.writer import IcebergWriter

    monkeypatch.setattr(avro_mod, "AVRO_BLOCK_BYTES", 512)
    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "s", "type": "string", "required": False},
        ],
    )
    # adversarial payload: the writer's fixed sync marker inside values
    w.append(
        [
            {"k": i, "s": "daskbergsparksyn" if i % 7 == 0 else "x" * (i % 40)}
            for i in range(800)
        ],
        file_format="avro",
    )
    t = IcebergTable(p)
    monkeypatch.setattr(scan_mod, "AVRO_SPLIT_BYTES", 10**12)
    whole = sorted(
        (r["k"], r["s"]) for r in t.to_df(spark).collect()
    )
    monkeypatch.setattr(scan_mod, "AVRO_SPLIT_BYTES", 2048)
    split = sorted(
        (r["k"], r["s"]) for r in IcebergTable(p).to_df(spark).collect()
    )
    assert split == whole


# -- one-split scans and py4j chatter ------------------------------------------


def _kv_table(path: str, batches: list[range]) -> IcebergTable:
    """An unpartitioned (k, v = 2k) table with one data file per batch."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        path,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ],
    )
    for b in batches:
        w.append([{"k": i, "v": 2 * i} for i in b])
    return IcebergTable(path)


def _agg_in_group(spark, df, group: str):
    """``count(*)``, ``sum(v)`` of ``df`` under job group ``group``:
    (row, Spark jobs the group ran, executed plan text)."""
    sc = spark.sparkContext
    agg = df.agg(F.count(F.lit(1)), F.sum("v"))
    sc.setJobGroup(group, group)
    try:
        row = agg.collect()[0]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    return tuple(row), jobs, agg._jdf.queryExecution().executedPlan().toString()


def test_one_small_file_point_read_runs_one_job(spark, tmp_path):
    """A filtered read that prunes to one file smaller than
    openCostInBytes is one split: its global aggregate plans no Exchange
    and runs in one Spark job (AQE ran a map stage and a result job)."""
    t = _kv_table(str(tmp_path / "t"), [range(50)])
    assert len(t.plan_files()) == 1
    filters = [("k", ">=", 10), ("k", "<", 45)]
    row, jobs, plan = _agg_in_group(spark, t.to_df(spark, filters=filters), "one-split")
    assert row == (35, sum(2 * i for i in range(10, 45)))
    assert jobs == 1, plan
    assert "Exchange" not in plan, plan


def test_multi_file_and_large_file_scans_keep_their_splits(spark, tmp_path):
    """Multi-file reads, and a single file larger than openCostInBytes,
    keep the partitions of the plain native scan, with the same answers
    as the one-split read."""
    t = _kv_table(str(tmp_path / "t"), [range(0, 20), range(20, 40), range(40, 60)])
    paths = [f["file_path"] for f in t.plan_files()]
    assert len(paths) == 3
    df = t.to_df(spark)
    plain = spark.read.parquet(*paths).rdd.getNumPartitions()
    assert plain > 1
    assert df.rdd.getNumPartitions() == plain
    row, _jobs, _plan = _agg_in_group(spark, t.to_df(spark, filters=[("k", "<", 45)]), "multi")
    assert row == (45, sum(2 * i for i in range(45)))
    # the same one-file table as above, but openCostInBytes (given with
    # a unit) below its size: the read is not coalesced
    one = _kv_table(str(tmp_path / "one"), [range(50)])
    size = one.plan_files()[0]["file_size_in_bytes"]
    old = spark.conf.get("spark.sql.files.openCostInBytes")
    spark.conf.set("spark.sql.files.openCostInBytes", f"{size - 1}b")
    try:
        df = one.to_df(spark, filters=[("k", ">=", 10), ("k", "<", 45)])
        assert "Repartition" not in df._jdf.queryExecution().optimizedPlan().toString()
        row, _jobs, _plan = _agg_in_group(spark, df, "large-file")
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old)
    assert row == (35, sum(2 * i for i in range(10, 45)))


def test_session_skips_call_site_capture(spark, monkeypatch):
    """``get_spark`` turns PySpark's DataFrame call-site capture off, so
    a 3-predicate residual costs only the py4j round trips that build it
    (~23 here; ~103 with the capture's per-op getActiveSession,
    PySparkCurrentOrigin set/clear and conf reads)."""
    from daskberg_spark.iceberg.scan import filters_to_column

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    filters = [("day", "==", 3), ("id", ">=", 100), ("id", "<", 200)]
    filters_to_column(filters)  # warm py4j's class lookups
    client = spark.sparkContext._gateway._gateway_client
    calls = []
    orig = client.send_command

    def counting(*args, **kwargs):
        calls.append(args)
        return orig(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    col = filters_to_column(filters)
    monkeypatch.undo()
    assert col is not None
    assert len(calls) < 40, len(calls)
