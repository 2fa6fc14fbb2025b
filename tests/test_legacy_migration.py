"""`migrate_legacy_eq_deletes`: pre-scoping global equality deletes
(all-None tuple under a partitioned spec + the
``daskberg.legacy-global-eq-deletes`` property) rewritten onto an
unpartitioned spec — after which the property and the scan layer's
ambiguity warning are dead and spec-compliant readers agree."""
from __future__ import annotations

import warnings

import pytest


def _build_legacy_table(path: str):
    """The pre-r8 shape, NOT yet migrated (unlike the shared fixture)."""
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        str(path),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
        [{"name": "cat", "transform": "identity", "source": "cat"}],
    )
    writer.append(
        [{"id": i, "cat": "abc"[i % 3], "val": float(i)} for i in range(60)]
    )
    snapshot_id = writer._next_snapshot_id
    entry = writer._build_eq_delete_entry(
        [{"id": i} for i in range(0, 60, 7)], snapshot_id, None
    )
    writer._commit(snapshot_id, [(writer.current_spec_id, [entry])], "delete")
    writer.set_properties({"daskberg.legacy-global-eq-deletes": "true"})
    writer.append([{"id": 0, "cat": "a", "val": -1.0}])
    return writer


def _rows(spark, path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.scan import to_df

    return sorted(
        tuple(r) for r in to_df(IcebergTable(str(path)), spark).collect()
    )


def test_migration_reads_identically_and_kills_warning(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import migrate_legacy_eq_deletes

    path = tmp_path / "legacy"
    writer = _build_legacy_table(path)
    before = _rows(spark, path)
    # the legacy-global reading: every id%7==0 dead in EVERY partition,
    # reborn id 0 (post-delete sequence) alive
    ids = sorted(r[0] for r in before)
    assert ids == sorted(
        [i for i in range(60) if i % 7 != 0] + [0]
    )

    sid = migrate_legacy_eq_deletes(writer)
    assert sid is not None
    # property dropped in the same commit; re-run is a no-op
    t = IcebergTable(str(path))
    assert "daskberg.legacy-global-eq-deletes" not in (
        t.metadata.get("properties") or {}
    )
    assert migrate_legacy_eq_deletes(writer) is None

    # identical read, and the ambiguity warning is GONE (the delete now
    # lives on an unpartitioned spec — globally scoped per spec)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        after = _rows(spark, path)
    assert after == before

    # the delete parquet was re-registered, not rewritten
    deletes = t.plan_deletes()
    assert len(deletes) == 1
    assert not t._spec_fields(deletes[0]["_spec_id"]), "must be unpartitioned"
    assert (deletes[0].get("partition") or {}) == {}


def test_migration_noop_without_legacy_shape(spark, tmp_path):
    """Properly-scoped and properly-global deletes are left alone."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        migrate_legacy_eq_deletes,
    )

    writer = IcebergWriter(
        str(tmp_path / "clean"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
        ],
        [{"name": "cat", "transform": "identity", "source": "cat"}],
    )
    writer.append([{"id": i, "cat": "ab"[i % 2]} for i in range(20)])
    writer.delete_rows_equality([{"id": 3}])  # global → unpartitioned spec
    writer.delete_rows_equality([{"id": 4}], partition={"cat": "a"})
    assert migrate_legacy_eq_deletes(writer) is None


def test_migration_preserves_sequence_applicability(spark, tmp_path):
    """A row re-inserted AFTER the legacy delete must stay alive after
    migration (explicit sequence numbers on the re-registered entry)."""
    path = tmp_path / "legacy2"
    writer = _build_legacy_table(path)
    from daskberg_spark.iceberg.writer import migrate_legacy_eq_deletes

    migrate_legacy_eq_deletes(writer)
    rows = _rows(spark, path)
    assert (0, "a", -1.0) in [tuple(r) for r in rows]
    assert not any(r[0] == 7 for r in rows)


def test_shared_fixture_matches_formula(spark):
    from daskberg_spark.iceberg.fixtures import ensure_legacy_eq_fixture

    path = ensure_legacy_eq_fixture()
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        rows = _rows(spark, path)
    live = {(i, "abc"[i % 3], float(i)) for i in range(60) if i % 7} | {
        (0, "a", -1.0)
    }
    assert set(rows) == live
