"""Deterministic partitioned Iceberg fixture (FIXTURES.md §3).

The reference's golden table has an empty partition spec, so manifest
pruning, partition-value pruning and transform rewrite (SURVEY §2 A4-A7)
have zero coverage there.  This builds, once per checkout, a v1 table
partitioned by all four transform families:

    sym_bucket  = bucket[4](sym)
    day_ts_day  = day(day_ts)
    cat         = identity(cat)
    qty_trunc   = truncate[10](qty)

3 snapshots: append 150 rows → append 50 rows (second manifest) → delete
all files of (cat='news', day=2024-01-01).  The delete predicate uses only
content-derivable partitions (identity + day), so a DuckDB oracle over the
raw data files can reproduce the live rowset with a plain WHERE clause —
no dependence on our own planner.
"""

from __future__ import annotations

import datetime
import os
from decimal import Decimal

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".fixtures", "part_table")

SYMS = ["AAPL", "MSFT", "GOOG", "AMZN"]
CATS = ["news", "blog"]
DAY1 = datetime.datetime(2024, 1, 1)
DAY2 = datetime.datetime(2024, 1, 2)
DAYS = [DAY1, DAY2]
DAY1_EPOCH_DAYS = (DAY1.date() - datetime.date(1970, 1, 1)).days

SCHEMA_FIELDS = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {"id": 2, "name": "sym", "type": "string", "required": False},
    {"id": 3, "name": "day_ts", "type": "timestamp", "required": False},
    {"id": 4, "name": "cat", "type": "string", "required": False},
    {"id": 5, "name": "price", "type": "decimal(10,2)", "required": False},
    {"id": 6, "name": "qty", "type": "int", "required": False},
]

PARTITION_SPEC = [
    {"name": "sym_bucket", "transform": "bucket[4]", "source": "sym"},
    {"name": "day_ts_day", "transform": "day", "source": "day_ts"},
    {"name": "cat", "transform": "identity", "source": "cat"},
    {"name": "qty_trunc", "transform": "truncate[10]", "source": "qty"},
]


def make_rows(n: int, start: int = 0) -> list[dict]:
    rows = []
    for i in range(start, start + n):
        day = DAYS[(i // 4) % 2]
        rows.append(
            {
                "id": i,
                "sym": SYMS[i % 4],
                "day_ts": day + datetime.timedelta(hours=i % 24),
                "cat": CATS[(i // 8) % 2],
                "price": Decimal(f"{(i % 50)}.25"),
                "qty": (i * 7) % 20,
            }
        )
    return rows


def ensure_partitioned_fixture(path: str = FIXTURE_DIR) -> str:
    """Build the fixture if absent; deterministic content → stable paths."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(path, SCHEMA_FIELDS, PARTITION_SPEC)
    writer.append(make_rows(150, 0))
    writer.append(make_rows(50, 150))
    writer.delete_files(
        lambda df: df["partition"]["cat"] == "news"
        and df["partition"]["day_ts_day"] == DAY1_EPOCH_DAYS
    )
    return path


# SQL fragment reproducing the delete, content-only (for DuckDB oracles).
LIVE_WHERE = (
    "NOT (cat = 'news' AND CAST(day_ts AS DATE) = DATE '2024-01-01')"
)


LINEITEM_FIELDS = [
    {"id": 1, "name": "l_orderkey", "type": "long", "required": False},
    {"id": 2, "name": "l_quantity", "type": "double", "required": False},
    {"id": 3, "name": "l_extendedprice", "type": "double", "required": False},
    {"id": 4, "name": "l_discount", "type": "double", "required": False},
    {"id": 5, "name": "l_returnflag", "type": "string", "required": False},
    {"id": 6, "name": "l_shipdate", "type": "timestamp", "required": False},
    {"id": 7, "name": "l_shipmonth", "type": "int", "required": False},
]


def ensure_lineitem_iceberg(spark, sf_dir: str) -> str:
    """Build (once per sf_dir) an Iceberg table over the full lineitem
    fixture, identity-partitioned by ship month: Spark writes the
    hive-partitioned parquet in parallel, then ``commit_spark_output``
    lifts footers into Iceberg metadata — the distributed-write path.
    """
    import hashlib

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(os.path.dirname(FIXTURE_DIR), f"lineitem_ice_{tag}")
    hint = os.path.join(base, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return base
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    month = (F.year("l_shipdate") - F.lit(1970)) * 12 + F.month("l_shipdate") - 1
    # partitionBy drops its column from file contents, so partition on a
    # duplicate (`part_month`) and keep l_shipmonth in the data proper —
    # Iceberg data files always carry their partition source columns.
    out = (
        li.select(
            "l_orderkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "l_shipdate",
            month.cast("int").alias("l_shipmonth"),
            month.cast("int").alias("part_month"),
        )
    )
    data_dir = os.path.join(base, "data")
    out.write.mode("overwrite").partitionBy("part_month").parquet(data_dir)
    writer = IcebergWriter(
        base,
        LINEITEM_FIELDS,
        [{"name": "l_shipmonth", "transform": "identity", "source": "l_shipmonth"}],
    )
    commit_spark_output(
        writer, data_dir, partition_col="l_shipmonth", path_col="part_month"
    )
    return base


DELETES_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "deletes_table")

# deleted on read by the v2 delete files below (content-derived, so DuckDB
# oracles can reproduce the live rowset without understanding Iceberg):
EQ_DELETED_IDS = [5, 17, 61]        # equality delete on id
POS_DELETED_IDS = [0, 1, 2]         # rows 0-2 of the first data file


def ensure_deletes_fixture(path: str = DELETES_FIXTURE_DIR) -> str:
    """v2 row-level-delete table: 100 rows in two appends, one equality
    delete (3 ids) and one position delete (first 3 rows of file 1)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [{"id": i, "grp": "abc"[i % 3], "val": i * 1.5} for i in range(100)]
    writer.append(rows[:60])   # file holds positions 0..59 = ids 0..59
    writer.append(rows[60:])
    writer.delete_rows_equality([{"id": i} for i in EQ_DELETED_IDS])
    first_file = sorted(
        p for p in os.listdir(os.path.join(path, "data")) if p[0] == "0"
    )[0]
    writer.delete_rows_position(
        [(os.path.join(path, "data", first_file), p) for p in range(3)]
    )
    return path


EVOLVED_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "evolved_table")


def ensure_evolved_fixture(path: str = EVOLVED_FIXTURE_DIR) -> str:
    """Schema-evolution table: append under (id, amount) → rename
    amount→total → append → add note → append."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "amount", "type": "double", "required": False},
        ],
    )
    writer.append([{"id": i, "amount": i * 10.0} for i in range(1, 21)])
    writer.rename_column("amount", "total")
    writer.append([{"id": i, "total": i * 10.0} for i in range(21, 31)])
    writer.add_column("note", "string")
    writer.append(
        [{"id": i, "total": i * 10.0, "note": f"n{i}"} for i in range(31, 41)]
    )
    return path


NESTED_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "nested_table")

NESTED_FIELDS = [
    {"id": 1, "name": "id", "type": "long", "required": True},
    {
        "id": 2,
        "name": "meta",
        "type": {
            "type": "struct",
            "fields": [
                {"id": 5, "name": "author", "type": "string", "required": False},
                {"id": 6, "name": "score", "type": "double", "required": False},
            ],
        },
        "required": False,
    },
    {
        "id": 3,
        "name": "tags",
        "type": {
            "type": "list",
            "element-id": 7,
            "element": "string",
            "element-required": False,
        },
        "required": False,
    },
    {
        "id": 4,
        "name": "counts",
        "type": {
            "type": "map",
            "key-id": 8,
            "key": "string",
            "value-id": 9,
            "value": "long",
            "value-required": False,
        },
        "required": False,
    },
]

_NESTED_AUTHORS = ["ada", "bob", "cleo"]
_NESTED_TAGS = ["red", "green", "blue", "hot"]


def make_nested_rows(n: int, start: int = 0) -> list[dict]:
    """Deterministic rows exercising struct access, list membership/length,
    and map extraction (plus null struct fields and empty lists)."""
    rows = []
    for i in range(start, start + n):
        rows.append(
            {
                "id": i,
                "meta": {
                    "author": _NESTED_AUTHORS[i % 3] if i % 7 else None,
                    "score": round((i % 11) * 0.5, 1),
                },
                "tags": [_NESTED_TAGS[j % 4] for j in range(i % 4)],
                "counts": [("views", (i * 13) % 97), ("likes", i % 5)],
            }
        )
    return rows


def _rewrite_table_avro(path: str, edit, codec: str | None = None) -> None:
    """Re-encode every metadata Avro file through ``edit(records) -> bool``
    (return True to rewrite); ``codec`` optionally recompresses.

    Two ordered passes: MANIFESTS first, then manifest LISTS with their
    ``manifest_length`` fields refreshed to the re-encoded sizes — a
    recompressed manifest changes length, and a spec-compliant reader
    doing ranged reads off stale lengths would read truncated Avro from
    the forged fixture."""
    import glob as _glob
    import json as _json

    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file

    all_avro = sorted(_glob.glob(os.path.join(path, "metadata", "*.avro")))
    lists, manifests = [], []
    for av in all_avro:
        hdr, records = read_avro_file(av)
        schema = _json.loads(hdr["avro.schema"])
        if records and "manifest_path" in records[0]:
            lists.append((av, schema, records))
        else:
            manifests.append((av, schema, records))
    for av, schema, records in manifests:
        changed = edit(records)
        if changed or codec is not None:
            write_avro_file(av, schema, records, codec=codec or "deflate")
    for av, schema, records in lists:
        changed = edit(records)
        for r in records:
            mp = r.get("manifest_path")
            if mp and os.path.exists(mp):
                new_len = os.path.getsize(mp)
                if r.get("manifest_length") != new_len:
                    r["manifest_length"] = new_len
                    changed = True
        if changed or codec is not None:
            write_avro_file(av, schema, records, codec=codec or "deflate")


def remap_snapshot_ids(path: str, remap: dict[int, int]) -> None:
    """Forge a table's snapshot ids into the spec-general shape: the
    Iceberg spec allows snapshot ids to be RANDOM longs, so commit order
    must never be inferred from them.  Rewrites the metadata JSON,
    manifest-list ``added_snapshot_id`` and manifest-entry ``snapshot_id``
    consistently while leaving data sequence numbers untouched — readers
    keyed on sequence numbers are unaffected; readers keyed on snapshot-id
    order break (that asymmetry is exactly what the forged tests check)."""
    import glob as _glob
    import json as _json

    from daskberg_spark.iceberg.metadata import metadata_json

    def m(s):
        return remap.get(s, s) if s is not None else None

    for jf in _glob.glob(os.path.join(path, "metadata", "v*.metadata.json")):
        with open(jf) as f:
            meta = _json.load(f)
        for s in meta.get("snapshots", []):
            s["snapshot-id"] = m(s["snapshot-id"])
            if "parent-snapshot-id" in s:
                s["parent-snapshot-id"] = m(s["parent-snapshot-id"])
        if meta.get("current-snapshot-id") is not None:
            meta["current-snapshot-id"] = m(meta["current-snapshot-id"])
        for e in meta.get("snapshot-log", []):
            e["snapshot-id"] = m(e["snapshot-id"])
        for ref in meta.get("refs", {}).values():
            ref["snapshot-id"] = m(ref["snapshot-id"])
        with open(jf, "w") as f:
            f.write(metadata_json(meta))

    def edit(records: list[dict]) -> bool:
        changed = False
        for r in records:
            if r.get("added_snapshot_id") is not None:
                r["added_snapshot_id"] = m(r["added_snapshot_id"])
                changed = True
            if r.get("snapshot_id") is not None:
                r["snapshot_id"] = m(r["snapshot_id"])
                changed = True
        return changed

    _rewrite_table_avro(path, edit)


def strip_sequence_numbers(path: str) -> None:
    """Forge a table back to the pre-sequence-number metadata shape
    (sequence fields nulled everywhere) — models v1-era metadata so tests
    can demonstrate what the snapshot-id fallback canNOT order correctly."""

    def edit(records: list[dict]) -> bool:
        changed = False
        for r in records:
            for k in ("sequence_number", "min_sequence_number", "file_sequence_number"):
                if r.get(k) is not None:
                    r[k] = None
                    changed = True
        return changed

    _rewrite_table_avro(path, edit)


FOREIGN_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "foreign_v2_table")

# Non-monotonic snapshot ids for the foreign table: commit order is
# 1 → 2 → 3 → 4, forged ids deliberately REVERSE-sorted vs commit order.
FOREIGN_ID_REMAP = {1: 9_111_222_333, 2: 777_000_111, 3: 55_444, 4: 7}


def ensure_foreign_fixture(path: str = FOREIGN_FIXTURE_DIR) -> str:
    """A v2 table shaped like a FOREIGN engine wrote it — every property a
    roundtrip through this repo's own writer would never produce:

    - **random (non-monotonic) snapshot ids**: the spec makes them opaque
      longs; only data sequence numbers order commits.  Forged so the
      newest commit has the SMALLEST id.
    - **snappy-codec manifests**: Java Iceberg commonly emits snappy Avro;
      own writer emits deflate.
    - **multi-spec live files**: append under spec 0 (unpartitioned), then
      partition-spec evolution to identity(cat), then append under spec 1.
    - **inherited-sequence manifest entries**: ADDED entries carry null
      sequence_number and inherit the manifest-list's (spec v2
      inheritance) — readers that ignore inheritance mis-order every file.
    - an equality delete (ids 5, 35) followed by a RE-INSERT of id 5
      (val -1.0): correct sequence ordering keeps the reborn row; any
      snapshot-id-ordered reader drops it (id 7 < delete id 55444).

    Live rows = ids 0..49 minus {5, 35} plus reborn 5 → content-derived
    oracle: ``WHERE id NOT IN (5,35) OR val = -1.0`` over the data files.
    """
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [
        {"id": i, "cat": "xyz"[i % 3], "val": float(i)} for i in range(50)
    ]
    writer.append(rows[:30])  # snapshot 1, seq 1, spec 0 (unpartitioned)
    writer.update_partition_spec(
        [{"name": "cat", "transform": "identity", "source": "cat"}]
    )
    writer.append(rows[30:])  # snapshot 2, seq 2, spec 1 (identity(cat))
    writer.delete_rows_equality([{"id": 5}, {"id": 35}])  # snapshot 3, seq 3
    writer.append([{"id": 5, "cat": "x", "val": -1.0}])  # snapshot 4, seq 4
    remap_snapshot_ids(path, FOREIGN_ID_REMAP)
    # recompress every metadata Avro as snappy (no record edits)
    _rewrite_table_avro(path, lambda records: False, codec="snappy")
    return path


# Content-derived live-rowset predicate for the foreign table's oracles.
FOREIGN_LIVE_WHERE = "(id NOT IN (5, 35) OR val = -1.0)"


MOR_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "mor_table")


def ensure_mor_fixture(spark, path: str = MOR_FIXTURE_DIR) -> str:
    """Merge-on-read delete table built through the DISTRIBUTED delete
    writers: two appends (ids 0..99), a predicate position-delete
    (``delete_where_spark``: grp='a' AND id<10), a CDC-style equality
    delete from a key DataFrame (``delete_keys_spark``: ids 50, 51), and
    a re-insert of id 50 (v='reborn') that must survive the equality
    delete by sequence order.  All deletes are content-derivable, so a
    DuckDB oracle over the raw data files reproduces the live rowset:

        (NOT (grp = 'a' AND id < 10)) AND (id NOT IN (50, 51) OR v = 'reborn')
    """
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_keys_spark,
        delete_where_spark,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "string", "required": False},
        ],
    )
    rows = [{"id": i, "grp": "ab"[i % 2], "v": f"v{i}"} for i in range(100)]
    writer.append(rows[:60])
    writer.append(rows[60:])
    delete_where_spark(writer, spark, "grp = 'a' AND id < 10")
    delete_keys_spark(
        writer, spark, spark.createDataFrame([(50,), (51,)], "id long")
    )
    writer.append([{"id": 50, "grp": "a", "v": "reborn"}])
    return path


SPEC_EVO_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "spec_evo_table")


def ensure_spec_evo_fixture(path: str = SPEC_EVO_FIXTURE_DIR) -> str:
    """Partition-spec-evolution table whose LIVE files span two specs and
    the SAME partition field name changes bucket width across them:

    - spec 0: ``id_bucket = bucket[2](id)`` — append ids 0..39 (2 files)
    - spec 1: ``id_bucket = bucket[4](id)`` — append ids 0..39 again
      (4 files)

    A point predicate (e.g. ``id = 7``: bucket[2]→1, bucket[4]→3) prunes
    to exactly ONE file per spec only if each file's partition value is
    checked through ITS OWN spec's transform; resolving through the
    table-default spec would hash spec-0 partition values with the wrong
    bucket width and silently drop rows.  Both appends carry the same id
    range, so min/max stats cannot prune the wrong-bucket files — the
    file-count assertion isolates transform pruning specifically."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "tag", "type": "string", "required": False},
        ],
        [{"name": "id_bucket", "transform": "bucket[2]", "source": "id"}],
    )
    writer.append([{"id": i, "tag": "first"} for i in range(40)])
    writer.update_partition_spec(
        [{"name": "id_bucket", "transform": "bucket[4]", "source": "id"}]
    )
    writer.append([{"id": i, "tag": "second"} for i in range(40)])
    return path


def ensure_nested_fixture(path: str = NESTED_FIXTURE_DIR) -> str:
    """Nested-type table (struct/list/map columns): the one capability the
    reference hard-refuses (``/root/reference/daskberg/conversions.py:46``
    raises NotImplementedError).  Two appends so snapshot reconciliation
    runs over nested files too; unpartitioned (partition transforms over
    nested sources are not a thing in Iceberg v1)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(path, NESTED_FIELDS)
    writer.append(make_nested_rows(30, 0))
    writer.append(make_nested_rows(10, 30))
    return path


DV_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "dv_table")


def ensure_dv_fixture(spark, path: str = DV_FIXTURE_DIR) -> str:
    """Iceberg v3 deletion-vector table: two appends (ids 0..99), a
    distributed predicate DV commit (``delete_where_dv_spark``:
    id % 7 = 0 — one roaring-bitmap blob per touched file, single puffin
    container), a driver-side DV on the first file's positions 1 and 3
    (= ids 1 and 3; this writer preserves append order), and a re-insert
    of id 7 (val = -1.0) that must survive because DVs target a named
    file, never later files.  All deletions are content-derivable, so a
    DuckDB oracle over the raw data parquet reproduces the live rowset:

        (id % 7 <> 0 OR val = -1.0) AND id NOT IN (1, 3)
    """
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [
        {"id": i, "grp": "xyz"[i % 3], "val": float(i)} for i in range(100)
    ]
    writer.append(rows[:70])
    writer.append(rows[70:])
    delete_where_dv_spark(writer, spark, "id % 7 = 0")
    first = IcebergTable(path).plan_files()[0]["file_path"]
    writer.delete_positions_dv({first: [1, 3]})
    writer.append([{"id": 7, "grp": "x", "val": -1.0}])
    return path


REWRITE_POS_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "rewrite_pos_table"
)


def ensure_rewrite_pos_fixture(path: str = REWRITE_POS_FIXTURE_DIR) -> str:
    """v2→v3 delete-file migration fixture: 100 rows in two appends
    (file1 = ids 0..59 by position, file2 = ids 60..99), a driver DV on
    file2 (pos 0,1 → ids 60,61), two position-delete parquet commits
    (file1 pos 0..2 → ids 0..2; file2 pos 2 → id 62), then
    ``rewrite_position_deletes`` — the final state carries ONE merged DV
    per touched file and zero live position parquet.  All deletions are
    content-derivable: the oracle over the raw data parquet is

        id NOT IN (0, 1, 2, 60, 61, 62)
    """
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        rewrite_position_deletes,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [{"id": i, "grp": "abc"[i % 3], "val": i * 1.5} for i in range(100)]
    writer.append(rows[:60])
    writer.append(rows[60:])
    f1, f2 = [
        os.path.join(path, "data", p)
        for p in sorted(
            p for p in os.listdir(os.path.join(path, "data")) if p[0] == "0"
        )
    ]
    writer.delete_positions_dv({f2: [0, 1]})
    writer.delete_rows_position([(f1, p) for p in range(3)])
    writer.delete_rows_position([(f2, 2)])
    converted = rewrite_position_deletes(writer)
    assert converted is not None
    return path


CONVERT_DEL_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "convert_del_table"
)


def ensure_convert_del_fixture(spark, path: str = CONVERT_DEL_FIXTURE_DIR) -> str:
    """Full delete-consolidation fixture: the deletes-table history
    (100 rows, equality delete of ids 5/17/61, position delete of file1
    pos 0..2 = ids 0..2) followed by ``convert_deletes_to_dvs`` — the
    final state serves the identical rowset from deletion vectors alone.
    Content-derivable: id NOT IN (5, 17, 61, 0, 1, 2)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        convert_deletes_to_dvs,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [{"id": i, "grp": "abc"[i % 3], "val": i * 1.5} for i in range(100)]
    writer.append(rows[:60])
    writer.append(rows[60:])
    writer.delete_rows_equality([{"id": i} for i in EQ_DELETED_IDS])
    first_file = sorted(
        p for p in os.listdir(os.path.join(path, "data")) if p[0] == "0"
    )[0]
    writer.delete_rows_position(
        [(os.path.join(path, "data", first_file), p) for p in range(3)]
    )
    assert convert_deletes_to_dvs(writer, spark) is not None
    return path


MERGE_SYNC_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "merge_sync_table"
)


def ensure_merge_sync_fixture(spark, path: str = MERGE_SYNC_FIXTURE_DIR) -> str:
    """Full-sync MERGE fixture (WHEN NOT MATCHED BY SOURCE THEN DELETE,
    merge-on-read): 20 rows in two appends, then one MOR merge whose
    source is {2→99.5, 5→0.25, 100→42.0} with the clause on — the final
    live rowset IS the source: matched ids keep their target ``grp``,
    the insert's is NULL, every other target row is DV-dead.  All
    content-derivable: the oracle selects ids 2 and 5 from the raw data
    parquet with the updated vals CASEd in, plus the insert literal."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        merge_rows_mor_spark,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    rows = [{"id": i, "grp": "abc"[i % 3], "val": i * 1.5} for i in range(20)]
    writer.append(rows[:12])
    writer.append(rows[12:])
    src = spark.createDataFrame(
        [(2, 99.5), (5, 0.25), (100, 42.0)], "id long, val double"
    )
    merge_rows_mor_spark(
        writer, spark, src, ["id"], not_matched_by_source_delete=True
    )
    return path


ADDFILES_EXT_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "addfiles_ext")
ADDFILES_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "addfiles_table"
)


def ensure_addfiles_fixture(path: str = ADDFILES_FIXTURE_DIR) -> str:
    """add_files migration table: three EXTERNAL parquet chunks (ids
    0..29, written outside the table directory) registered in place —
    no copy, footer-lifted bounds — plus one native append (ids
    100..104).  Oracle reads the external chunks and the table's own
    data files directly."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    os.makedirs(ADDFILES_EXT_DIR, exist_ok=True)
    ext_paths = []
    for i in range(3):
        p = os.path.join(ADDFILES_EXT_DIR, f"chunk{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(i * 10, i * 10 + 10), pa.int64()),
                    "val": pa.array(
                        [x * 1.5 for x in range(i * 10, i * 10 + 10)]
                    ),
                }
            ),
            p,
        )
        ext_paths.append(p)
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    add_files(writer, ext_paths)
    writer.append([{"id": i, "val": float(i)} for i in range(100, 105)])
    return path


def strip_schema_ids(path: str) -> None:
    """Forge metadata to the shape of writers that don't pin a schema per
    snapshot (v1-era/foreign engines): drop every snapshot's
    ``schema-id``.  Readers then cannot resolve a file's write-time
    schema by snapshot — the scan must fall back to the
    ``schema.name-mapping.default`` property for field-id-less files."""
    import glob as _glob
    import json as _json

    from daskberg_spark.iceberg.metadata import metadata_json

    for jf in _glob.glob(os.path.join(path, "metadata", "v*.metadata.json")):
        with open(jf) as f:
            meta = _json.load(f)
        for s in meta.get("snapshots", []):
            s.pop("schema-id", None)
        with open(jf, "w") as f:
            f.write(metadata_json(meta))


NAME_MAPPING_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "name_mapping_table"
)
NAME_MAPPING_EXT_DIR = os.path.join(NAME_MAPPING_FIXTURE_DIR, "ext")


def ensure_name_mapping_fixture(path: str = NAME_MAPPING_FIXTURE_DIR) -> str:
    """Name-mapping table: two EXTERNAL parquet chunks with physical
    columns (id, val) registered via ``add_files`` (which records
    ``schema.name-mapping.default``), then ``val`` renamed to ``value``,
    then the per-snapshot schema pinning FORGED AWAY
    (``strip_schema_ids``) — the foreign/v1-era metadata shape where
    only the name mapping can resolve the field-id-less files.  A naive
    by-current-name reader silently null-fills ``value``; the
    content-derived oracle reads the chunks under their physical name."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    import pyarrow as pa
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.writer import IcebergWriter, add_files

    os.makedirs(NAME_MAPPING_EXT_DIR, exist_ok=True)
    ext_paths = []
    for i in range(2):
        p = os.path.join(NAME_MAPPING_EXT_DIR, f"chunk{i}.parquet")
        pq.write_table(
            pa.table(
                {
                    "id": pa.array(range(i * 20, i * 20 + 20), pa.int64()),
                    "val": pa.array(
                        [x * 0.5 for x in range(i * 20, i * 20 + 20)]
                    ),
                }
            ),
            p,
        )
        ext_paths.append(p)
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    add_files(writer, ext_paths)
    writer.rename_column("val", "value")
    strip_schema_ids(path)
    return path


ROLLBACK_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "rollback_table"
)


def ensure_rollback_fixture(path: str = ROLLBACK_FIXTURE_DIR) -> str:
    """Snapshot-rollback table: append ids 0..49 → append ids 50..59 →
    ``rollback_to`` the first snapshot → append ids 100..109.  The
    rolled-past file (ids 50..59) remains on disk and time-travelable
    but is NOT in the current state, so the content-derived live set is
    ``id < 50 OR id >= 100``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter, rollback_to

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    writer.append([{"id": i, "val": float(i)} for i in range(50)])
    s1 = writer.snapshots[-1]["snapshot-id"]
    writer.append([{"id": i, "val": float(i)} for i in range(50, 60)])
    rollback_to(writer, s1)
    writer.append([{"id": i, "val": float(i)} for i in range(100, 110)])
    return path


REFS_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "refs_table")


def ensure_refs_fixture(path: str = REFS_FIXTURE_DIR) -> str:
    """Branch/tag refs table: append ids 0..39 → tag ``release-v1`` at
    that snapshot (with ``max-ref-age-ms``) → append ids 40..59 → branch
    ``audit`` there (with both branch retention knobs) → append ids
    60..79 (head).  Ref targets are content-derivable: the tag reads
    ids < 40, the branch ids < 60, main everything."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    writer.append([{"id": i, "val": float(i)} for i in range(40)])
    writer.set_ref("release-v1", "tag", max_ref_age_ms=86_400_000)
    writer.append([{"id": i, "val": float(i)} for i in range(40, 60)])
    writer.set_ref(
        "audit",
        "branch",
        min_snapshots_to_keep=2,
        max_snapshot_age_ms=604_800_000,
    )
    writer.append([{"id": i, "val": float(i)} for i in range(60, 80)])
    return path


VIEW_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "view_sales")


def ensure_view_fixture(spark, path: str = VIEW_FIXTURE_DIR) -> str:
    """Versioned Iceberg VIEW over the partitioned fixture: version 1
    aggregates by category, version 2 (CREATE OR REPLACE) by
    (category, symbol).  Both versions stay readable — the view spec's
    definition-time-travel guarantee.  Resolution needs the referenced
    table registered as ``part_live`` (see ``register_part_live``)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.views import create_view

    register_part_live(spark)
    create_view(
        path,
        "SELECT cat, COUNT(*) AS n, CAST(SUM(qty) AS BIGINT) AS sum_qty "
        "FROM part_live GROUP BY cat",
        spark,
    )
    create_view(
        path,
        "SELECT cat, sym, COUNT(*) AS n FROM part_live GROUP BY cat, sym",
        spark,
        replace=True,
    )
    return path


def register_part_live(spark) -> None:
    """Register the partitioned fixture's live state as the ``part_live``
    temp view the view fixture's SQL references."""
    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable

    IcebergTable(ensure_partitioned_fixture()).to_df(
        spark
    ).createOrReplaceTempView("part_live")


STATS_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "stats_table")


def ensure_stats_fixture(spark, path: str = STATS_FIXTURE_DIR) -> str:
    """Table-statistics fixture: two appends of typed rows, then a
    ``write_table_statistics(exact=True)`` pass — per-column NDVs are
    content-derivable, so a DuckDB oracle recomputes them with exact
    COUNT(DISTINCT ...) over the raw data files."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )
    writer.append(
        [
            {"id": i, "grp": "abc"[i % 3], "val": float(i % 17)}
            for i in range(60)
        ]
    )
    writer.append(
        [
            {"id": i, "grp": "abcd"[i % 4], "val": float(i % 17)}
            for i in range(60, 90)
        ]
    )
    write_table_statistics(writer, spark, exact=True)
    return path


PSTATS_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "pstats_table")


def ensure_pstats_fixture(path: str = PSTATS_FIXTURE_DIR) -> str:
    """Partition-statistics fixture: identity-partitioned table (grp),
    two appends, then ``write_partition_statistics``.  Per-partition
    record AND file counts are content-derivable: DuckDB recomputes them
    from the raw data files with ``filename=true``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_partition_statistics,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    writer.append([{"id": i, "grp": "abc"[i % 3]} for i in range(60)])
    writer.append([{"id": i, "grp": "ab"[i % 2]} for i in range(60, 80)])
    write_partition_statistics(writer)
    return path


DPO_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "dpo_table")


def ensure_dpo_fixture(spark, path: str = DPO_FIXTURE_DIR) -> str:
    """Dynamic-partition-overwrite fixture: identity-partitioned by grp,
    one append (ids 0..29 across a/b/c, val = id), then
    ``overwrite_partitions_spark`` replaces partition 'a' with five
    fresh rows (val = -1).  Old partition-a parquet stays on disk
    (tombstoned), so the content-derivable live set is

        grp <> 'a' OR val = -1
    """
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        overwrite_partitions_spark,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "long", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    writer.append(
        [{"id": i, "grp": "abc"[i % 3], "val": i} for i in range(30)]
    )
    new = spark.createDataFrame(
        [(100 + j, "a", -1) for j in range(5)], "id long, grp string, val long"
    )
    overwrite_partitions_spark(
        writer, spark, new.withColumn("part_grp", F.col("grp")), "grp", "part_grp"
    )
    return path


MULTIFORMAT_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "multiformat_table"
)


def ensure_multiformat_fixture(path: str = MULTIFORMAT_FIXTURE_DIR) -> str:
    """Multi-format data-file table (real Iceberg stores PARQUET, AVRO,
    and ORC data files; the reference is parquet-only —
    ``/root/reference/README.md:97``): three appends, one per format,
    with formulaic content so the oracle re-derives the expected rows
    from ``range()``; one global equality delete spanning all three
    formats (ids divisible by 10)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "fmt", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
    )

    def rows(a: int, b: int, fmt: str) -> list[dict]:
        return [{"id": i, "fmt": fmt, "val": i * 0.5} for i in range(a, b)]

    writer.append(rows(0, 40, "parquet"))
    writer.append(rows(40, 80, "avro"), file_format="avro")
    writer.append(rows(80, 120, "orc"), file_format="orc")
    writer.delete_rows_equality([{"id": i} for i in range(0, 120, 10)])
    return path


NULL_SCOPE_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "null_scope_table"
)


def ensure_null_scope_fixture(path: str = NULL_SCOPE_FIXTURE_DIR) -> str:
    """Identity partition over a NULLABLE column with an equality delete
    SCOPED to the NULL-valued partition (a spec-compliant foreign
    writer's shape — e.g. a Flink upsert keyed on a nullable partition
    source).  The old read rule treated the delete's all-None partition
    tuple as GLOBAL and would kill the same keys in every partition;
    the oracle's content formula keeps non-NULL-partition rows alive.

    Rows: ids 0..59, grp = 'a'/'b'/NULL by id%3; scoped delete kills
    ids divisible by 5 in the NULL partition only → dead iff
    (id%3==2 AND id%5==0)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )

    def grp(i: int) -> str | None:
        return {0: "a", 1: "b", 2: None}[i % 3]

    rows = [{"id": i, "grp": grp(i), "val": i * 0.25} for i in range(60)]
    writer.append(rows[:30])
    writer.append(rows[30:])
    writer.delete_rows_equality(
        [{"id": i} for i in range(0, 60, 5)], partition={"grp": None}
    )
    return path


DOCS_INC_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "docs_inc_table"
)


def ensure_docs_inc_fixture(path: str = DOCS_INC_FIXTURE_DIR) -> str:
    """Two-commit document table for the incremental-dedup composition:
    commit 1 holds ids 0..29 with text key ``id % 20`` (internal dups);
    commit 2 appends ids 30..49 with text key ``id % 35`` — 15 of the
    new docs duplicate commit-1 content (keys 0..14), 5 are novel
    (keys 30..34).  All values formulaic so the oracle re-derives them
    from ``range()``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "doc_id", "type": "long", "required": False},
            {"id": 2, "name": "text", "type": "string", "required": False},
        ],
    )
    writer.append(
        [{"doc_id": i, "text": f"t{i % 20}"} for i in range(30)]
    )
    writer.append(
        [{"doc_id": i, "text": f"t{i % 35}"} for i in range(30, 50)]
    )
    return path


VARIANT_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "variant_table"
)


def ensure_variant_fixture(spark, path: str = VARIANT_FIXTURE_DIR) -> str:
    """v3 ``variant`` column (semi-structured values): Spark writes the
    data files (the parquet metadata/value binary pair — pyarrow has no
    variant, so the driver-side writer refuses and the cluster write
    path is the only one), committed via ``commit_spark_output``.
    Payloads are formulaic (``{"a": id%7, "tag": "t"+str(id%3)}``) so
    the oracle re-derives every extracted value from ``range()``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "payload", "type": "variant", "required": False},
        ],
    )
    stage = os.path.join(path, "stage")
    df = spark.range(0, 50).select(
        F.col("id"),
        F.parse_json(
            F.concat(
                F.lit('{"a": '),
                (F.col("id") % 7).cast("string"),
                F.lit(', "tag": "t'),
                (F.col("id") % 3).cast("string"),
                F.lit('"}'),
            )
        ).alias("payload"),
    )
    df.coalesce(2).write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    return path


# ---------------------------------------------------------------------------
# Cross-process build serialization.  Every ensure_* builder is
# check-hint-then-build; two concurrent first-time callers (pytest and
# check_oracle on a fresh checkout) would otherwise interleave appends
# into the same directory — duplicated data files, half-referenced
# metadata.  One advisory flock serializes ALL fixture builds: the
# hint fast-path re-checks inside the lock, so steady-state calls pay
# one lock/unlock syscall pair and no IO.  Re-entrant per-process
# (builders may call other builders) via a thread-local depth counter.


def _serialize_fixture_builds() -> None:
    import functools
    import threading

    state = threading.local()
    lock_path = os.path.join(
        os.path.dirname(FIXTURE_DIR), ".build.lock"
    )

    def _wrap(fn):
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            depth = getattr(state, "depth", 0)
            if depth:
                state.depth = depth + 1
                try:
                    return fn(*args, **kwargs)
                finally:
                    state.depth = depth
            import fcntl

            os.makedirs(os.path.dirname(lock_path), exist_ok=True)
            with open(lock_path, "w") as lf:
                fcntl.flock(lf, fcntl.LOCK_EX)
                state.depth = 1
                try:
                    return fn(*args, **kwargs)
                finally:
                    state.depth = 0

        return wrapped

    g = globals()
    for name, obj in list(g.items()):
        if name.startswith("ensure_") and callable(obj):
            g[name] = _wrap(obj)


LEGACY_EQ_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "legacy_eq_table"
)


def ensure_legacy_eq_fixture(path: str = LEGACY_EQ_FIXTURE_DIR) -> str:
    """A table in this engine's PRE-SCOPING global-delete shape, then
    MIGRATED with ``migrate_legacy_eq_deletes``: identity(cat) spec,
    ids 0..59 (cat = a/b/c by id%3), a GLOBAL equality delete of ids
    divisible by 7 forged through the PARTITIONED spec (materializing
    the ambiguous all-None tuple the r8 ADVICE flagged) under
    ``daskberg.legacy-global-eq-deletes=true``, and a post-delete
    re-insert of id 0 (val -1.0) proving sequence-correct rebirth
    survives migration.  After migration the delete lives on an
    unpartitioned spec and the property is gone.  Content-derived live
    formula: ``id % 7 <> 0 OR val = -1.0``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        migrate_legacy_eq_deletes,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "cat", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
        [{"name": "cat", "transform": "identity", "source": "cat"}],
    )
    rows = [
        {"id": i, "cat": "abc"[i % 3], "val": float(i)} for i in range(60)
    ]
    writer.append(rows)
    # forge the pre-r8 shape: a GLOBAL delete (partition=None → empty
    # tuple) committed through the PARTITIONED current spec — exactly
    # what this engine wrote before global deletes moved to an
    # unpartitioned spec; it reads back as an all-None partition tuple
    snapshot_id = writer._next_snapshot_id
    entry = writer._build_eq_delete_entry(
        [{"id": i} for i in range(0, 60, 7)], snapshot_id, None
    )
    writer._commit(snapshot_id, [(writer.current_spec_id, [entry])], "delete")
    writer.set_properties({"daskberg.legacy-global-eq-deletes": "true"})
    writer.append([{"id": 0, "cat": "a", "val": -1.0}])  # reborn id 0
    migrate_legacy_eq_deletes(writer)
    return path


# Content-derived live-rowset predicate for the migrated table's oracle.
LEGACY_EQ_LIVE_WHERE = "(id % 7 <> 0 OR val = -1.0)"


VARIANT_WRITE_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "variant_write_table"
)


def ensure_variant_write_fixture(path: str = VARIANT_WRITE_FIXTURE_DIR) -> str:
    """v3 ``variant`` column written by the DRIVER-SIDE writer (r10: the
    from-scratch Variant binary encoder in ``variant.py`` — previously
    only the cluster write path could produce variant data files).  Two
    appends; payloads formulaic (``{"a": id%7, "tag": "t"+str(id%3)}``,
    id 30 carries a nested object, id 31 a NULL payload) so oracles
    re-derive every extracted value from ``range()``."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import IcebergWriter

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "payload", "type": "variant", "required": False},
        ],
    )

    def payload(i: int):
        if i == 30:
            return {"a": i % 7, "tag": f"t{i % 3}", "extra": {"deep": [1, 2]}}
        if i == 31:
            return None
        return {"a": i % 7, "tag": f"t{i % 3}"}

    writer.append([{"id": i, "payload": payload(i)} for i in range(30)])
    writer.append([{"id": i, "payload": payload(i)} for i in range(30, 50)])
    return path


VARIANT_SHRED_FIXTURE_DIR = os.path.join(
    # _v2: rebuilt since r11 so commits lift variant_bounds into the
    # manifests (the shredded-prune query asserts ZERO footer reads)
    os.path.dirname(FIXTURE_DIR), "variant_shred_table_v2"
)


def ensure_variant_shred_fixture(spark, path: str = VARIANT_SHRED_FIXTURE_DIR) -> str:
    """SHREDDED v3 variant table: Spark writes two parquet files with a
    forced shredding schema (``a bigint, tag string`` typed_value
    leaves carrying per-row-group min/max), ids 0..49 with ``a = id%7``
    and ids 50..99 with ``a = 100 + id%7`` — so a predicate on
    ``$.a`` provably prunes one whole file from footers alone
    (``scan.variant_prune_files``)."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "payload", "type": "variant", "required": False},
        ],
    )
    stage = os.path.join(path, "stage")

    def half(lo: int, hi: int, base: int):
        return spark.range(lo, hi).select(
            F.col("id"),
            F.parse_json(
                F.concat(
                    F.lit('{"a": '),
                    (F.lit(base) + F.col("id") % 7).cast("string"),
                    F.lit(', "tag": "t'),
                    (F.col("id") % 3).cast("string"),
                    F.lit('"}'),
                )
            ).alias("payload"),
        )

    old = spark.conf.get("spark.sql.variant.forceShreddingSchemaForTest", "")
    spark.conf.set(
        "spark.sql.variant.forceShreddingSchemaForTest", "a bigint, tag string"
    )
    try:
        half(0, 50, 0).coalesce(1).write.mode("overwrite").parquet(stage)
        half(50, 100, 100).coalesce(1).write.mode("append").parquet(stage)
    finally:
        spark.conf.set("spark.sql.variant.forceShreddingSchemaForTest", old)
    commit_spark_output(writer, stage)
    return path


LINEITEM_BLOOM_TAGFMT = "lineitem_bloomice_{tag}"


def ensure_lineitem_bloom_iceberg(spark, sf_dir: str) -> str:
    """``ensure_lineitem_iceberg``'s table shape plus a file-level Bloom
    index on ``l_orderkey`` (``bloomindex.write_file_blooms``) — built
    as a SEPARATE table so the shared lineitem fixture's plans (and the
    prune counts other queries hard-assert) stay untouched.  Presence of
    a statistics entry in the metadata is the built marker."""
    import hashlib

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.bloomindex import write_file_blooms
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        os.path.dirname(FIXTURE_DIR), LINEITEM_BLOOM_TAGFMT.format(tag=tag)
    )
    hint = os.path.join(base, "metadata", "version-hint.text")
    if os.path.exists(hint) and IcebergTable(base).table_statistics():
        return base
    if not os.path.exists(hint):
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        month = (
            (F.year("l_shipdate") - F.lit(1970)) * 12
            + F.month("l_shipdate")
            - 1
        )
        out = li.select(
            "l_orderkey",
            "l_quantity",
            "l_extendedprice",
            "l_discount",
            "l_returnflag",
            "l_shipdate",
            month.cast("int").alias("l_shipmonth"),
            month.cast("int").alias("part_month"),
        )
        data_dir = os.path.join(base, "data")
        out.write.mode("overwrite").partitionBy("part_month").parquet(data_dir)
        writer = IcebergWriter(
            base,
            LINEITEM_FIELDS,
            [
                {
                    "name": "l_shipmonth",
                    "transform": "identity",
                    "source": "l_shipmonth",
                }
            ],
        )
        commit_spark_output(
            writer, data_dir, partition_col="l_shipmonth", path_col="part_month"
        )
    else:
        writer = IcebergWriter.load(base)
    write_file_blooms(writer, spark, ["l_orderkey"])
    return base


def ensure_lineitem_sum_iceberg(spark, sf_dir: str) -> str:
    """The bloom-fixture table plus per-file SUM blobs on
    ``l_orderkey`` (``sumstats.write_sum_statistics``) — sum blobs are
    plan-neutral (only the sum pushdown consults them), so sharing the
    table keeps fixture disk/build time flat and exercises the
    statistics-coexistence keep rule on a real multi-blob table."""
    from daskberg_spark.iceberg.sumstats import (
        SUM_BLOB_TYPE,
        write_sum_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    base = ensure_lineitem_bloom_iceberg(spark, sf_dir)
    writer = IcebergWriter.load(base)
    has_sums = any(
        b.get("type") == SUM_BLOB_TYPE
        for e in writer.statistics
        for b in e.get("blob-metadata", [])
    )
    if not has_sums:
        write_sum_statistics(writer, spark, ["l_orderkey"])
    return base


def ensure_rollup_answer_fixture(spark, sf_dir: str) -> str:
    """Source table (six lineitem ship-months, month-partitioned) with
    a FRESH registered rollup grouped by (l_returnflag, l_shipmonth) —
    the aggregate router's happy path: grouping by the NON-partition
    ``l_returnflag`` is unanswerable from per-file stats but trivial
    from the rollup.  Returns the SOURCE path."""
    import hashlib

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import PROP_REGISTRY, create_rollup
    from daskberg_spark.iceberg.writer import IcebergWriter, write_df

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(os.path.dirname(FIXTURE_DIR), f"rollup_src_{tag}")
    hint = os.path.join(base, "metadata", "version-hint.text")
    if os.path.exists(hint) and PROP_REGISTRY in (
        IcebergTable(base).metadata.get("properties") or {}
    ):
        return base
    month = (
        (F.year("l_shipdate") - F.lit(1970)) * 12 + F.month("l_shipdate") - 1
    ).cast("int")
    li = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .select(
            "l_orderkey",
            "l_returnflag",
            month.alias("l_shipmonth"),
        )
        .where("l_shipmonth between 300 and 305")
    )
    if not os.path.exists(hint):
        writer = IcebergWriter(
            base,
            [
                {"id": 1, "name": "l_orderkey", "type": "long", "required": False},
                {"id": 2, "name": "l_returnflag", "type": "string", "required": False},
                {"id": 3, "name": "l_shipmonth", "type": "int", "required": False},
            ],
            [
                {
                    "name": "l_shipmonth",
                    "transform": "identity",
                    "source": "l_shipmonth",
                }
            ],
        )
        write_df(writer, li, mode="hash")
    else:
        writer = IcebergWriter.load(base)
    ru_path = os.path.join(os.path.dirname(FIXTURE_DIR), f"rollup_ans_{tag}")
    if os.path.exists(os.path.join(ru_path, "metadata", "version-hint.text")):
        # rollup built in a previous partial run: only re-register
        import json as _json

        reg = _json.loads(writer.properties.get(PROP_REGISTRY, "[]"))
        if os.path.abspath(ru_path) not in reg:
            writer.set_properties(
                {PROP_REGISTRY: _json.dumps(reg + [os.path.abspath(ru_path)])}
            )
    else:
        create_rollup(
            spark,
            IcebergTable(base),
            ru_path,
            ["l_returnflag", "l_shipmonth"],
            ["l_orderkey"],
            source_writer=writer,
        )
    return base


WRITE_FORMATS_FIXTURE_DIR = os.path.join(
    os.path.dirname(FIXTURE_DIR), "write_formats_table"
)


def ensure_write_formats_fixture(
    spark, path: str = WRITE_FORMATS_FIXTURE_DIR
) -> str:
    """Distributed multi-format WRITE fixture: three ``write_df``
    commits into one identity-partitioned table — native parquet
    (footer-lifted stats), native ORC (distributed JVM stats
    aggregate), and task-written AVRO containers (in-task stats).
    Content is formulaic (ids 0-99 parquet, 100-199 orc, 200-299 avro;
    val = id * 0.5) so the oracle re-derives every aggregate from
    ``range()`` arithmetic with no file reads."""
    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import IcebergWriter, write_df

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "fmt", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
        ],
        [{"name": "fmt", "transform": "identity", "source": "fmt"}],
    )
    for i, fmt in enumerate(("parquet", "orc", "avro")):
        df = spark.range(i * 100, (i + 1) * 100).select(
            F.col("id"),
            F.lit(fmt).alias("fmt"),
            (F.col("id") * 0.5).alias("val"),
        )
        write_df(writer, df, mode="hash", file_format=fmt)
    return path


CBO_FIXTURE_ROOT = os.path.dirname(FIXTURE_DIR)


def ensure_cbo_fixture(spark) -> dict[str, str]:
    """Star-join CBO fixture: a 6000-row fact with two dimension tables
    (10-row ``cbo_dim_small``, 1000-row ``cbo_dim_big``), every table
    carrying theta NDV statistics — the inputs ``plan_star_join``'s
    estimator consumes.  Content is formulaic so the DuckDB oracle
    recomputes the join from the raw data files."""
    paths = {
        "fact": os.path.join(CBO_FIXTURE_ROOT, "cbo_fact"),
        "small": os.path.join(CBO_FIXTURE_ROOT, "cbo_dim_small"),
        "big": os.path.join(CBO_FIXTURE_ROOT, "cbo_dim_big"),
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )

    fact = IcebergWriter(
        paths["fact"],
        [
            {"id": 1, "name": "k_small", "type": "long", "required": False},
            {"id": 2, "name": "k_big", "type": "long", "required": False},
            {"id": 3, "name": "amount", "type": "double", "required": False},
        ],
    )
    fact.append(
        [
            {
                "k_small": i % 10,
                # mod 997 (prime, coprime to the k_small cycle) spreads
                # each bcat class across every k_small group — a pure
                # mod-1000 stride left only one surviving sname group,
                # which made the oracle check near-vacuous
                "k_big": (i * 13) % 997,
                "amount": (i % 97) * 0.25,
            }
            for i in range(6000)
        ]
    )
    small = IcebergWriter(
        paths["small"],
        [
            {"id": 1, "name": "sid", "type": "long", "required": False},
            {"id": 2, "name": "sname", "type": "string", "required": False},
        ],
    )
    small.append([{"sid": i, "sname": f"s{i}"} for i in range(10)])
    big = IcebergWriter(
        paths["big"],
        [
            {"id": 1, "name": "bid", "type": "long", "required": False},
            {"id": 2, "name": "bcat", "type": "string", "required": False},
        ],
    )
    big.append(
        [{"bid": i, "bcat": f"c{i % 20}"} for i in range(1000)]
    )
    for w in (fact, small, big):
        write_table_statistics(w, spark)
    return paths


THETA_FIXTURE_DIR = os.path.join(os.path.dirname(FIXTURE_DIR), "theta_table")


def ensure_theta_fixture(spark, path: str = THETA_FIXTURE_DIR) -> str:
    """Theta-sketch statistics fixture: typed rows across the
    single-value-serialization breadth (long/string/double/date), a
    full ``write_table_statistics`` pass on the first snapshot, then an
    append followed by ``refresh_table_statistics`` — so the CURRENT
    snapshot's blobs came through the INCREMENTAL union path.  Every
    column's NDV is far below the sketch's nominal k (4096), so the
    sketches are in exact mode and a DuckDB COUNT(DISTINCT ...) oracle
    pins the estimates exactly."""
    import datetime as _dt

    hint = os.path.join(path, "metadata", "version-hint.text")
    if os.path.exists(hint):
        return path
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        refresh_table_statistics,
        write_table_statistics,
    )

    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "double", "required": False},
            {"id": 4, "name": "d", "type": "date", "required": False},
        ],
    )
    writer.append(
        [
            {
                "id": i,
                "grp": "abc"[i % 3],
                "val": float(i % 13),
                "d": _dt.date(2024, 1, 1) + _dt.timedelta(days=i % 20),
            }
            for i in range(70)
        ]
    )
    write_table_statistics(writer, spark)
    writer.append(
        [
            {
                "id": i,
                "grp": "abcde"[i % 5],
                "val": float(i % 19),
                "d": _dt.date(2024, 3, 1) + _dt.timedelta(days=i % 15),
            }
            for i in range(70, 110)
        ]
    )
    _, mode = refresh_table_statistics(writer, spark)
    assert mode == "incremental", mode
    return path


TXN_FIXTURE_ROOT = os.path.dirname(FIXTURE_DIR)


def ensure_txn_fixture(spark) -> dict[str, str]:
    """Two tables committed in ONE filesystem ``Transaction`` (r10
    verdict item 6): a 100-row fact and a 4-row weight dim become
    visible atomically (two-phase hint flip).  Content is formulaic so
    the DuckDB oracle re-derives the join from ``range()`` arithmetic —
    the oracle passing proves BOTH tables' transactional commits
    published."""
    paths = {
        "fact": os.path.join(TXN_FIXTURE_ROOT, "txn_fact"),
        "dim": os.path.join(TXN_FIXTURE_ROOT, "txn_dim"),
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    from daskberg_spark.iceberg.writer import IcebergWriter, Transaction

    fact = IcebergWriter(
        paths["fact"],
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "amount", "type": "double", "required": False},
        ],
    )
    dim = IcebergWriter(
        paths["dim"],
        [
            {"id": 1, "name": "grp", "type": "string", "required": False},
            {"id": 2, "name": "weight", "type": "double", "required": False},
        ],
    )
    with Transaction(fact, dim):
        fact.append(
            [
                {"id": i, "grp": f"g{i % 4}", "amount": i * 0.25}
                for i in range(100)
            ]
        )
        dim.append(
            [{"grp": f"g{g}", "weight": (g + 1) * 1.0} for g in range(4)]
        )
    return paths


def ensure_tpch_star_iceberg(spark, sf_dir: str) -> dict[str, str]:
    """TPC-H Q9-shaped star fixture over this engine's OWN tables (r10
    verdict item 2: registry multi-join queries should plan through the
    CBO, not literal order): lineitem fact + part / supplier⊳nation /
    orders dimensions, each written with ``write_df`` and carrying
    theta NDV statistics — the exact metadata ``plan_star_join``'s
    containment estimator and broadcast gates consume.  The supplier
    dim is denormalized with nation at build time (classic dimension
    flattening) so the snowflake leg becomes a star leg.  Content is a
    column subset of the sf_dir source parquet, so the DuckDB oracle
    recomputes the join from the ORIGINAL tables relationally."""
    import hashlib

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_df,
        write_table_statistics,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    root = os.path.join(os.path.dirname(FIXTURE_DIR), f"tpch_star_{tag}")
    paths = {
        t: os.path.join(root, t)
        for t in ("lineitem", "part", "supplier", "orders")
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    specs = {
        "lineitem": (
            [
                {"id": 1, "name": "l_orderkey", "type": "long", "required": False},
                {"id": 2, "name": "l_partkey", "type": "long", "required": False},
                {"id": 3, "name": "l_suppkey", "type": "long", "required": False},
                {"id": 4, "name": "l_quantity", "type": "double", "required": False},
                {"id": 5, "name": "l_extendedprice", "type": "double", "required": False},
                {"id": 6, "name": "l_discount", "type": "double", "required": False},
            ],
            spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
                "l_orderkey", "l_partkey", "l_suppkey",
                "l_quantity", "l_extendedprice", "l_discount",
            ),
        ),
        "part": (
            [
                {"id": 1, "name": "p_partkey", "type": "long", "required": False},
                {"id": 2, "name": "p_retailprice", "type": "double", "required": False},
            ],
            spark.read.parquet(f"{sf_dir}/part.parquet").select(
                "p_partkey", "p_retailprice"
            ),
        ),
        "supplier": (
            [
                {"id": 1, "name": "s_suppkey", "type": "long", "required": False},
                {"id": 2, "name": "n_name", "type": "string", "required": False},
            ],
            spark.read.parquet(f"{sf_dir}/supplier.parquet")
            .join(
                F.broadcast(
                    spark.read.parquet(f"{sf_dir}/nation.parquet")
                ),
                F.col("s_nationkey") == F.col("n_nationkey"),
            )
            .select("s_suppkey", "n_name"),
        ),
        "orders": (
            [
                {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
                {"id": 2, "name": "o_orderdate", "type": "timestamp", "required": False},
            ],
            spark.read.parquet(f"{sf_dir}/orders.parquet").select(
                "o_orderkey", "o_orderdate"
            ),
        ),
    }
    for name, (fields, df) in specs.items():
        w = IcebergWriter(paths[name], fields)
        write_df(w, df, mode="none")
        write_table_statistics(w, spark)
    return paths


def ensure_cbo_range_fixture(spark) -> dict[str, str]:
    """Range-selectivity CBO fixture (r11): a fact with two UNIQUE-KEY
    dims — under the System R 1/3 range guess every unique-key dim
    scores the identical growth 1/3 ((rows/3)/ndv(rows)), so ordering
    degenerates to label tie-breaks; each dim carries an equi-depth
    quantile histogram (``quantiles.py``) so range WHERE clauses get
    MEASURED selectivities instead.  Content is formulaic for the
    DuckDB oracle."""
    root = os.path.join(os.path.dirname(FIXTURE_DIR), "cbo_range")
    paths = {
        "fact": os.path.join(root, "fact"),
        "dima": os.path.join(root, "dima"),
        "dimb": os.path.join(root, "dimb"),
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    from daskberg_spark.iceberg.quantiles import write_quantile_statistics
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )

    fact = IcebergWriter(
        paths["fact"],
        [
            {"id": 1, "name": "fk_a", "type": "long", "required": False},
            {"id": 2, "name": "fk_b", "type": "long", "required": False},
            {"id": 3, "name": "amount", "type": "double", "required": False},
        ],
    )
    fact.append(
        [
            {
                "fk_a": (i * 7) % 2000,
                "fk_b": (i * 11) % 1000,
                "amount": (i % 89) * 0.5,
            }
            for i in range(6000)
        ]
    )
    dima = IcebergWriter(
        paths["dima"],
        [
            {"id": 1, "name": "aid", "type": "long", "required": False},
            {"id": 2, "name": "av", "type": "long", "required": False},
            {"id": 3, "name": "aname", "type": "string", "required": False},
        ],
    )
    dima.append(
        [{"aid": i, "av": i, "aname": f"a{i % 7}"} for i in range(2000)]
    )
    dimb = IcebergWriter(
        paths["dimb"],
        [
            {"id": 1, "name": "bid", "type": "long", "required": False},
            {"id": 2, "name": "bv", "type": "long", "required": False},
            {"id": 3, "name": "bname", "type": "string", "required": False},
        ],
    )
    dimb.append(
        [{"bid": i, "bv": i, "bname": f"b{i % 5}"} for i in range(1000)]
    )
    for w in (fact, dima, dimb):
        write_table_statistics(w, spark)
    for w in (dima, dimb):
        write_quantile_statistics(w, spark)
    return paths


DOCS_TOKEN_TAGFMT = "docs_tokenice_{tag}"


def ensure_documents_token_iceberg(spark, sf_dir: str) -> str:
    """Documents corpus as an Iceberg table sharded by ``lang_source``
    (the natural layout of a crawl corpus: one file per language ×
    provenance shard — 100 shards at sf0.1) with a token Bloom index on
    ``text`` (``bloomindex.write_token_blooms``).  Keyword searches
    prune whole shards whose vocabulary provably lacks the term; the
    shard key is part of the schema so oracles can recompute it."""
    import hashlib

    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.bloomindex import write_token_blooms
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
    )

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    base = os.path.join(
        os.path.dirname(FIXTURE_DIR), DOCS_TOKEN_TAGFMT.format(tag=tag)
    )
    hint = os.path.join(base, "metadata", "version-hint.text")
    if os.path.exists(hint) and IcebergTable(base).table_statistics():
        return base
    if not os.path.exists(hint):
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        out = docs.select(
            "doc_id",
            "text",
            "lang",
            "source",
            "n_chars",
            F.concat_ws("_", "lang", "source").alias("shard"),
        ).repartition("lang", "source")
        data_dir = os.path.join(base, "data")
        out.write.mode("overwrite").partitionBy("shard").parquet(data_dir)
        writer = IcebergWriter(
            base,
            [
                {"id": 1, "name": "doc_id", "type": "long", "required": False},
                {"id": 2, "name": "text", "type": "string", "required": False},
                {"id": 3, "name": "lang", "type": "string", "required": False},
                {"id": 4, "name": "source", "type": "string", "required": False},
                {"id": 5, "name": "n_chars", "type": "long", "required": False},
                {"id": 6, "name": "shard", "type": "string", "required": False},
            ],
            [{"name": "shard", "transform": "identity", "source": "shard"}],
        )
        commit_spark_output(
            writer, data_dir, partition_col="shard", path_col="shard"
        )
    else:
        writer = IcebergWriter.load(base)
    write_token_blooms(writer, spark, ["text"])
    return base


def ensure_cbo_conditional_fixture(spark) -> dict[str, str]:
    """Correlated-dim CBO fixture (r12): dima's ``seg`` PERFECTLY
    predicts its ``av`` band (s0 ⇒ av<1000, s1 ⇒ av≥1000), so the
    independence model scores ``seg='s1' AND av>=990`` at
    1/2 × ~0.505 ≈ 0.25 while the truth is 0.5 — mis-ordering the
    star — and only the grouped histogram's conditional
    P(av≥990 | s1) = 1.0 recovers it.  Content is formulaic for the
    DuckDB oracle.  Carries theta NDVs, marginal quantile blobs, and
    the grouped (seg → av) blob."""
    root = os.path.join(os.path.dirname(FIXTURE_DIR), "cbo_cond")
    paths = {
        "fact": os.path.join(root, "fact"),
        "dima": os.path.join(root, "dima"),
        "dimb": os.path.join(root, "dimb"),
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    from daskberg_spark.iceberg.quantiles import (
        write_grouped_quantile_statistics,
        write_quantile_statistics,
    )
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )

    fact = IcebergWriter(
        paths["fact"],
        [
            {"id": 1, "name": "fk_a", "type": "long", "required": False},
            {"id": 2, "name": "fk_b", "type": "long", "required": False},
            {"id": 3, "name": "amount", "type": "double", "required": False},
        ],
    )
    fact.append(
        [
            {
                "fk_a": (i * 7) % 2000,
                "fk_b": (i * 11) % 1000,
                "amount": (i % 89) * 0.5,
            }
            for i in range(6000)
        ]
    )
    dima = IcebergWriter(
        paths["dima"],
        [
            {"id": 1, "name": "aid", "type": "long", "required": False},
            {"id": 2, "name": "seg", "type": "string", "required": False},
            {"id": 3, "name": "av", "type": "long", "required": False},
            {"id": 4, "name": "aname", "type": "string", "required": False},
        ],
    )
    dima.append(
        [
            {
                "aid": i,
                "seg": "s0" if i < 1000 else "s1",
                "av": i,
                "aname": f"a{i % 5}",
            }
            for i in range(2000)
        ]
    )
    dimb = IcebergWriter(
        paths["dimb"],
        [
            {"id": 1, "name": "bid", "type": "long", "required": False},
            {"id": 2, "name": "bv", "type": "long", "required": False},
            {"id": 3, "name": "bname", "type": "string", "required": False},
        ],
    )
    dimb.append(
        [{"bid": i, "bv": i, "bname": f"b{i % 5}"} for i in range(1000)]
    )
    for w in (fact, dima, dimb):
        write_table_statistics(w, spark)
    write_quantile_statistics(dima, spark, ["av"])
    write_quantile_statistics(dimb, spark, ["bv"])
    write_grouped_quantile_statistics(dima, spark, ["seg"], ["av"])
    return paths


def ensure_percentile_groupby_fixture(spark) -> str:
    """Grouped-percentile fixture (r12): a segments×values table whose
    content is FORMULAIC (seg = 's'||(i%5), val = (i*37)%1000 over
    i<4000, four appends → four files) so the DuckDB oracle recomputes
    it from pure SQL, carrying a ``daskberg-quantiles-grouped-v1``
    blob keyed on ``seg`` (``write_grouped_quantile_statistics``).
    800 rows per group keeps the write-time sketch in exact mode, so
    on-knot percentiles are exact per-group order statistics."""
    base = os.path.join(os.path.dirname(FIXTURE_DIR), "percentile_groupby")
    hint = os.path.join(base, "metadata", "version-hint.text")
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.quantiles import (
        GROUPED_QUANTILE_BLOB_TYPE,
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.theta import (
        GROUPED_THETA_BLOB_TYPE,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    if os.path.exists(hint):
        t = IcebergTable(base)
        head_types = {
            b.get("type")
            for e in t.metadata.get("statistics", [])
            if e["snapshot-id"] == t.current_snapshot["snapshot-id"]
            for b in e.get("blob-metadata", [])
        }
        if {GROUPED_QUANTILE_BLOB_TYPE, GROUPED_THETA_BLOB_TYPE} <= head_types:
            return base
        writer = IcebergWriter.load(base)
    else:
        writer = IcebergWriter(
            base,
            [
                {"id": 1, "name": "seg", "type": "string", "required": False},
                {"id": 2, "name": "val", "type": "long", "required": False},
            ],
        )
        for lo in range(0, 4000, 1000):
            writer.append(
                [
                    {"seg": f"s{i % 5}", "val": (i * 37) % 1000}
                    for i in range(lo, lo + 1000)
                ]
            )
    write_grouped_quantile_statistics(writer, spark, ["seg"], ["val"])
    write_grouped_theta_statistics(writer, spark, ["seg"], ["val"])
    return base


# Single wrap call, at the BOTTOM so every ensure_* above — including
# the ones added after the wrapper's original mid-file position, which
# silently escaped serialization — takes the build flock.  Calling the
# wrapper twice would double-wrap with fresh thread-local state and two
# FDs flocking the same file can self-deadlock in one process.
_serialize_fixture_builds()


def ensure_cbo_pair_fixture(spark) -> dict[str, str]:
    """Pair-keyed conditional CBO fixture (r14): dima's ``u`` nests
    inside the JOINT (seg, band) grouping — 2 values per joint group,
    12 globally — so the independence model scores ``seg='s1' AND
    band=2 AND u=51`` at 1/2 x 1/3 x 1/12 (33 rows) while the truth is
    1/2 x 1/3 x 1/2 (200 rows); no SINGLE-column conditional exists
    (only the pair-keyed grouped theta blob is written), so only the
    r14 pair rung recovers it.  Content is formulaic for the DuckDB
    oracle.  Carries theta NDVs on all tables, a marginal quantile
    blob on dimb, and the pair-keyed (seg, band → u) theta blob."""
    root = os.path.join(os.path.dirname(FIXTURE_DIR), "cbo_pair")
    paths = {
        "fact": os.path.join(root, "fact"),
        "dima": os.path.join(root, "dima"),
        "dimb": os.path.join(root, "dimb"),
    }
    if all(
        os.path.exists(os.path.join(p, "metadata", "version-hint.text"))
        for p in paths.values()
    ):
        return paths
    from daskberg_spark.iceberg.quantiles import write_quantile_statistics
    from daskberg_spark.iceberg.theta import write_grouped_theta_statistics
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )

    fact = IcebergWriter(
        paths["fact"],
        [
            {"id": 1, "name": "fk_a", "type": "long", "required": False},
            {"id": 2, "name": "fk_b", "type": "long", "required": False},
            {"id": 3, "name": "amount", "type": "double", "required": False},
        ],
    )
    fact.append(
        [
            {
                "fk_a": (i * 7) % 2400,
                "fk_b": (i * 11) % 1000,
                "amount": (i % 89) * 0.5,
            }
            for i in range(8000)
        ]
    )
    dima = IcebergWriter(
        paths["dima"],
        [
            {"id": 1, "name": "aid", "type": "long", "required": False},
            {"id": 2, "name": "seg", "type": "string", "required": False},
            {"id": 3, "name": "band", "type": "long", "required": False},
            {"id": 4, "name": "u", "type": "long", "required": False},
            {"id": 5, "name": "aname", "type": "string", "required": False},
        ],
    )
    dima.append(
        [
            {
                "aid": i,
                "seg": f"s{i // 1200}",
                "band": (i // 400) % 3,
                "u": 10 * (3 * (i // 1200) + (i // 400) % 3) + i % 2,
                "aname": f"a{i % 5}",
            }
            for i in range(2400)
        ]
    )
    dimb = IcebergWriter(
        paths["dimb"],
        [
            {"id": 1, "name": "bid", "type": "long", "required": False},
            {"id": 2, "name": "bv", "type": "long", "required": False},
            {"id": 3, "name": "bname", "type": "string", "required": False},
        ],
    )
    dimb.append(
        [{"bid": i, "bv": i, "bname": f"b{i % 5}"} for i in range(1000)]
    )
    for w in (fact, dima, dimb):
        write_table_statistics(w, spark)
    write_quantile_statistics(dimb, spark, ["bv"])
    write_grouped_theta_statistics(dima, spark, ["seg", "band"], ["u"])
    return paths
