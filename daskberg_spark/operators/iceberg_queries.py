"""Iceberg connector queries for the driver contract (SURVEY §2 Tier A).

These register the connector's scan-layer behavior — snapshot reads, time
travel, transform-aware pruning — as oracle-checked queries.  Oracles are
*content-derived* DuckDB SQL over the raw parquet files (never routed
through our own planner), so a planner bug cannot hide in the oracle:

- golden table: the 5/4 live file paths are pinned by the checked-in
  fixture's history (append 4 → overwrite 1 → append 1).
- partitioned fixture: the delete predicate uses only identity/day
  partitions, so a WHERE clause over *all* data files reproduces the live
  rowset independently.
"""

from __future__ import annotations

import glob

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
from daskberg_spark.iceberg.fixtures import (
    FIXTURE_DIR,
    LIVE_WHERE,
    ensure_partitioned_fixture,
)
from daskberg_spark.iceberg.metadata import IcebergTable
from daskberg_spark.operators.registry import (
    iceberg_golden_table,
    literal_df,
    query,
    table,
)

GOLDEN_DATA = "/root/reference/test-data/my_table/data"


def _sql_file_list(paths: list[str]) -> str:
    quoted = ", ".join(f"'{p}'" for p in sorted(paths))
    return f"[{quoted}]"


# The golden table's 6 data files and their history (observable from the
# checked-in fixture alone): snapshot 1 appends 00000-0/00001-1/00002-2/
# 00003-3; snapshot 2 overwrites 00001-1 with 00081-6; snapshot 3 appends
# 00000-206 (John, the new-schema row).  Live-at-head = all but 00001-1;
# the previous snapshot additionally lacks 00000-206.
_ALL_GOLDEN = sorted(glob.glob(f"{GOLDEN_DATA}/*.parquet"))
_HEAD_FILES = [p for p in _ALL_GOLDEN if "/00001-1-" not in p]
_PREV_FILES = [p for p in _HEAD_FILES if "/00000-206-" not in p]


@query(
    "iceberg_read_golden",
    f"""
    SELECT name, age, email
    FROM read_parquet({_sql_file_list(_HEAD_FILES)}, union_by_name=true)
    """,
)
def iceberg_read_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A8/A11: full head read of the reference's golden table —
    ADDED/DELETED reconciliation picks 5 of 6 files, schema evolution
    null-fills `email` in pre-evolution files."""
    return iceberg_golden_table().to_df(spark)


@query(
    "iceberg_time_travel",
    f"""
    SELECT name, age
    FROM read_parquet({_sql_file_list(_PREV_FILES)})
    """,
)
def iceberg_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: snapshot-relative time travel (rel=-1) pins the 2-column
    schema and the 4-file pre-append state."""
    t = iceberg_golden_table()
    t.open_snapshot(rel=-1)
    return t.to_df(spark)


@query(
    "iceberg_filtered_scan",
    f"""
    SELECT name, age, email
    FROM read_parquet({_sql_file_list(_HEAD_FILES)}, union_by_name=true)
    WHERE age > 21
    """,
)
def iceberg_filtered_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/A6: stats-pruned filtered scan (bounds skip 1 of 5 files); the
    residual filter re-applies in Spark so results are stats-independent."""
    return iceberg_golden_table().to_df(spark, filters=[("age", ">", 21)])


def _part_fixture_files() -> str:
    # path only — building the fixture at import time would turn a disk
    # hiccup into a whole-registry load failure; query functions call
    # ensure_partitioned_fixture() when they actually run
    from daskberg_spark.iceberg.fixtures import FIXTURE_DIR

    return f"{FIXTURE_DIR}/data/*.parquet"


def prepare_fixtures() -> None:
    """Build every local Iceberg fixture the oracles read (idempotent)."""
    from daskberg_spark.iceberg.fixtures import (
        ensure_addfiles_fixture,
        ensure_deletes_fixture,
        ensure_evolved_fixture,
        ensure_foreign_fixture,
        ensure_multiformat_fixture,
        ensure_name_mapping_fixture,
        ensure_nested_fixture,
        ensure_null_scope_fixture,
        ensure_rollback_fixture,
        ensure_spec_evo_fixture,
    )

    ensure_partitioned_fixture()
    ensure_deletes_fixture()
    ensure_evolved_fixture()
    ensure_nested_fixture()
    ensure_foreign_fixture()
    ensure_spec_evo_fixture()
    ensure_addfiles_fixture()
    ensure_rollback_fixture()
    ensure_name_mapping_fixture()
    ensure_multiformat_fixture()
    ensure_null_scope_fixture()


@query(
    "iceberg_partition_prune",
    f"""
    SELECT id, sym, cat, qty, price
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE} AND sym = 'AAPL' AND qty >= 10
    """,
)
def iceberg_partition_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/A5/A7: bucket- + truncate-transform pruning on the partitioned
    fixture (planner reads 1/3 of live files for this predicate); the
    oracle reproduces live rows content-side, independent of the planner."""
    t = IcebergTable(ensure_partitioned_fixture())
    return t.to_df(
        spark,
        filters=[("sym", "==", "AAPL"), ("qty", ">=", 10)],
        columns=["id", "sym", "cat", "qty", "price"],
    )


@query(
    "iceberg_or_filter",
    f"""
    SELECT id, sym, cat, qty
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE}
      AND ((sym = 'AAPL' AND qty >= 10) OR cat = 'news')
    """,
)
def iceberg_or_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 DNF: OR-of-conjunctions pruning = union of survivor sets (the
    reference's OR branch is broken, SURVEY §4 ⚠ — this proves ours)."""
    t = IcebergTable(ensure_partitioned_fixture())
    return t.to_df(
        spark,
        filters=[[("sym", "==", "AAPL"), ("qty", ">=", 10)], [("cat", "==", "news")]],
        columns=["id", "sym", "cat", "qty"],
    )


@query(
    "iceberg_day_transform_prune",
    f"""
    SELECT id, sym, day_ts
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE} AND day_ts >= TIMESTAMP '2024-01-02 00:00:00'
    """,
)
def iceberg_day_transform_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7d: day-transform predicate rewrite prunes to day-2 partitions."""
    t = IcebergTable(ensure_partitioned_fixture())
    return t.to_df(
        spark,
        filters=[("day_ts", ">=", "2024-01-02 00:00:00")],
        columns=["id", "sym", "day_ts"],
    )


@query(
    "iceberg_unique_partitions",
    f"""
    SELECT DISTINCT cat,
           CAST(CAST(day_ts AS DATE) - DATE '1970-01-01' AS INT) AS day_ts_day,
           CAST(qty - qty % 10 AS INT) AS qty_trunc
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE}
    """,
)
def iceberg_unique_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: metadata-only distinct partition values — zero data IO (the
    oracle derives the same tuples from row content for the SQL-expressible
    transforms; bucket is excluded since murmur3 has no SQL twin)."""
    t = IcebergTable(ensure_partitioned_fixture())
    tuples = {
        (p[2], p[1], p[3])  # (cat, day_ts_day, qty_trunc)
        for p in t.unique_partitions()
    }
    return literal_df(
        spark, sorted(tuples), "cat string, day_ts_day int, qty_trunc int"
    )


@query(
    "iceberg_write_roundtrip",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 7 = 0
    GROUP BY o_orderstatus
    """,
)
def iceberg_write_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writer⇄reader end-to-end: write an orders subset into a fresh
    Iceberg table (identity-partitioned by status, two snapshots), read it
    back through the connector, aggregate; the oracle hits the *source*
    parquet — so metadata, bounds, partition values, and snapshot
    reconciliation all have to round-trip correctly to match.

    Collect-free (round-1 verdict item 4): executors write the
    hive-partitioned parquet in parallel; only the footer→metadata lift
    (``commit_spark_output``) runs on the driver — the identical pattern a
    1000-executor job uses, where a ``collect()`` would OOM the driver."""
    import os
    import tempfile

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 7 = 0")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            # partitionBy drops its column from file contents; partition on
            # a duplicate and keep the real column in the data proper
            F.col("o_orderstatus").alias("part_status"),
        )
    )
    path = tempfile.mkdtemp(prefix="iceberg_rt_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
        [{"name": "o_orderstatus", "transform": "identity", "source": "o_orderstatus"}],
    )
    for i, half in enumerate(
        (src.filter("o_orderkey % 14 = 0"), src.filter("o_orderkey % 14 <> 0"))
    ):
        data_dir = os.path.join(path, f"data-{i}")
        half.write.mode("overwrite").partitionBy("part_status").parquet(data_dir)
        commit_spark_output(
            writer, data_dir, partition_col="o_orderstatus", path_col="part_status"
        )
    t = IcebergTable(path)
    df = t.to_df(spark)
    return df.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)")).cast("double").alias("sum_price"),
    )


@query(
    "iceberg_snapshot_log",
    # independent parse of the same table state: DuckDB's JSON reader
    # unnests the CURRENT metadata version's snapshot list — our Python
    # metadata layer vs a second engine's parser, field by field
    rf"""
    WITH meta AS (
      SELECT snapshots,
             CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) AS v
      FROM read_json_auto(
        '{FIXTURE_DIR}/metadata/v*.metadata.json',
        filename=true)
    ), cur AS (SELECT snapshots FROM meta ORDER BY v DESC LIMIT 1),
    snaps AS (SELECT unnest(snapshots) AS s FROM cur)
    SELECT CAST(s."snapshot-id" AS BIGINT) AS snapshot_id,
           CAST(s."parent-snapshot-id" AS BIGINT) AS parent_id,
           CAST(s.summary.operation AS VARCHAR) AS operation,
           COALESCE(CAST(s.summary."added-records" AS BIGINT), 0)
             AS added_records
    FROM snaps
    """,
)
def iceberg_snapshot_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: snapshot history introspection as a queryable DataFrame
    (operation + record counts per snapshot, zero data IO).  Oracle-exact
    since r6: DuckDB re-parses the metadata JSON itself (read_json_auto +
    unnest), so snapshot ids, parent links, operations, and record counts
    are cross-checked by an independent JSON engine."""
    t = IcebergTable(ensure_partitioned_fixture())
    rows = [
        (
            s["snapshot-id"],
            s.get("parent-snapshot-id"),
            s["summary"].get("operation", ""),
            int(s["summary"].get("added-records", 0)),
        )
        for s in t.metadata.get("snapshots", [])
    ]
    return literal_df(
        spark, rows, "snapshot_id long, parent_id long, operation string, added_records long"
    )


@query(
    "iceberg_lineitem_month_prune",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
             AS revenue
    FROM lineitem
    WHERE (year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1
          BETWEEN 330 AND 341
    GROUP BY l_returnflag
    """,
)
def iceberg_lineitem_month_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Identity-partition pruning at table scale: the full lineitem
    fixture as an Iceberg table partitioned by ship month (written by a
    distributed Spark job, committed via footer-lifting); a 12-month
    predicate reads only those partitions.  Oracle recomputes from the
    source parquet with the equivalent month arithmetic."""
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    df = t.to_df(
        spark,
        filters=[("l_shipmonth", ">=", 330), ("l_shipmonth", "<=", 341)],
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return df.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rev.cast("decimal(25,6)")).cast("double").alias("revenue"),
    )


@query(
    "iceberg_join_prune_runtime",
    """
    WITH dim AS (
      SELECT DISTINCT (year(o_orderdate) - 1970) * 12 + month(o_orderdate) - 1
               AS month
      FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1996-04-01'
    )
    SELECT CAST(l.l_shipmonth AS INT) AS l_shipmonth,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))) AS DOUBLE)
             AS revenue
    FROM (SELECT *, (year(l_shipdate) - 1970) * 12 + month(l_shipdate) - 1
                      AS l_shipmonth
          FROM lineitem) l
    JOIN dim ON l.l_shipmonth = dim.month
    GROUP BY l.l_shipmonth
    """,
)
def iceberg_join_prune_runtime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-derived runtime file pruning (``scan.join_pruned_df``) — the
    planner-level analogue of Spark dynamic partition pruning, which
    cannot reach a scan this engine plans itself: the dim side (orders
    months surviving a one-quarter date filter) is collected as a
    bounded key set BEFORE any fact IO, turned into a planner ``in``
    filter, and the month-partitioned lineitem Iceberg table reads only
    the 3 matching partition files of ~84 (witnessed by the plan
    contract in tests/test_joinprune.py).  At 100 TB a star join whose
    dim filter keeps 3 months reads 3 months, not the table.  Oracle
    recomputes the join relationally from the source parquet."""
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg
    from daskberg_spark.iceberg.scan import join_pruned_df

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    orders = table(spark, sf_dir, "orders")
    month = (
        (F.year("o_orderdate") - F.lit(1970)) * 12 + F.month("o_orderdate") - 1
    ).cast("int")
    dim = (
        orders.filter(
            "o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'"
        )
        .select(month.alias("month"))
        .distinct()
    )
    res = join_pruned_df(t, spark, dim, "l_shipmonth", "month")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return res.groupBy("l_shipmonth").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(rev.cast("decimal(25,6)")).cast("double").alias("revenue"),
    )


@query(
    "iceberg_lineitem_stats_prune",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '2001-09-01 00:00:00'
    """,
)
def iceberg_lineitem_stats_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level min/max skipping from parquet-footer-derived bounds: a
    late-date predicate provably excludes every earlier month's files
    without touching partition values."""
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    df = t.to_df(spark, filters=[("l_shipdate", ">=", "2001-09-01 00:00:00")])
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double").alias("sum_qty"),
    )


@query(
    "iceberg_sql_over_catalog",
    f"""
    WITH g AS (
      SELECT name, age
      FROM read_parquet({_sql_file_list(_HEAD_FILES)}, union_by_name=true)
    ),
    p AS (
      SELECT sym, cat, qty
      FROM read_parquet('{_part_fixture_files()}')
      WHERE {LIVE_WHERE}
    )
    SELECT g.name,
           CAST(COUNT(p.sym) AS BIGINT) AS n_sym_rows
    FROM g LEFT JOIN p ON length(p.sym) = length(g.name)
    GROUP BY g.name
    """,
)
def iceberg_sql_over_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.6 catalog: two Iceberg tables registered as views, joined with
    plain Spark SQL — name resolution + connector scans under the SQL
    surface (the reference's catalog is namespace→metadata-location; here
    resolution ends in Catalyst)."""
    from daskberg_spark.iceberg.catalog import Catalog

    cat = Catalog(spark)
    cat.register("golden", iceberg_golden_table())
    cat.register_path("part_table", ensure_partitioned_fixture())
    return cat.sql(
        """
        SELECT g.name, CAST(COUNT(p.sym) AS BIGINT) AS n_sym_rows
        FROM golden g LEFT JOIN part_table p ON length(p.sym) = length(g.name)
        GROUP BY g.name
        """
    )


@query(
    "iceberg_incremental_read",
    f"""
    SELECT id, sym, cat, qty
    FROM read_parquet('{_part_fixture_files()}')
    WHERE id >= 150 AND {LIVE_WHERE}
    """,
)
def iceberg_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot-diff read: files live at head but not at
    snapshot -2 (first append) = the second append's rows minus those the
    later delete removed (it hit (news, day-1) files from BOTH appends).
    The oracle derives the same rowset from content."""
    t = IcebergTable(ensure_partitioned_fixture())
    return t.diff_df(spark, from_rel=-2).select("id", "sym", "cat", "qty")


@query(
    "iceberg_v2_row_deletes",
    f"""
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS sum_val
    FROM read_parquet('/root/repo/.fixtures/deletes_table/data/0*.parquet')
    WHERE id NOT IN (5, 17, 61, 0, 1, 2)
    GROUP BY grp
    """,
)
def iceberg_v2_row_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2 row-level deletes (beyond the v1-only reference): equality
    deletes anti-join on key columns, position deletes anti-join on
    (_metadata.file_path, row_index).  The oracle reads the raw data
    files and excludes the known-deleted ids by content."""
    from daskberg_spark.iceberg.fixtures import ensure_deletes_fixture

    t = IcebergTable(ensure_deletes_fixture())
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("sum_val"),
    )


@query(
    "iceberg_foreign_read",
    """
    SELECT cat,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS sum_val,
           CAST(MIN(val) AS DOUBLE) AS min_val
    FROM read_parquet('/root/repo/.fixtures/foreign_v2_table/data/0*.parquet')
    WHERE (id NOT IN (5, 35) OR val = -1.0)
    GROUP BY cat
    """,
)
def iceberg_foreign_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-written v2 table read: snappy-codec manifests, RANDOM
    (non-monotonic) snapshot ids, live files under two partition specs,
    and inherited sequence numbers — none of which this repo's own writer
    round-trip would produce, so reader bugs cannot hide behind writer
    symmetry.  Correctness hinges on keying equality-delete applicability
    on data sequence numbers: the reborn id-5 row (val -1.0) was appended
    by the snapshot with the SMALLEST forged id, and a snapshot-id-ordered
    reader would wrongly drop it.  The oracle reproduces the live rowset
    from raw data-file content alone."""
    from daskberg_spark.iceberg.fixtures import ensure_foreign_fixture

    t = IcebergTable(ensure_foreign_fixture())
    return t.to_df(spark).groupBy("cat").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("sum_val"),
        F.min("val").cast("double").alias("min_val"),
    )


@query(
    "iceberg_spec_evolution_prune",
    """
    SELECT id, tag
    FROM read_parquet('/root/repo/.fixtures/spec_evo_table/data/0*.parquet')
    WHERE id = 7
    """,
)
def iceberg_spec_evolution_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution read: live files span bucket[2] and
    bucket[4] specs over the SAME field name, and a point predicate keeps
    exactly one file per spec only when each file's partition value is
    checked through its own spec's transform (planner ``spec_by_source``
    per ``_spec_id``).  The oracle reads the raw data files — any
    wrong-spec pruning drops one of the two id=7 rows."""
    from daskberg_spark.iceberg.fixtures import ensure_spec_evo_fixture

    t = IcebergTable(ensure_spec_evo_fixture())
    return t.to_df(spark, filters=[("id", "==", 7)]).select("id", "tag")


@query(
    "iceberg_mor_delete_read",
    """
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM read_parquet('/root/repo/.fixtures/mor_table/data/0*.parquet')
    WHERE (NOT (grp = 'a' AND id < 10))
      AND (id NOT IN (50, 51) OR v = 'reborn')
    GROUP BY grp
    """,
)
def iceberg_mor_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletes written DISTRIBUTED: executor-produced
    position deletes (delete_where_spark, predicate) and equality deletes
    (delete_keys_spark, CDC key frame), plus a sequence-ordered re-insert
    that survives the older equality delete.  The oracle derives the live
    rowset from raw data-file content alone."""
    from daskberg_spark.iceberg.fixtures import ensure_mor_fixture

    t = IcebergTable(ensure_mor_fixture(spark))
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
    )


@query(
    "iceberg_dv_delete_read",
    """
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(id AS DECIMAL(25,6))) AS DOUBLE) AS sum_id,
           CAST(MIN(val) AS DOUBLE) AS min_val
    FROM read_parquet('/root/repo/.fixtures/dv_table/data/0*.parquet')
    WHERE (id % 7 <> 0 OR val = -1.0) AND id NOT IN (1, 3)
    GROUP BY grp
    """,
)
def iceberg_dv_delete_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v3 deletion-vector read (beyond the v1-only reference):
    roaring-bitmap DVs in a Puffin container, one blob per target data
    file (spec field ids 143-145), decoded EXECUTOR-side (mapInPandas)
    and applied through the same single position anti-join as v2
    position-delete parquet.  A re-inserted id-7 row (val = -1.0)
    survives because DVs name their target file.  The oracle reproduces
    the live rowset from raw data-file content alone."""
    from daskberg_spark.iceberg.fixtures import ensure_dv_fixture

    t = IcebergTable(ensure_dv_fixture(spark))
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id").cast("decimal(25,6)")).cast("double").alias("sum_id"),
        F.min("val").cast("double").alias("min_val"),
    )


@query(
    "iceberg_all_delete_files",
    """
    SELECT CASE WHEN filename LIKE '%pos-delete-%' THEN 1 ELSE 2 END AS content,
           filename AS file_path,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet(
        ['/root/repo/.fixtures/deletes_table/data/pos-delete-*.parquet',
         '/root/repo/.fixtures/deletes_table/data/eq-delete-*.parquet'],
        filename=true, union_by_name=true)
    GROUP BY filename
    """,
)
def iceberg_all_delete_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.all_delete_files`` metadata table over the v2-deletes
    fixture: both delete flavors surface with their content codes and
    record counts, which the oracle re-derives by reading the raw delete
    parquet files themselves (metadata must agree with the bytes)."""
    from daskberg_spark.iceberg.fixtures import ensure_deletes_fixture

    t = IcebergTable(ensure_deletes_fixture())
    return t.all_delete_files_df(spark).select(
        "content", "file_path", "record_count"
    )


@query(
    "iceberg_convert_deletes",
    f"""
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS sum_val
    FROM read_parquet('/root/repo/.fixtures/convert_del_table/data/0*.parquet')
    WHERE id NOT IN (5, 17, 61, 0, 1, 2)
    GROUP BY grp
    """,
)
def iceberg_convert_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full v3 delete consolidation (``convert_deletes_to_dvs``):
    equality deletes — value-identified, beyond
    ``rewrite_position_deletes``' reach — and position parquet both fold
    into one deletion vector per touched file via a distributed
    raw-minus-live position diff; the read after conversion serves the
    identical rowset from DVs alone, which the oracle re-derives from
    raw data-file content."""
    from daskberg_spark.iceberg.fixtures import ensure_convert_del_fixture

    t = IcebergTable(ensure_convert_del_fixture(spark))
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("sum_val"),
    )


@query(
    "iceberg_merge_full_sync",
    """
    SELECT id, grp,
           CAST(CASE id WHEN 2 THEN 99.5 WHEN 5 THEN 0.25 END AS DOUBLE)
             AS val
    FROM read_parquet('/root/repo/.fixtures/merge_sync_table/data/0*.parquet')
    WHERE id IN (2, 5)
    UNION ALL
    SELECT CAST(100 AS BIGINT) AS id, CAST(NULL AS VARCHAR) AS grp,
           CAST(42.0 AS DOUBLE) AS val
    """,
)
def iceberg_merge_full_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MERGE's ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` under
    merge-on-read (the full-sync shape: the source IS the desired table
    state): matched rows update via DV + replacement, source-only keys
    insert, and target-only rows DV-tombstone — one commit.  The oracle
    reconstructs the expected final state from raw data-file content
    plus the known source literals."""
    from daskberg_spark.iceberg.fixtures import ensure_merge_sync_fixture

    t = IcebergTable(ensure_merge_sync_fixture(spark))
    return t.to_df(spark).select("id", "grp", "val")


@query(
    "iceberg_partition_scoped_eq",
    """
    SELECT o_orderkey, o_custkey, o_orderpriority
    FROM orders
    WHERE NOT (o_custkey IN (7, 311) AND o_orderpriority = '1-URGENT')
    """,
)
def iceberg_partition_scoped_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped equality delete (the shape Flink's upsert
    writer emits on partitioned tables): orders partitioned by
    identity(o_orderpriority), then an equality delete on o_custkey
    scoped to the '1-URGENT' partition — the same customers' orders in
    every OTHER priority must survive, which a global application of
    the delete (the engine's previous behavior) would wrongly kill.
    The oracle applies the delete relationally with the partition
    predicate conjoined."""
    import os as _os
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
    )

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority",
        F.col("o_orderpriority").alias("pprio"),
    )
    path = tempfile.mkdtemp(prefix="iceberg_scoped_eq_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_custkey", "type": "long", "required": False},
            {"id": 3, "name": "o_orderpriority", "type": "string", "required": False},
        ],
        [{"name": "o_orderpriority", "transform": "identity",
          "source": "o_orderpriority"}],
    )
    data_dir = _os.path.join(path, "data-0")
    src.write.mode("overwrite").partitionBy("pprio").parquet(data_dir)
    commit_spark_output(
        writer, data_dir, partition_col="o_orderpriority", path_col="pprio"
    )
    writer.delete_rows_equality(
        [{"o_custkey": 7}, {"o_custkey": 311}],
        partition={"o_orderpriority": "1-URGENT"},
    )
    t = IcebergTable(path)
    return t.to_df(spark)


@query(
    "iceberg_remove_dangling",
    """
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM orders
    WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
    """,
)
def iceberg_remove_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dangling-delete cleanup end-to-end (upstream
    ``RemoveDanglingDeletes``): a distributed blind upsert leaves an
    equality delete on the table; compaction rewrites every file under
    a newer sequence, making it dead weight; ``remove_dangling_deletes``
    then drops it by pure sequence metadata — the query asserts the
    delete set really empties and the oracle proves the read stayed
    exact through upsert → compact → cleanup (last-write-wins per
    key)."""
    import os as _os
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        compact_files_spark,
        remove_dangling_deletes,
        upsert_spark_output,
    )

    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="iceberg_dangling_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_totalprice", "type": "double", "required": False},
        ],
    )
    d0 = _os.path.join(path, "data-0")
    src.filter(F.col("o_orderkey") % 2 == 0).write.mode("overwrite").parquet(d0)
    commit_spark_output(writer, d0)
    upsert_spark_output(
        writer,
        spark,
        src.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1.0)
        ),
        on=["o_orderkey"],
    )
    assert len(IcebergTable(path).plan_deletes()) > 0  # live eq-delete
    assert remove_dangling_deletes(writer) is None  # still applicable
    assert compact_files_spark(writer, spark) is not None
    assert remove_dangling_deletes(writer) is not None  # now dangling
    t = IcebergTable(path)
    assert t.plan_deletes() == []  # read path is delete-free again
    return t.to_df(spark)


@query(
    "iceberg_rewrite_pos_deletes",
    """
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS sum_val
    FROM read_parquet('/root/repo/.fixtures/rewrite_pos_table/data/0*.parquet')
    WHERE id NOT IN (0, 1, 2, 60, 61, 62)
    GROUP BY grp
    """,
)
def iceberg_rewrite_pos_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v2→v3 delete-file migration (``rewrite_position_deletes`` —
    upstream ``rewrite_position_delete_files`` in convert-to-DV form):
    the fixture's two position-delete parquet commits and a pre-existing
    DV are merged into ONE deletion vector per touched file in a single
    ``replace`` snapshot, the parquet tombstoned.  The read after
    conversion must reproduce exactly the pre-conversion live rowset,
    which the oracle derives from raw data-file content alone."""
    from daskberg_spark.iceberg.fixtures import ensure_rewrite_pos_fixture

    t = IcebergTable(ensure_rewrite_pos_fixture())
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("sum_val"),
    )


@query(
    "iceberg_add_files_read",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(id AS DECIMAL(25,6))) AS DOUBLE) AS sum_id,
           CAST(MAX(val) AS DOUBLE) AS max_val
    FROM read_parquet(['/root/repo/.fixtures/addfiles_ext/*.parquet',
                       '/root/repo/.fixtures/addfiles_table/data/0*.parquet'])
    WHERE id > 5
    """,
)
def iceberg_add_files_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """add_files migration read (real-Iceberg ``add_files`` action,
    beyond the reference): external parquet registered IN PLACE — no
    copy/rewrite, footer-lifted bounds — read alongside a native append,
    with the filter planned through the lifted stats.  The oracle reads
    the same external chunks + table data files directly."""
    from daskberg_spark.iceberg.fixtures import ensure_addfiles_fixture

    t = IcebergTable(ensure_addfiles_fixture())
    return t.to_df(spark, filters=[("id", ">", 5)]).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id").cast("decimal(25,6)")).cast("double").alias("sum_id"),
        F.max("val").cast("double").alias("max_val"),
    )


@query(
    "iceberg_name_mapping_read",
    """
    SELECT id, val AS value
    FROM read_parquet('/root/repo/.fixtures/name_mapping_table/ext/*.parquet')
    """,
)
def iceberg_name_mapping_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec ``schema.name-mapping.default`` read: field-id-less imported
    parquet (physical column ``val``) under metadata whose snapshots
    carry NO schema pinning (forged foreign/v1-era shape), after the
    column was renamed to ``value`` — only the name mapping recorded by
    ``add_files`` lets the scan resolve physical name → field id →
    current name; a naive by-current-name reader silently null-fills the
    renamed column.  Oracle reads the chunks under their physical name."""
    from daskberg_spark.iceberg.fixtures import ensure_name_mapping_fixture

    t = IcebergTable(ensure_name_mapping_fixture())
    return t.to_df(spark)


@query(
    "iceberg_table_statistics",
    """
    SELECT 'grp' AS col, CAST(COUNT(DISTINCT grp) AS BIGINT) AS ndv
    FROM read_parquet('/root/repo/.fixtures/stats_table/data/0*.parquet')
    UNION ALL
    SELECT 'id', CAST(COUNT(DISTINCT id) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/stats_table/data/0*.parquet')
    UNION ALL
    SELECT 'val', CAST(COUNT(DISTINCT val) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/stats_table/data/0*.parquet')
    """,
)
def iceberg_table_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-statistics read (Iceberg spec "Table statistics", beyond
    the reference): per-column NDV blobs in a Puffin stats file
    registered under the metadata ``statistics`` list — the input to
    cost-based join ordering.  The fixture's stats were computed with
    one exact distributed pass; the oracle recomputes each NDV with
    COUNT(DISTINCT) over the raw data files, so a wrong sketch, a
    mis-keyed blob (field ids), or stale statistics all hash-mismatch."""
    from daskberg_spark.iceberg.fixtures import ensure_stats_fixture
    from daskberg_spark.operators.registry import literal_df

    t = IcebergTable(ensure_stats_fixture(spark))
    rows = sorted(
        (name, t.column_ndv(name)) for name in ("grp", "id", "val")
    )
    return literal_df(spark, rows, "col string, ndv long")


@query(
    "iceberg_sql_statistics",
    """
    SELECT 'd' AS col, CAST(COUNT(DISTINCT d) AS BIGINT) AS ndv
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'grp', CAST(COUNT(DISTINCT grp) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'id', CAST(COUNT(DISTINCT id) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'val', CAST(COUNT(DISTINCT val) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    """,
)
def iceberg_sql_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistics on the SQL surface: the ``statistics`` metadata view
    (``name__statistics`` — one row per Puffin blob with its covered
    column and ``ndv`` property) queried through ``spark.sql``,
    restricted to the CURRENT stats snapshot.  The fixture's head
    blobs came through the incremental refresh and are exact-mode, so
    the view's ndv column must equal DuckDB's COUNT(DISTINCT) over the
    raw data files — pinning the view's field-id→name resolution and
    property lift alongside the registration plumbing."""
    from daskberg_spark.iceberg.catalog import Catalog
    from daskberg_spark.iceberg.fixtures import ensure_theta_fixture

    path = ensure_theta_fixture(spark)
    cat = Catalog(spark)
    cat.register_path("theta_stats", path)
    cat.register_metadata_views("theta_stats")
    return spark.sql(
        """
        SELECT columns AS col, ndv
        FROM theta_stats__statistics
        WHERE snapshot_id = (SELECT MAX(snapshot_id)
                             FROM theta_stats__statistics)
          AND type = 'apache-datasketches-theta-v1'
        """
    )


@query(
    "iceberg_stats_delta",
    """
    WITH old_f AS (
      SELECT * FROM read_parquet('/root/repo/.fixtures/theta_table/data/00001-*.parquet')
    ), new_f AS (
      SELECT * FROM read_parquet('/root/repo/.fixtures/theta_table/data/00002-*.parquet')
    )
    SELECT 'd' AS col,
           CAST((SELECT COUNT(DISTINCT d) FROM new_f
                 WHERE d NOT IN (SELECT d FROM old_f)) AS BIGINT) AS new_ndv
    UNION ALL
    SELECT 'grp',
           CAST((SELECT COUNT(DISTINCT grp) FROM new_f
                 WHERE grp NOT IN (SELECT grp FROM old_f)) AS BIGINT)
    UNION ALL
    SELECT 'id',
           CAST((SELECT COUNT(DISTINCT id) FROM new_f
                 WHERE id NOT IN (SELECT id FROM old_f)) AS BIGINT)
    UNION ALL
    SELECT 'val',
           CAST((SELECT COUNT(DISTINCT val) FROM new_f
                 WHERE val NOT IN (SELECT val FROM old_f)) AS BIGINT)
    """,
)
def iceberg_stats_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-IO key-churn analysis from two snapshots' theta sketches
    (beyond the reference and real engines alike): ``a_not_b`` between
    the head's statistics and the previous stats snapshot's answers
    "how many NEW distinct values did this window introduce" per
    column — no data read, just two Puffin blob decodes and a set
    difference.  The fixture's sketches are exact-mode, so the oracle's
    literal NOT IN recount over the two appends' raw files must match
    exactly — pinning the set-difference algebra, the per-snapshot blob
    lookup, and the single-value hashing in one query."""
    from daskberg_spark.iceberg.fixtures import ensure_theta_fixture
    from daskberg_spark.operators.registry import literal_df

    t = IcebergTable(ensure_theta_fixture(spark))
    covered = sorted(
        e["snapshot-id"]
        for e in t.metadata.get("statistics", [])
        if any(
            b.get("type") == "apache-datasketches-theta-v1"
            for b in e.get("blob-metadata", [])
        )
    )
    # fixture lineage: snapshot ids are monotonic; the head entry came
    # through the incremental refresh, the older one is the base
    base_id, head_id = covered[0], covered[-1]
    rows = sorted(
        (
            name,
            int(
                round(
                    t.column_theta(name, head_id)
                    .a_not_b(t.column_theta(name, base_id))
                    .estimate()
                )
            ),
        )
        for name in ("id", "grp", "val", "d")
    )
    return literal_df(spark, rows, "col string, new_ndv long")


@query(
    "iceberg_agg_pushdown_ndv",
    """
    SELECT CAST(COUNT(DISTINCT id) AS BIGINT) AS ndv_id,
           CAST(COUNT(DISTINCT grp) AS BIGINT) AS ndv_grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(id) AS BIGINT) AS min_id
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    """,
)
def iceberg_agg_pushdown_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct pushdown from TABLE STATISTICS (beyond the
    reference AND beyond real Iceberg-Spark, which pushes only
    count/min/max): the NDV answers decode from the current snapshot's
    theta blobs and the count/min ride the ordinary manifest pushdown —
    the whole battery is ZERO data IO (hard-asserted).  The fixture's
    sketches are exact-mode (NDV << k), so the oracle's COUNT(DISTINCT)
    must match exactly, pinning blob decode, the estimate, and the
    mixed-battery merge at once."""
    from daskberg_spark.iceberg.fixtures import ensure_theta_fixture

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)

    t = IcebergTable(ensure_theta_fixture(spark))
    out = t.agg_pushdown(
        spark,
        [
            ("approx_count_distinct", "id", "ndv_id"),
            ("approx_count_distinct", "grp", "ndv_grp"),
            ("count", "*", "n"),
            ("min", "id", "min_id"),
        ],
    )
    rep = t.last_agg_pushdown
    assert rep["files_scanned"] == 0 and not rep["ndv_scanned_columns"], rep
    return out


@query(
    "iceberg_cbo_join",
    """
    SELECT s.sname AS sname,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f.amount) AS DOUBLE) AS amt
    FROM read_parquet('/root/repo/.fixtures/cbo_fact/data/*.parquet') f
    JOIN read_parquet('/root/repo/.fixtures/cbo_dim_big/data/*.parquet') b
      ON f.k_big = b.bid AND b.bcat = 'c3'
    JOIN read_parquet('/root/repo/.fixtures/cbo_dim_small/data/*.parquet') s
      ON f.k_small = s.sid
    GROUP BY s.sname
    """,
)
def iceberg_cbo_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based star-join ordering (``iceberg/cbo.py``; beyond the
    reference, which performs no joins): the theta NDV blobs and
    manifest record counts this engine writes feed the Selinger
    containment estimator, the greedy planner joins the FILTERED big
    dimension first (growth 0.05 vs the small dim's 1.0), and
    metadata-small dims get broadcast hints Spark's own CBO could
    never derive for these assembled scans.  Inner equi-joins commute,
    so the oracle pins values while the ordering is asserted by
    ``tests/test_cbo.py`` and the plan contract."""
    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.fixtures import ensure_cbo_fixture

    paths = ensure_cbo_fixture(spark)
    fact = IcebergTable(paths["fact"])
    out = cbo_join(
        spark,
        fact,
        [
            JoinDim(IcebergTable(paths["small"]), "k_small", "sid",
                    name="small"),
            JoinDim(
                IcebergTable(paths["big"]),
                "k_big",
                "bid",
                filters=[("bcat", "==", "c3")],
                name="big",
            ),
        ],
    )
    return out.groupBy("sname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("double").alias("amt"),
    )


@query(
    "iceberg_theta_ndv",
    """
    SELECT 'd' AS col, CAST(COUNT(DISTINCT d) AS BIGINT) AS ndv
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'grp', CAST(COUNT(DISTINCT grp) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'id', CAST(COUNT(DISTINCT id) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    UNION ALL
    SELECT 'val', CAST(COUNT(DISTINCT val) AS BIGINT)
    FROM read_parquet('/root/repo/.fixtures/theta_table/data/0*.parquet')
    """,
)
def iceberg_theta_ndv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spec-standard ``apache-datasketches-theta-v1`` statistics blobs
    (Iceberg Puffin spec; beyond the reference, which carries no stats
    machinery): per-column NDV as a compact theta sketch over Iceberg
    single-value serialization, built from scratch (``theta.py`` —
    murmur3 x64-128, DataSketches serial-v3 layout, verified
    byte-identical against the datasketches-java library Spark
    bundles).  The fixture's CURRENT blobs came through the
    INCREMENTAL refresh path — base sketches unioned with sketches
    over only the appended files — so this oracle pins hashing,
    serialization, the union algebra, and the incremental file plan
    at once: the sketches are exact-mode (NDV << k=4096), so each
    estimate must equal DuckDB's COUNT(DISTINCT) over the raw files."""
    from daskberg_spark.iceberg.fixtures import ensure_theta_fixture
    from daskberg_spark.operators.registry import literal_df

    t = IcebergTable(ensure_theta_fixture(spark))
    rows = sorted(
        (name, int(round(t.column_theta(name).estimate())))
        for name in ("id", "grp", "val", "d")
    )
    return literal_df(spark, rows, "col string, ndv long")


@query(
    "iceberg_partition_stats_file",
    """
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS data_record_count,
           CAST(COUNT(DISTINCT filename) AS INT) AS data_file_count
    FROM read_parquet('/root/repo/.fixtures/pstats_table/data/**/*.parquet',
                      filename=true)
    GROUP BY grp
    """,
)
def iceberg_partition_stats_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-statistics FILE read (Iceberg spec "Partition
    statistics", beyond the reference): per-partition record/file counts
    derived from manifests only — zero data IO at write time — stored as
    the spec-shaped parquet and here read back DISTRIBUTED through
    ``spark.read.parquet``.  The oracle recomputes both counts from the
    raw data files (``filename=true``), so wrong aggregation, spec
    grouping, or a stale file all hash-mismatch."""
    from daskberg_spark.iceberg.fixtures import ensure_pstats_fixture

    t = IcebergTable(ensure_pstats_fixture())
    entry = t.metadata["partition-statistics"][-1]
    return (
        spark.read.parquet(entry["statistics-path"])
        .select(
            F.col("partition.grp").alias("grp"),
            F.col("data_record_count"),
            F.col("data_file_count"),
        )
    )


@query(
    "iceberg_dynamic_overwrite",
    """
    SELECT grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(val) AS BIGINT) AS min_val,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM read_parquet('/root/repo/.fixtures/dpo_table/data/**/*.parquet')
    WHERE grp <> 'a' OR val = -1
    GROUP BY grp
    """,
)
def iceberg_dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite (INSERT OVERWRITE semantics, beyond
    the reference): ``overwrite_partitions_spark`` replaced exactly the
    partitions present in the new frame — executors wrote the files,
    the driver tombstoned the old partition's files in one overwrite
    snapshot.  The tombstoned parquet stays on disk, so the oracle
    derives the live set from content alone (grp <> 'a' OR val = -1)."""
    from daskberg_spark.iceberg.fixtures import ensure_dpo_fixture

    t = IcebergTable(ensure_dpo_fixture(spark))
    return t.to_df(spark).groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("val").cast("long").alias("min_val"),
        F.max("id").cast("long").alias("max_id"),
    )


@query(
    "iceberg_rollback_read",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id,
           CAST(SUM(CAST(val AS DECIMAL(25,6))) AS DOUBLE) AS sum_val
    FROM read_parquet('/root/repo/.fixtures/rollback_table/data/0*.parquet')
    WHERE id < 50 OR id >= 100
    """,
)
def iceberg_rollback_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-rollback read (``rollback_to``, beyond the reference):
    the current state excludes a rolled-past append whose file is still
    on disk and time-travelable — the oracle derives the live set from
    raw data-file content (``id < 50 OR id >= 100``)."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.to_df(spark).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("id").cast("long").alias("min_id"),
        F.max("id").cast("long").alias("max_id"),
        F.sum(F.col("val").cast("decimal(25,6)")).cast("double").alias("sum_val"),
    )


@query(
    "iceberg_schema_evolution",
    """
    SELECT id, COALESCE(total, amount) AS total, note
    FROM read_parquet('/root/repo/.fixtures/evolved_table/data/0*.parquet', union_by_name=true)
    """,
)
def iceberg_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/§1.4 beyond the reference: column rename resolved by field id
    — files written before the rename read under their own schema and
    surface the data under the current name (naive by-name reading
    silently null-fills); a column added later null-fills older files.
    The oracle reconstructs the same view with union_by_name+COALESCE."""
    from daskberg_spark.iceberg.fixtures import ensure_evolved_fixture

    t = IcebergTable(ensure_evolved_fixture())
    return t.to_df(spark)


@query(
    "iceberg_nested_read",
    """
    SELECT id, meta.author AS author, meta.score AS score,
           CAST(len(tags) AS INT) AS n_tags,
           list_contains(tags, 'hot') AS has_hot,
           counts['views'][1] AS views
    FROM read_parquet('/root/repo/.fixtures/nested_table/data/*.parquet')
    """,
)
def iceberg_nested_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested types (struct/list/map) through the connector — the one
    capability gap the reference hard-refuses
    (``/root/reference/daskberg/conversions.py:46`` raises
    NotImplementedError on nested).  The Iceberg schema JSON maps
    recursively to StructType/ArrayType/MapType
    (``iceberg/conversions.py schema_to_struct``); bounds are tracked per
    leaf field in real Iceberg and skipped by our writer, so file pruning
    on nested columns stays conservative while top-level stats pruning is
    unaffected.  Output is projected to scalars (struct access, list
    length/membership, map extraction) so the driver can hash it."""
    from daskberg_spark.iceberg.fixtures import ensure_nested_fixture

    t = IcebergTable(ensure_nested_fixture())
    return t.to_df(spark).select(
        "id",
        F.col("meta.author").alias("author"),
        F.col("meta.score").alias("score"),
        F.size("tags").alias("n_tags"),
        F.array_contains("tags", "hot").alias("has_hot"),
        F.element_at("counts", "views").alias("views"),
    )


@query(
    "iceberg_merge_cow",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    k(o_orderkey, o_orderstatus, o_totalprice) AS (
      VALUES (11, 'X', -1.0), (22, 'X', -2.0), (33, 'X', -3.0),
             (-1, 'NEW', 123.45)
    ),
    updated AS (
      SELECT s.o_orderkey,
             COALESCE(k.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
             COALESCE(k.o_totalprice, s.o_totalprice) AS o_totalprice
      FROM src s LEFT JOIN k ON s.o_orderkey = k.o_orderkey
    ),
    inserted AS (
      SELECT * FROM k
      WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM (SELECT * FROM updated UNION ALL SELECT * FROM inserted)
    GROUP BY o_orderstatus
    """,
)
def iceberg_merge_cow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Copy-on-write MERGE end-to-end: distributed write of an orders
    subset (identity-partitioned by status), then ``merge_rows`` applies
    three literal updates (which also MOVE the rows into partition 'X')
    plus one insert in a single overwrite snapshot; the read-back
    aggregate must match an oracle that recomputes the merge relationally
    from the source parquet — so file rewrite, partition regrouping,
    tombstoning, and bounds all have to be right."""
    import os
    import tempfile

    from daskberg_spark.iceberg.writer import IcebergWriter, commit_spark_output

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 11 = 0")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderstatus").alias("part_status"),
        )
    )
    path = tempfile.mkdtemp(prefix="iceberg_merge_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
        [{"name": "o_orderstatus", "transform": "identity", "source": "o_orderstatus"}],
    )
    data_dir = os.path.join(path, "data-0")
    src.write.mode("overwrite").partitionBy("part_status").parquet(data_dir)
    commit_spark_output(
        writer, data_dir, partition_col="o_orderstatus", path_col="part_status"
    )
    writer.merge_rows(
        [
            {"o_orderkey": 11, "o_orderstatus": "X", "o_totalprice": -1.0},
            {"o_orderkey": 22, "o_orderstatus": "X", "o_totalprice": -2.0},
            {"o_orderkey": 33, "o_orderstatus": "X", "o_totalprice": -3.0},
            {"o_orderkey": -1, "o_orderstatus": "NEW", "o_totalprice": 123.45},
        ],
        ["o_orderkey"],
    )
    t = IcebergTable(path)
    return t.to_df(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "iceberg_merge_mor",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 11 = 0
    ),
    u AS (
      SELECT o_orderkey, 'M' AS o_orderstatus,
             o_totalprice * 2 AS o_totalprice
      FROM orders WHERE o_orderkey % 33 = 0
      UNION ALL SELECT -5, 'NEW', 50.0
    ),
    merged AS (
      SELECT s.o_orderkey,
             COALESCE(u.o_orderstatus, s.o_orderstatus) AS o_orderstatus,
             COALESCE(u.o_totalprice, s.o_totalprice) AS o_totalprice
      FROM src s LEFT JOIN u ON s.o_orderkey = u.o_orderkey
      UNION ALL
      SELECT * FROM u WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def iceberg_merge_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ MERGE end-to-end (``merge_rows_mor_spark``): a
    distributed update set (every 33rd order, values doubled, moved to
    status 'M') plus one insert lands as DV tombstones on the matched
    (file, position) identities + appended replacement rows in ONE
    overwrite commit — write amplification O(matched rows), unlike the
    copy-on-write twin that rewrites whole matched files.  The read-back
    aggregate reconciles DVs by sequence number; the oracle recomputes
    the merge relationally from the source parquet."""
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        merge_rows_mor_spark,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 11 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = tempfile.mkdtemp(prefix="iceberg_merge_mor_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
    )
    stage = f"{path}/data-0"
    src.write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    updates = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 33 = 0")
        .select(
            "o_orderkey",
            F.lit("M").alias("o_orderstatus"),
            (F.col("o_totalprice") * 2).alias("o_totalprice"),
        )
        .unionByName(
            literal_df(
                spark,
                [(-5, "NEW", 50.0)],
                "o_orderkey long, o_orderstatus string, o_totalprice double",
            )
        )
    )
    merge_rows_mor_spark(writer, spark, updates, ["o_orderkey"])
    t = IcebergTable(path)
    return t.to_df(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "iceberg_files_metadata",
    """
    SELECT filename AS file_path, CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet(['/root/repo/.fixtures/addfiles_ext/*.parquet',
                       '/root/repo/.fixtures/addfiles_table/data/0*.parquet'],
                      filename=true)
    GROUP BY filename
    """,
)
def iceberg_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.files`` metadata table (real Iceberg inspect surface):
    one row per live data file from the reconciled plan — zero data IO
    on the Spark side.  The oracle independently re-derives per-file row
    counts by actually scanning every file with DuckDB's
    ``filename=true``, cross-checking the footer-lifted record counts
    the manifests carry (including the add_files-imported chunks)."""
    from daskberg_spark.iceberg.fixtures import ensure_addfiles_fixture

    t = IcebergTable(ensure_addfiles_fixture())
    return t.files_df(spark).select("file_path", "record_count")


@query(
    "iceberg_history_metadata",
    rf"""
    WITH RECURSIVE meta AS (
      SELECT "snapshot-log" AS slog, snapshots,
             "current-snapshot-id" AS cur,
             CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) AS v
      FROM read_json_auto(
        '/root/repo/.fixtures/rollback_table/metadata/v*.metadata.json',
        filename=true)
      ORDER BY v DESC LIMIT 1
    ),
    parents AS (
      SELECT CAST(s."snapshot-id" AS BIGINT) AS sid,
             CAST(s."parent-snapshot-id" AS BIGINT) AS pid
      FROM (SELECT unnest(snapshots) AS s FROM meta)
    ),
    anc AS (
      SELECT CAST(cur AS BIGINT) AS sid FROM meta
      UNION ALL
      SELECT p.pid FROM anc a JOIN parents p ON p.sid = a.sid
      WHERE p.pid IS NOT NULL
    ),
    logent AS (SELECT unnest(slog) AS e FROM meta)
    SELECT CAST(e."timestamp-ms" AS BIGINT) AS made_current_at,
           CAST(e."snapshot-id" AS BIGINT) AS snapshot_id,
           p.pid AS parent_id,
           CAST(e."snapshot-id" AS BIGINT) IN (SELECT sid FROM anc)
             AS is_current_ancestor
    FROM logent LEFT JOIN parents p
      ON p.sid = CAST(e."snapshot-id" AS BIGINT)
    """,
)
def iceberg_history_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.history`` metadata table over the ROLLBACK fixture: the
    snapshot-log is lineage-only after a rollback (rolled-past commits
    truncate out per the reference-Iceberg rule), and
    ``is_current_ancestor`` is cross-checked by the oracle's OWN
    recursive parent-chain walk through DuckDB's JSON parser."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.history_df(spark)


@query(
    "iceberg_snapshots_metadata",
    r"""
    SELECT CAST(s."timestamp-ms" AS BIGINT) AS committed_at,
           CAST(s."snapshot-id" AS BIGINT) AS snapshot_id,
           CAST(s."parent-snapshot-id" AS BIGINT) AS parent_id,
           COALESCE(s.summary.operation, 'append') AS operation,
           s."manifest-list" AS manifest_list,
           CAST(json_extract_string(to_json(s.summary), '$."total-records"')
                AS BIGINT) AS total_records
    FROM (SELECT unnest(snapshots) AS s FROM (
      SELECT snapshots,
             CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) AS v
      FROM read_json_auto(
        '/root/repo/.fixtures/rollback_table/metadata/v*.metadata.json',
        filename=true)
      ORDER BY v DESC LIMIT 1))
    """,
)
def iceberg_snapshots_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.snapshots`` metadata table over the rollback fixture:
    unlike ``history`` (lineage-only snapshot-log), EVERY metadata
    snapshot surfaces — including the one the rollback stranded off the
    current lineage — with its commit operation and manifest-list path.
    The oracle re-parses the raw metadata JSON through DuckDB."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.snapshots_df(spark)


@query(
    "iceberg_default_backfill",
    """
    SELECT o_orderkey, CAST(1.5 AS DOUBLE) AS boost
    FROM orders WHERE o_orderkey % 19 = 0
    UNION ALL SELECT -3, 9.0
    """,
)
def iceberg_default_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 initial-default backfill: a column added with a default AFTER
    the first commit reads that default for every pre-existing row —
    zero data IO, the spec's answer to "add a backfilled column at
    100 TB".  A post-evolution append carries its own value.  Oracle
    reconstructs the backfilled view relationally."""
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 19 = 0")
        .select("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_defaults_")
    writer = IcebergWriter(
        path, [{"id": 1, "name": "o_orderkey", "type": "long", "required": False}]
    )
    stage = f"{path}/data-0"
    src.write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    writer.add_column("boost", "double", default=1.5)
    writer.append([{"o_orderkey": -3, "boost": 9.0}])
    t = IcebergTable(path)
    return t.to_df(spark)


@query(
    "iceberg_changelog_rows",
    """
    SELECT 'delete' AS _change_type, o_orderkey
    FROM orders WHERE o_orderkey % 17 = 0 AND o_orderkey % 51 = 0
    UNION ALL
    SELECT 'insert', -7
    """,
)
def iceberg_changelog_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-level changelog (``changelog_rows_df``): a deletion-vector
    commit changes no data files, so the file-level changelog sees
    nothing — the row-level diff reads both snapshot states through the
    delete-aware scan and anti-joins on (file, position) identity,
    surfacing exactly the DV-deleted rows plus the later insert.  Oracle
    reconstructs the change set relationally from the source parquet."""
    import tempfile

    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        delete_where_dv_spark,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 17 = 0")
        .select("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_changelog_")
    writer = IcebergWriter(
        path, [{"id": 1, "name": "o_orderkey", "type": "long", "required": False}]
    )
    stage = f"{path}/data-0"
    src.write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    delete_where_dv_spark(writer, spark, "o_orderkey % 51 = 0")
    writer.append([{"o_orderkey": -7}])
    t = IcebergTable(path)
    return changelog_rows_df(t, spark, from_rel=-2).select(
        "_change_type", "o_orderkey"
    )


@query(
    "iceberg_changelog_net",
    """
    SELECT 'delete' AS _change_type, o_orderkey
    FROM orders WHERE o_orderkey % 23 = 0 AND o_orderkey % 69 = 0
                  AND o_orderkey % 46 <> 0
    UNION ALL
    SELECT 'insert', -11
    """,
)
def iceberg_changelog_net(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``changelog_rows_df(net_changes=True)`` — Iceberg's carry-over
    elimination over a 3-commit window: a DV delete hits the %69 rows,
    the %46 subset of them is RE-INSERTED in the next commit (so those
    net out), and a fresh row (-11) is appended.  The oracle is the net
    effect computed relationally: deletes = %69 minus the re-inserted
    %46, inserts = only the genuinely new row."""
    import tempfile

    from daskberg_spark.iceberg.scan import changelog_rows_df
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        delete_where_dv_spark,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 23 = 0")
        .select("o_orderkey")
    )
    path = tempfile.mkdtemp(prefix="iceberg_changelog_net_")
    writer = IcebergWriter(
        path, [{"id": 1, "name": "o_orderkey", "type": "long", "required": False}]
    )
    stage = f"{path}/data-0"
    src.write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    delete_where_dv_spark(writer, spark, "o_orderkey % 69 = 0")
    reinsert = [
        {"o_orderkey": r["o_orderkey"]}
        for r in src.filter("o_orderkey % 46 = 0 AND o_orderkey % 69 = 0")
        .collect()
    ]
    writer.append(reinsert + [{"o_orderkey": -11}])
    t = IcebergTable(path)
    return changelog_rows_df(t, spark, from_rel=-2, net_changes=True).select(
        "_change_type", "o_orderkey"
    )


def _lineage_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Two sorted appends → compact → MOR update, the r7-verdict lineage
    sequence.  Append order is deterministic (sorted key, driver-side
    single file per append), so _row_id = batch offset + rank — exactly
    reconstructable relationally.  Sequences: append1=1, append2=2,
    compact=3, update=4."""
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        update_where_mor_spark,
    )

    keys = [
        r["o_orderkey"]
        for r in table(spark, sf_dir, "orders")
        .filter("o_orderkey % 29 = 0")
        .select("o_orderkey")
        .orderBy("o_orderkey")
        .collect()
    ]
    b1 = [k for k in keys if k % 58 == 0]
    b2 = [k for k in keys if k % 58 != 0]
    path = tempfile.mkdtemp(prefix="iceberg_lineage_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "val", "type": "double", "required": False},
        ],
    )
    writer.append([{"o_orderkey": k, "val": float(k)} for k in b1])
    writer.append([{"o_orderkey": k, "val": float(k)} for k in b2])
    assert compact_files(writer) is not None  # 2 files → 1, re-keys (file,pos)
    update_where_mor_spark(
        writer, spark, "o_orderkey % 58 = 0", {"val": "-1.0"}
    )
    return path


_LINEAGE_ORACLE_IDS = """
    WITH b1 AS (
      SELECT o_orderkey,
             ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 58 = 0
    ),
    b2 AS (
      SELECT o_orderkey,
             (SELECT COUNT(*) FROM b1)
               + ROW_NUMBER() OVER (ORDER BY o_orderkey) - 1 AS rid
      FROM orders WHERE o_orderkey % 29 = 0 AND o_orderkey % 58 <> 0
    )
"""


@query(
    "iceberg_row_lineage",
    _LINEAGE_ORACLE_IDS
    + """
    SELECT o_orderkey, CAST(rid AS BIGINT) AS _row_id,
           CAST(4 AS BIGINT) AS _last_updated_sequence_number,
           CAST(-1 AS DOUBLE) AS val
    FROM b1
    UNION ALL
    SELECT o_orderkey, CAST(rid AS BIGINT),
           CAST(2 AS BIGINT), CAST(o_orderkey AS DOUBLE)
    FROM b2
    """,
)
def iceberg_row_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 row lineage through compact + MOR update (r7 verdict item 6):
    _row_id = first_row_id + position at commit, compaction MATERIALIZES
    ids into its rewritten file (identity survives the (file, pos)
    re-key) while preserving each row's original
    _last_updated_sequence_number, and the MOR UPDATE's replacements
    keep their source _row_id with the update's sequence.  The oracle
    reconstructs ids from the two sorted appends' ranks and the expected
    final sequences: updated (batch-1) rows carry the update commit's
    sequence 4, untouched batch-2 rows keep their append's sequence 2."""
    path = _lineage_fixture(spark, sf_dir)
    t = IcebergTable(path)
    return t.to_df(spark, row_lineage=True).select(
        "o_orderkey", "_row_id", "_last_updated_sequence_number", "val"
    )


@query(
    "iceberg_changelog_pairs",
    _LINEAGE_ORACLE_IDS
    + """
    SELECT 'update_before' AS _change_type, o_orderkey,
           CAST(o_orderkey AS DOUBLE) AS val, CAST(rid AS BIGINT) AS _row_id
    FROM b1
    UNION ALL
    SELECT 'update_after', o_orderkey, CAST(-1 AS DOUBLE),
           CAST(rid AS BIGINT)
    FROM b1
    """,
)
def iceberg_changelog_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-identity changelog (``identity='row'``) over a window holding
    a COMPACTION and a MOR UPDATE: the compaction's rewrite churn (same
    _row_id, same values) nets to nothing, and the update surfaces as
    one update_before/update_after PAIR per touched row — real Iceberg's
    changelog-with-lineage semantics, vs the position-identity changelog
    which reports the same window as unpaired delete+insert noise for
    every rewritten row."""
    from daskberg_spark.iceberg.scan import changelog_rows_df

    path = _lineage_fixture(spark, sf_dir)
    t = IcebergTable(path)
    # window: [after append2] → head (covers compact + update)
    return changelog_rows_df(t, spark, from_rel=-2, identity="row").select(
        "_change_type", "o_orderkey", "val", "_row_id"
    )


@query(
    "iceberg_update_mor",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 13 = 0
    ),
    updated AS (
      SELECT o_orderkey,
             CASE WHEN o_totalprice > 150000 THEN 'U' ELSE o_orderstatus END
               AS o_orderstatus,
             CASE WHEN o_totalprice > 150000
                  THEN o_totalprice * CAST(0.9 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM src
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM updated GROUP BY o_orderstatus
    """,
)
def iceberg_update_mor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read UPDATE end-to-end (``update_where_mor_spark``):
    ``UPDATE ... SET status='U', price=price*0.9 WHERE price>150000``
    lands as DV tombstones + appended recomputed rows in one overwrite
    commit — the expression-assignment specialization of the MOR MERGE.
    Oracle recomputes the update relationally from the source parquet."""
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        update_where_mor_spark,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 13 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
    )
    path = tempfile.mkdtemp(prefix="iceberg_update_mor_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
    )
    stage = f"{path}/data-0"
    src.write.mode("overwrite").parquet(stage)
    commit_spark_output(writer, stage)
    update_where_mor_spark(
        writer,
        spark,
        "o_totalprice > 150000",
        {
            "o_orderstatus": "'U'",
            "o_totalprice": "o_totalprice * CAST(0.9 AS DOUBLE)",
        },
    )
    t = IcebergTable(path)
    return t.to_df(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "iceberg_delete_where_fast",
    """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 7 = 0
    ),
    kept AS (
      SELECT * FROM src
      WHERE NOT (o_orderstatus = 'F'
                 OR (o_orderstatus = 'P' AND o_totalprice < 150000.0))
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM kept GROUP BY o_orderstatus
    """,
)
def iceberg_delete_where_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats/partition-aligned DELETE (``delete_where_fast``) — real
    Iceberg's metadata-delete fast path: ``DELETE WHERE status='F' OR
    (status='P' AND price<150k)`` drops every wholly-matching file —
    here the 'F' partition files; the float range leg stays partial
    because parquet footers carry no NaN counts, so bounds proofs on
    doubles conservatively refuse — as pure tombstones with zero data
    IO, and builds deletion vectors ONLY over the boundary files,
    scanned through ``to_df(file_subset=...)``.  At 100 TB a
    retention delete on an aligned predicate is a driver-side metadata
    commit, not a table scan.  Oracle recomputes the kept rowset
    relationally from the source parquet."""
    import os
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        delete_where_fast,
    )

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 7 = 0")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderstatus").alias("part_status"),
        )
    )
    path = tempfile.mkdtemp(prefix="iceberg_fastdel_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
        [{"name": "o_orderstatus", "transform": "identity", "source": "o_orderstatus"}],
    )
    data_dir = os.path.join(path, "data-0")
    src.write.mode("overwrite").partitionBy("part_status").parquet(data_dir)
    commit_spark_output(
        writer, data_dir, partition_col="o_orderstatus", path_col="part_status"
    )
    delete_where_fast(
        writer,
        spark,
        [
            [("o_orderstatus", "==", "F")],
            [("o_orderstatus", "==", "P"), ("o_totalprice", "<", 150000.0)],
        ],
    )
    t = IcebergTable(path)
    return t.to_df(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "iceberg_write_distribution",
    """
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE) AS sum_price
    FROM orders WHERE o_orderkey % 5 = 0
    GROUP BY o_orderstatus
    """,
)
def iceberg_write_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``write.distribution-mode=hash`` one-call write (``write_df``):
    the source shuffles ONCE on the spec's transformed partition values
    so each partition tuple lands in exactly one task — one data file
    per partition per commit instead of tasks × partitions small files
    (the operational killer of partitioned tables at scale; the file-
    count contract itself is pinned by
    ``test_write_df_distribution_modes``).  The read-back aggregate
    round-trips the full content; oracle hits the source parquet."""
    import tempfile

    from daskberg_spark.iceberg.writer import IcebergWriter, write_df

    src = (
        table(spark, sf_dir, "orders")
        .filter("o_orderkey % 5 = 0")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .repartition(8)
    )
    path = tempfile.mkdtemp(prefix="iceberg_wd_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_orderstatus", "type": "string", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
        [{"name": "o_orderstatus", "transform": "identity", "source": "o_orderstatus"}],
    )
    write_df(writer, src, mode="hash")
    t = IcebergTable(path)
    return t.to_df(spark).groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_price"),
    )


@query(
    "iceberg_bucket_write_prune",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders WHERE o_custkey IN (7, 311)
    """,
)
def iceberg_bucket_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-partitioned DISTRIBUTED write → transform-aware pruned read:
    executors hive-partition orders by the Iceberg murmur3 bucket of
    o_custkey (``spark_partition_value``), the metadata commit lifts the
    bucket ints into spec-keyed partition values, and the planner then
    prunes an equality predicate through bucket[8] — proving write-side
    bucket parity with external spec-compliant readers, not just the
    pure-Python fixture path.  Oracle hits the source parquet."""
    import os
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        spark_partition_value,
    )

    src = table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        spark_partition_value("o_custkey", "bucket[8]").alias("pb"),
    )
    path = tempfile.mkdtemp(prefix="iceberg_bucket_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_custkey", "type": "long", "required": False},
            {"id": 3, "name": "o_totalprice", "type": "double", "required": False},
        ],
        [{"name": "ck_bucket", "transform": "bucket[8]", "source": "o_custkey"}],
    )
    data_dir = os.path.join(path, "data-0")
    src.write.mode("overwrite").partitionBy("pb").parquet(data_dir)
    commit_spark_output(writer, data_dir, partition_col="o_custkey", path_col="pb")
    t = IcebergTable(path)
    total = len(t.plan_files())
    pruned = t.plan_files([("o_custkey", "in", [7, 311])])
    # the whole point: the bucket transform must actually prune file groups
    assert 0 < len(pruned) < total, (len(pruned), total)
    return t.to_df(
        spark,
        filters=[("o_custkey", "in", [7, 311])],
        columns=["o_orderkey", "o_custkey", "o_totalprice"],
    )


@query(
    "iceberg_sorted_write_prune",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_totalprice >= 400000
    """,
)
def iceberg_sorted_write_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sort-order clustering → stats-pruned read: three interleaved
    distributed appends leave every file spanning the full
    o_totalprice range (a range predicate prunes nothing), then
    ``compact_files_spark(sort_by=...)`` range-clusters the rewrite so
    output files cover DISJOINT value ranges, registers the clustering
    as the table's default sort order (spec ``sort-orders`` /
    ``default-sort-order-id``), and the same predicate now skips whole
    files on footer bounds alone.  The file-count assertions prove the
    pruning; the oracle proves the rewrite lost nothing."""
    import os as _os
    import tempfile

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        compact_files_spark,
    )

    src = table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="iceberg_sorted_")
    writer = IcebergWriter(
        path,
        [
            {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
            {"id": 2, "name": "o_totalprice", "type": "double", "required": False},
        ],
    )
    for k in range(3):
        d = _os.path.join(path, f"data-{k}")
        src.filter(F.col("o_orderkey") % 3 == k).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d)
        commit_spark_output(writer, d)
    pred = [("o_totalprice", ">=", 400000.0)]
    t0 = IcebergTable(path)
    before_total = len(t0.plan_files())
    before_pruned = len(t0.plan_files(pred))
    assert before_pruned == before_total  # interleaved: nothing prunes
    sid = compact_files_spark(writer, spark, sort_by=["o_totalprice"], target_partitions=4)
    assert sid is not None
    t = IcebergTable(path)
    assert t.metadata["default-sort-order-id"] > 0  # clustering registered
    total = len(t.plan_files())
    pruned = len(t.plan_files(pred))
    assert 0 < pruned < total, (pruned, total)  # disjoint ranges prune
    return t.to_df(spark, filters=pred)


@query(
    "iceberg_partitions_metadata",
    f"""
    SELECT cat,
           CAST(CAST(day_ts AS DATE) - DATE '1970-01-01' AS INT) AS day_ts_day,
           CAST(qty - qty % 10 AS INT) AS qty_trunc,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE}
    GROUP BY 1, 2, 3
    """,
)
def iceberg_partitions_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg ``partitions`` metadata table (beyond reference): per-
    partition record/file counts computed from manifests alone — ZERO
    data IO — then aggregated over the bucket dimension so the oracle
    can recompute the record counts from row content (murmur3 buckets
    have no SQL twin).  Metadata-claimed counts must equal content-true
    counts exactly, which pins manifest record_count, partition values,
    and delete reconciliation all at once."""
    t = IcebergTable(ensure_partitioned_fixture())
    rows = t.metadata_rows("partitions")
    df = literal_df(
        spark,
        [(r["partition"], r["record_count"]) for r in rows],
        "partition string, record_count long",
    )
    return (
        df.select(
            F.get_json_object("partition", "$.cat").alias("cat"),
            F.get_json_object("partition", "$.day_ts_day")
            .cast("int")
            .alias("day_ts_day"),
            F.get_json_object("partition", "$.qty_trunc")
            .cast("int")
            .alias("qty_trunc"),
            "record_count",
        )
        .groupBy("cat", "day_ts_day", "qty_trunc")
        .agg(F.sum("record_count").cast("long").alias("record_count"))
    )


@query(
    "iceberg_refs_metadata",
    r"""
    WITH meta AS (
      SELECT content
      FROM read_text('/root/repo/.fixtures/refs_table/metadata/v*.metadata.json')
      ORDER BY CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) DESC
      LIMIT 1
    ),
    names AS (
      SELECT unnest(json_keys(content, '$.refs')) AS name, content FROM meta
    )
    SELECT name,
           upper(json_extract_string(content, '$.refs."' || name || '".type'))
             AS type,
           CAST(json_extract(content, '$.refs."' || name || '"."snapshot-id"')
             AS BIGINT) AS snapshot_id,
           CAST(json_extract(content, '$.refs."' || name || '"."max-ref-age-ms"')
             AS BIGINT) AS max_reference_age_in_ms,
           CAST(json_extract(content,
                '$.refs."' || name || '"."min-snapshots-to-keep"')
             AS INT) AS min_snapshots_to_keep,
           CAST(json_extract(content,
                '$.refs."' || name || '"."max-snapshot-age-ms"')
             AS BIGINT) AS max_snapshot_age_in_ms
    FROM names
    """,
)
def iceberg_refs_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.refs`` metadata table (real Iceberg inspect surface;
    beyond-reference — ``ice.py`` has no ref concept): every named
    branch/tag with the spec's three retention knobs, plus the implicit
    ``main`` head.  The oracle re-parses the refs map straight out of
    the newest metadata JSON with DuckDB's JSON functions — our Avro/
    metadata model is not in its loop."""
    from daskberg_spark.iceberg.fixtures import ensure_refs_fixture

    t = IcebergTable(ensure_refs_fixture())
    return t.refs_df(spark)


@query(
    "iceberg_entries_metadata",
    f"""
    SELECT filename AS file_path, CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet('{_part_fixture_files()}', filename=true)
    GROUP BY filename
    HAVING NOT bool_and(cat = 'news' AND CAST(day_ts AS DATE) = DATE '2024-01-01')
    """,
)
def iceberg_entries_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.entries`` metadata table: RAW manifest entries of the
    current snapshot, pre-reconciliation — DELETED tombstones surface
    with status 2 (asserted in tests/test_metadata.py).  The oracle
    reconstructs the live entry set content-only: a file is live iff not
    every row matches the fixture's partition-delete predicate, so
    status codes, inherited snapshot ids, and per-entry record counts
    are all cross-checked against raw parquet."""
    t = IcebergTable(ensure_partitioned_fixture())
    return (
        t.entries_df(spark)
        .filter("status != 2 AND content = 0")
        .select("file_path", "record_count")
    )


@query(
    "iceberg_all_data_files",
    """
    SELECT filename AS file_path, CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet('/root/repo/.fixtures/rollback_table/data/0*.parquet',
                      filename=true)
    GROUP BY filename
    """,
)
def iceberg_all_data_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.all_data_files`` metadata table over the ROLLBACK fixture:
    the rolled-past file (ids 50..59) is absent from the HEAD state but
    still live in a retained snapshot, so it must appear here — the
    exact file a plain ``files`` read would hide.  Oracle re-derives
    per-file row counts by scanning every data file on disk."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.all_data_files_df(spark).select("file_path", "record_count")


@query(
    "iceberg_all_entries",
    r"""
    WITH RECURSIVE meta AS (
      SELECT snapshots
      FROM read_json_auto(
        '/root/repo/.fixtures/rollback_table/metadata/v*.metadata.json',
        filename=true)
      ORDER BY CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT)
        DESC LIMIT 1
    ),
    snaps AS (
      SELECT CAST(s."snapshot-id" AS BIGINT) AS sid,
             CAST(s."parent-snapshot-id" AS BIGINT) AS pid
      FROM (SELECT unnest(snapshots) AS s FROM meta)
    ),
    anc AS (
      SELECT sid AS ref, sid AS anc FROM snaps
      UNION ALL
      SELECT a.ref, s.pid FROM anc a JOIN snaps s ON s.sid = a.anc
      WHERE s.pid IS NOT NULL
    ),
    files AS (
      SELECT filename AS file_path, MIN(id) AS mn,
             CAST(COUNT(*) AS BIGINT) AS record_count
      FROM read_parquet(
        '/root/repo/.fixtures/rollback_table/data/0*.parquet',
        filename=true)
      GROUP BY filename
    ),
    ranked_snaps AS (
      SELECT sid, ROW_NUMBER() OVER (ORDER BY sid) AS rn FROM snaps
    ),
    ranked_files AS (
      SELECT file_path, record_count,
             ROW_NUMBER() OVER (ORDER BY mn) AS rn FROM files
    ),
    adds AS (
      SELECT f.file_path, f.record_count, s.sid AS snapshot_id
      FROM ranked_files f JOIN ranked_snaps s ON s.rn = f.rn
    )
    SELECT a.file_path, a.snapshot_id,
           anc.ref AS reference_snapshot_id, a.record_count
    FROM adds a JOIN anc ON anc.anc = a.snapshot_id
    """,
)
def iceberg_all_entries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.all_entries`` metadata table over the ROLLBACK fixture:
    every (manifest entry, referencing snapshot) pair across ALL valid
    snapshots — the rolled-past file appears exactly once (only its own
    stranded snapshot references it) while the first file appears under
    all three.  The oracle independently reconstructs the reference
    sets from the raw metadata JSON's parent chain (a file is
    referenced by its adding snapshot and every valid descendant —
    append-only history, so nothing un-references) with files mapped to
    adding snapshots by their disk-content id ranges."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return (
        t.all_entries_df(spark)
        .filter("status != 2 AND content = 0")
        .select(
            "file_path", "snapshot_id", "reference_snapshot_id",
            "record_count",
        )
    )


@query("iceberg_all_manifests")
def iceberg_all_manifests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.all_manifests`` metadata table: manifest-list records of
    EVERY valid snapshot keyed by ``reference_snapshot_id``.  Rows-only
    in the driver (manifest lists are Avro — DuckDB cannot re-read them
    independently); the per-manifest file counts and snapshot linkage
    are pinned by ``tests/test_metadata.py`` invariants instead."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.all_manifests_df(spark).select(
        "path", "partition_spec_id", "added_snapshot_id",
        "added_data_files_count", "reference_snapshot_id",
    )


@query(
    "iceberg_metadata_log",
    r"""
    WITH files AS (
      SELECT CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) AS v,
             filename AS file,
             CAST("current-snapshot-id" AS BIGINT) AS cs,
             CAST("current-schema-id" AS INT) AS csi,
             CAST("last-updated-ms" AS BIGINT) AS lu
      FROM read_json_auto(
        '/root/repo/.fixtures/rollback_table/metadata/v*.metadata.json',
        filename=true)
    )
    SELECT CASE WHEN v = (SELECT MAX(v) FROM files) THEN lu
                ELSE 1700000000000 + v END AS timestamp,
           file,
           CASE WHEN cs = -1 THEN NULL ELSE cs END AS latest_snapshot_id,
           csi AS latest_schema_id
    FROM files
    """,
)
def iceberg_metadata_log(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.metadata_log_entries`` metadata table: one row per
    superseded metadata version plus the current one, each with the
    snapshot/schema that version considered current.  The oracle
    re-reads every ``v*.metadata.json`` independently (the writer's
    deterministic log clock is ``1700000000000 + version``; the current
    row carries ``last-updated-ms`` per the spec)."""
    from daskberg_spark.iceberg.fixtures import ensure_rollback_fixture

    t = IcebergTable(ensure_rollback_fixture())
    return t.metadata_log_entries_df(spark)


@query(
    "iceberg_position_deletes",
    """
    SELECT regexp_replace(file_path, '^file:/*', '/') AS file_path,
           CAST(pos AS BIGINT) AS pos
    FROM read_parquet(
      '/root/repo/.fixtures/mor_table/data/pos_del_*/part-*.parquet')
    """,
)
def iceberg_position_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.position_deletes`` metadata table (v2 parquet form): the
    live deleted positions, delete-sized IO — never a table scan.  The
    oracle reads the position-delete parquet directly, so target-path
    normalization and the pos column survive an independent decode."""
    from daskberg_spark.iceberg.fixtures import ensure_mor_fixture
    from daskberg_spark.iceberg.scan import position_deletes_df

    t = IcebergTable(ensure_mor_fixture(spark))
    return position_deletes_df(t, spark).select("file_path", "pos")


@query(
    "iceberg_position_deletes_dv",
    """
    WITH r AS (
      SELECT filename, file_row_number AS pos, id,
             COUNT(*) OVER (PARTITION BY filename) AS n,
             MIN(id) OVER (PARTITION BY filename) AS mn
      FROM read_parquet('/root/repo/.fixtures/dv_table/data/0*.parquet',
                        filename=true, file_row_number=true)
    )
    SELECT filename AS file_path, CAST(pos AS BIGINT) AS pos
    FROM r
    WHERE n > 1 AND (id % 7 = 0 OR (mn = 0 AND pos IN (1, 3)))
    """,
)
def iceberg_position_deletes_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``position_deletes`` over v3 DELETION VECTORS: puffin blobs expand
    through the scan's own gated roaring decode, and the oracle derives
    the expected position set from raw row content alone (predicate
    positions via ``file_row_number`` + the driver-written DV on the
    first file, which the one-DV-per-file merge must have absorbed) —
    an end-to-end independent check of the bitmap encode/merge/decode
    chain."""
    from daskberg_spark.iceberg.fixtures import ensure_dv_fixture
    from daskberg_spark.iceberg.scan import position_deletes_df

    t = IcebergTable(ensure_dv_fixture(spark))
    return position_deletes_df(t, spark).select("file_path", "pos")


@query(
    "iceberg_view_read",
    f"""
    SELECT cat, sym, CAST(COUNT(*) AS BIGINT) AS n
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE}
    GROUP BY cat, sym
    """,
)
def iceberg_view_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg VIEW (view spec v1; beyond-reference): the stored SQL of
    the CURRENT view version resolves late against the catalog — the
    oracle runs the equivalent aggregation directly over raw parquet
    with the fixture's content-derived live predicate, so view metadata,
    version selection, and late binding are all in the checked path."""
    from daskberg_spark.iceberg.fixtures import (
        ensure_view_fixture,
        register_part_live,
    )
    from daskberg_spark.iceberg.views import IcebergView

    path = ensure_view_fixture(spark)
    register_part_live(spark)
    return IcebergView(path).to_df(spark)


@query(
    "iceberg_view_time_travel",
    f"""
    SELECT cat, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(qty) AS BIGINT) AS sum_qty
    FROM read_parquet('{_part_fixture_files()}')
    WHERE {LIVE_WHERE}
    GROUP BY cat
    """,
)
def iceberg_view_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View DEFINITION time travel: after CREATE OR REPLACE, version 1's
    SQL (the by-category rollup) must still resolve exactly — the view
    spec keeps every version in the metadata's ``versions`` list, and
    per spec the old definition reads CURRENT table state (which the
    content-derived oracle reproduces)."""
    from daskberg_spark.iceberg.fixtures import (
        ensure_view_fixture,
        register_part_live,
    )
    from daskberg_spark.iceberg.views import IcebergView

    path = ensure_view_fixture(spark)
    register_part_live(spark)
    v = IcebergView(path)
    v.open_version(1)
    return v.to_df(spark)


@query(
    "iceberg_multiformat_read",
    """
    WITH rows AS (
      SELECT i AS id,
             CASE WHEN i < 40 THEN 'parquet'
                  WHEN i < 80 THEN 'avro'
                  ELSE 'orc' END AS fmt,
             i * 0.5 AS val
      FROM range(0, 120) t(i)
      WHERE i % 10 <> 0
    )
    SELECT fmt,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val) AS DOUBLE) AS sum_val,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM rows
    GROUP BY fmt
    """,
)
def iceberg_multiformat_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-format data files (real Iceberg's PARQUET/AVRO/ORC set; the
    reference is parquet-only — ``/root/reference/README.md:97``): one
    append per format plus a GLOBAL equality delete spanning all three.
    PARQUET and ORC read through Spark's native vectorized readers; AVRO
    decodes executor-side through the from-scratch container reader
    (``scan._python_file_scan``).  The oracle re-derives the expected
    rows from the fixture's content formula — DuckDB reads none of the
    non-parquet files, so content equality is the whole check."""
    from daskberg_spark.iceberg.fixtures import ensure_multiformat_fixture

    t = IcebergTable(ensure_multiformat_fixture())
    return (
        t.to_df(spark)
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("sum_val"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
    )


@query(
    "iceberg_write_formats",
    """
    WITH rows AS (
      SELECT i AS id,
             CASE WHEN i < 100 THEN 'parquet'
                  WHEN i < 200 THEN 'orc'
                  ELSE 'avro' END AS fmt,
             i * 0.5 AS val
      FROM range(0, 300) t(i)
    )
    SELECT fmt,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val) AS DOUBLE) AS sum_val,
           CAST(MIN(id) AS BIGINT) AS min_id,
           CAST(MAX(id) AS BIGINT) AS max_id
    FROM rows
    GROUP BY fmt
    """,
)
def iceberg_write_formats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed multi-format WRITE (``write_df(file_format=...)``;
    beyond the reference, which writes nothing at all): one hash-
    distributed commit per format into one partitioned table — native
    parquet (footer-lifted stats), native ORC with a JVM-side
    distributed stats aggregate (pyarrow exposes no ORC column stats;
    data never crosses into Python), and executor-task AVRO containers
    whose manifest stats are computed in-task by the SAME
    ``rows_bounds`` the driver writer uses.  Reading back through the
    multiformat scan and matching the content formula proves all three
    write→stats→commit→read paths end to end."""
    from daskberg_spark.iceberg.fixtures import ensure_write_formats_fixture

    t = IcebergTable(ensure_write_formats_fixture(spark))
    return (
        t.to_df(spark)
        .groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("sum_val"),
            F.min("id").alias("min_id"),
            F.max("id").alias("max_id"),
        )
    )


@query(
    "iceberg_null_partition_scope",
    """
    WITH rows AS (
      SELECT i AS id,
             CASE i % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE NULL END AS grp,
             i * 0.25 AS val
      FROM range(0, 60) t(i)
      WHERE NOT (i % 3 = 2 AND i % 5 = 0)
    )
    SELECT COALESCE(grp, '<null>') AS part,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(val) AS DOUBLE) AS sum_val
    FROM rows
    GROUP BY COALESCE(grp, '<null>')
    """,
)
def iceberg_null_partition_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equality delete SCOPED to the NULL-valued partition of an
    identity spec over a nullable column — a spec-compliant foreign
    writer's shape (r8 ADVICE, medium).  An all-None partition tuple is
    a GENUINE scope, not a global delete: ids divisible by 5 die only
    in the NULL partition; the same ids in partitions 'a'/'b' survive.
    The oracle re-derives the live set from the fixture's content
    formula."""
    from daskberg_spark.iceberg.fixtures import ensure_null_scope_fixture

    t = IcebergTable(ensure_null_scope_fixture())
    return (
        t.to_df(spark)
        .groupBy(F.coalesce(F.col("grp"), F.lit("<null>")).alias("part"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("val").cast("double").alias("sum_val"),
        )
    )


@query(
    "iceberg_all_files",
    """
    SELECT CASE WHEN filename LIKE '%pos-delete-%' THEN 1
                WHEN filename LIKE '%eq-delete-%' THEN 2
                ELSE 0 END AS content,
           filename AS file_path,
           CAST(COUNT(*) AS BIGINT) AS record_count
    FROM read_parquet(
        ['/root/repo/.fixtures/deletes_table/data/0*.parquet',
         '/root/repo/.fixtures/deletes_table/data/pos-delete-*.parquet',
         '/root/repo/.fixtures/deletes_table/data/eq-delete-*.parquet'],
        filename=true, union_by_name=true)
    GROUP BY filename
    """,
)
def iceberg_all_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``table.all_files`` metadata table (real Iceberg's third all-tier
    listing): the union of all_data_files and all_delete_files — every
    file any valid snapshot references, data and delete flavors in one
    listing.  The oracle re-derives record counts by reading the raw
    parquet bytes of every file in the fixture's data dir."""
    from daskberg_spark.iceberg.fixtures import ensure_deletes_fixture

    t = IcebergTable(ensure_deletes_fixture())
    return t.all_files_df(spark).select(
        "content", "file_path", "record_count"
    )


@query(
    "iceberg_incremental_dedup",
    """
    WITH prior AS (
      SELECT DISTINCT 't' || CAST(i % 20 AS VARCHAR) AS text
      FROM range(0, 30) t(i)
    ),
    newdocs AS (
      SELECT i AS doc_id, 't' || CAST(i % 35 AS VARCHAR) AS text
      FROM range(30, 50) t(i)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN p.text IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_vs_prior,
           CAST(SUM(CASE WHEN p.text IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(MIN(CASE WHEN p.text IS NULL THEN n.doc_id END)
                AS BIGINT) AS first_kept_id
    FROM newdocs n LEFT JOIN prior p ON n.text = p.text
    """,
)
def iceberg_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup — the composition a 100 TB ingest
    pipeline runs every commit: the snapshot-delta scan (``diff_df``)
    yields ONLY the newly-added documents, which anti-join on content
    against the PRIOR snapshot's corpus; already-seen text is dropped,
    novel text is kept.  The whole check reads the new commit's files
    plus one pass of the prior corpus — never the table twice — and at
    scale the prior side is a bucketed hash index, not a rescan.  The
    oracle replays the same set algebra from the fixture's content
    formulas."""
    from daskberg_spark.iceberg.fixtures import ensure_docs_inc_fixture

    t = IcebergTable(ensure_docs_inc_fixture())
    head = t.current_snapshot["snapshot-id"]
    new_docs = t.diff_df(spark, from_rel=-1)
    t.open_snapshot(rel=-1)
    prior = t.to_df(spark).select("text").distinct()
    t.open_snapshot(snapshot_id=head)  # restore the caller-visible head
    joined = new_docs.join(
        prior.withColumnRenamed("text", "prior_text"),
        new_docs["text"] == F.col("prior_text"),
        "left",
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(F.col("prior_text").isNotNull().cast("int"))
        .cast("long")
        .alias("n_dup_vs_prior"),
        F.sum(F.col("prior_text").isNull().cast("int"))
        .cast("long")
        .alias("n_kept"),
        F.min(
            F.when(F.col("prior_text").isNull(), F.col("doc_id"))
        ).alias("first_kept_id"),
    )


@query(
    "iceberg_sql_metadata_tables",
    rf"""
    WITH meta AS (
      SELECT snapshots,
             CAST(regexp_extract(filename, 'v(\d+)\.metadata', 1) AS INT) AS v
      FROM read_json_auto(
        '{FIXTURE_DIR}/metadata/v*.metadata.json',
        filename=true)
    ), cur AS (SELECT snapshots FROM meta ORDER BY v DESC LIMIT 1),
    snaps AS (SELECT unnest(snapshots) AS s FROM cur)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_snapshots,
           CAST(SUM(CASE WHEN s.summary.operation = 'append'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_appends,
           CAST(MAX(s."snapshot-id") AS BIGINT) AS max_snapshot_id
    FROM snaps
    """,
)
def iceberg_sql_metadata_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata tables on the SQL surface — real Iceberg's
    ``tbl$suffix`` idiom (spelled ``name__suffix``; ``$`` is not a
    legal Spark temp-view character): ``Catalog.register_metadata_views``
    registers every ``*_df`` metadata table as a temp view, and this
    query aggregates ``part_table_meta__snapshots`` through
    ``spark.sql``.  The oracle re-parses the same snapshot list from
    the raw metadata JSON with DuckDB's JSON engine."""
    from daskberg_spark.iceberg.catalog import Catalog

    cat = Catalog(spark)
    cat.register_path("part_table_meta", ensure_partitioned_fixture())
    cat.register_metadata_views("part_table_meta")
    return spark.sql(
        """
        SELECT CAST(COUNT(*) AS BIGINT) AS n_snapshots,
               CAST(SUM(CASE WHEN operation = 'append' THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_appends,
               CAST(MAX(snapshot_id) AS BIGINT) AS max_snapshot_id
        FROM part_table_meta__snapshots
        """
    )


@query(
    "iceberg_variant_read",
    """
    SELECT 't' || CAST(i % 3 AS VARCHAR) AS tag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i % 7) AS BIGINT) AS sum_a
    FROM range(0, 50) t(i)
    GROUP BY tag
    """,
)
def iceberg_variant_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """v3 ``variant`` column read: the Iceberg type maps to Spark 4's
    native VariantType (parquet metadata/value binary pair), scanned
    through the normal schema-pinned read and queried with
    ``variant_get``.  Data files come from the cluster write path
    (``commit_spark_output``); the driver-side writer refuses variant
    loudly (pyarrow has no equivalent).  The oracle re-derives the
    extracted values from the fixture's payload formula."""
    from daskberg_spark.iceberg.fixtures import ensure_variant_fixture

    t = IcebergTable(ensure_variant_fixture(spark))
    return (
        t.to_df(spark)
        .selectExpr(
            "variant_get(payload, '$.tag', 'string') AS tag",
            "variant_get(payload, '$.a', 'long') AS a",
        )
        .groupBy("tag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("a").alias("sum_a"),
        )
    )


@query(
    "iceberg_legacy_eq_migration",
    """
    WITH base AS (
      SELECT i AS id, SUBSTR('abc', (i % 3) + 1, 1) AS cat,
             CAST(i AS DOUBLE) AS val
      FROM range(0, 60) t(i)
      UNION ALL
      SELECT 0, 'a', -1.0
    )
    SELECT cat,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(id) AS BIGINT) AS sum_id,
           CAST(SUM(val) AS DOUBLE) AS sum_val
    FROM base
    WHERE (id % 7 <> 0 OR val = -1.0)
    GROUP BY cat
    """,
)
def iceberg_legacy_eq_migration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read of a table MIGRATED with ``migrate_legacy_eq_deletes``: the
    pre-scoping global equality delete (all-None tuple under a
    partitioned spec + the legacy property) now lives on an
    unpartitioned spec — globally applied per spec with no property and
    no ambiguity warning, and the post-delete re-insert of id 0 stays
    alive (explicit sequence numbers survive the re-registration).  The
    oracle re-derives the live set from the fixture's content formula
    (``fixtures.LEGACY_EQ_LIVE_WHERE``)."""
    from daskberg_spark.iceberg.fixtures import ensure_legacy_eq_fixture

    t = IcebergTable(ensure_legacy_eq_fixture())
    return (
        t.to_df(spark)
        .groupBy("cat")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("id").alias("sum_id"),
            F.sum("val").cast("double").alias("sum_val"),
        )
    )


@query(
    "iceberg_variant_write",
    """
    WITH base AS (
      SELECT i AS id,
             CASE WHEN i = 31 THEN NULL ELSE i % 7 END AS a,
             CASE WHEN i = 31 THEN NULL ELSE 't' || CAST(i % 3 AS VARCHAR) END AS tag
      FROM range(0, 50) t(i)
    )
    SELECT tag,
           CAST(COUNT(a) AS BIGINT) AS n,
           CAST(SUM(a) AS BIGINT) AS sum_a
    FROM base GROUP BY tag
    """,
)
def iceberg_variant_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DRIVER-SIDE v3 variant write→read round trip (r10): python dict
    payloads encoded with the from-scratch Variant binary encoder
    (``variant.py``, Parquet VariantEncoding.md), stored as the spec's
    struct<metadata, value> pair, read back through Spark's native
    VariantType + ``variant_get``.  The oracle re-derives every
    extracted value from the fixture's payload formula (id 31 carries a
    NULL payload → NULL group)."""
    from daskberg_spark.iceberg.fixtures import ensure_variant_write_fixture

    t = IcebergTable(ensure_variant_write_fixture())
    return (
        t.to_df(spark, columns=["payload"])
        .selectExpr(
            "variant_get(payload, '$.a', 'long') AS a",
            "variant_get(payload, '$.tag', 'string') AS tag",
        )
        .groupBy("tag")
        .agg(
            F.count("a").alias("n"),
            F.sum("a").alias("sum_a"),
        )
    )


@query(
    "iceberg_variant_shredded_prune",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(i) AS BIGINT) AS sum_id,
           CAST(SUM(100 + i % 7) AS BIGINT) AS sum_a
    FROM range(50, 100) t(i)
    """,
)
def iceberg_variant_shredded_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shredded-variant MANIFEST pruning (r10 footer pruning, lifted to
    manifests in r11): a ``$.a >= 100`` predicate over a two-file
    shredded table reads ONE file, and plans it with ZERO plan-time
    parquet IO — commit lifted each shredded subfield's file-level
    bounds into the engine-extension ``variant_bounds`` manifest field,
    so the prune is a manifest lookup like any other column (files
    without lifted bounds still fall back to the r10 footer path).  The
    exact ``variant_get`` residual keeps results stats-independent.
    Both the file count and the footer-read count are hard-asserted so
    the driver gate catches a regression of either layer."""
    from daskberg_spark.iceberg.fixtures import ensure_variant_shred_fixture
    from daskberg_spark.iceberg.scan import to_df

    t = IcebergTable(ensure_variant_shred_fixture(spark))
    df = to_df(
        t, spark, variant_filters=[("payload", "$.a", ">=", 100)]
    ).selectExpr("id", "variant_get(payload, '$.a', 'long') AS a")
    assert t.last_scan["files_scanned"] == 1, "variant prune regressed"
    assert t.last_scan["variant_footer_reads"] == 0, (
        "manifest-lifted variant bounds regressed to footer reads"
    )
    return df.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("id").alias("sum_id"),
        F.sum("a").alias("sum_a"),
    )


@query(
    "iceberg_agg_pushdown",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(l_returnflag) AS BIGINT) AS n_rf,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship,
           CAST(MIN((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1)
                AS INTEGER) AS min_month,
           CAST(MAX((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1)
                AS INTEGER) AS max_month
    FROM lineitem
    """,
)
def iceberg_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregate pushdown (r10, ``iceberg/agg.py``):
    COUNT(*)/COUNT(col)/MIN/MAX over the 83-file lineitem table answered
    ENTIRELY from manifest statistics — the query hard-asserts zero data
    files were read, so the driver gate catches any soundness-gate
    regression that silently turns this into a scan.  On a 100 TB table
    this is the difference between a manifest read and a full pass.
    Real Iceberg-Spark refuses this pushdown whenever deletes exist; the
    per-file hybrid here keeps it exact under DVs too (pytest
    ``test_aggpush``)."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_pushdown)
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    out = t.agg_pushdown(
        spark,
        [
            ("count", "*", "n"),
            ("count", "l_returnflag", "n_rf"),
            ("min", "l_shipdate", "min_ship"),
            ("max", "l_shipdate", "max_ship"),
            ("min", "l_shipmonth", "min_month"),
            ("max", "l_shipmonth", "max_month"),
        ],
    )
    assert t.last_agg_pushdown["files_scanned"] == 0, "agg pushdown regressed"
    return out


@query(
    "iceberg_agg_pushdown_hybrid",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(l_returnflag) AS BIGINT) AS n_rf,
           MAX(l_shipdate) AS max_ship,
           CAST(MIN((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1)
                AS INTEGER) AS min_month
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-03-10 00:00:00'
    """,
)
def iceberg_agg_pushdown_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered hybrid aggregate pushdown (r10): files whose stats PROVE
    every row matches ``l_shipdate >= 1998-03-10`` (whole months, via
    ``planner.file_all_rows_match``) contribute record counts and bounds
    from metadata; only the one boundary file (March 1998) is scanned,
    and the partials combine exactly.  Hard-asserts the single-file scan
    — the filtered-aggregate scan cost at 100 TB is O(filter boundary),
    not O(matching data)."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_pushdown)
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    out = t.agg_pushdown(
        spark,
        [
            ("count", "*", "n"),
            ("count", "l_returnflag", "n_rf"),
            ("max", "l_shipdate", "max_ship"),
            ("min", "l_shipmonth", "min_month"),
        ],
        filters=[("l_shipdate", ">=", "1998-03-10 00:00:00")],
    )
    rep = t.last_agg_pushdown
    assert rep["files_scanned"] == 1, f"boundary-only scan regressed: {rep}"
    return out


@query(
    "iceberg_bloom_index_prune",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship
    FROM lineitem
    WHERE l_orderkey = (
        SELECT MAX(l_orderkey) FROM lineitem
        WHERE (YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1 = (
            SELECT (MIN((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1)
                  + MAX((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1))
                   // 2
            FROM lineitem))
    """,
)
def iceberg_bloom_index_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-level Bloom index (r10, ``iceberg/bloomindex.py``): a point
    lookup on a MID-RANGE ``l_orderkey`` — a value inside every month
    file's min/max band, so bounds prune NOTHING (measured 83/83 files
    at sf0.1) — reads only the files whose Puffin-persisted per-file
    Bloom filter admits the key (the months the order's lineitems
    actually shipped: 7/83 measured).  The probe re-computes Spark's
    ``xxhash64`` bit-exactly on the driver (``xxhash.py``); the lookup
    key derives from metadata-only aggregate pushdowns.  Hard-asserts
    the pruning so the driver gate catches index or hash regressions."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_pushdown)
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_bloom_iceberg

    t = IcebergTable(ensure_lineitem_bloom_iceberg(spark, sf_dir))
    # key derivation is METADATA-ONLY: min/max month from bounds, then
    # the mid month's max orderkey from that one partition's bounds —
    # the earlier shape (max key ≤ global-max/2) whole-matched nothing
    # and silently scanned all 83 files just to pick the key
    mm = t.agg_pushdown(
        spark, [("min", "l_shipmonth", "mn"), ("max", "l_shipmonth", "mx")]
    ).first()
    mid_month = (int(mm.mn) + int(mm.mx)) // 2
    key = int(
        t.agg_pushdown(
            spark,
            [("max", "l_orderkey", "m")],
            filters=[("l_shipmonth", "==", mid_month)],
        ).first().m
    )
    assert t.last_agg_pushdown["files_scanned"] == 0, "key derivation scanned"
    df = t.to_df(spark, filters=[("l_orderkey", "==", key)])
    scan = t.last_scan
    assert 0 < scan["files_scanned"] <= 8, f"bloom prune regressed: {scan}"
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(25,6)"))
        .cast("double")
        .alias("sum_qty"),
        F.min("l_shipdate").alias("min_ship"),
        F.max("l_shipdate").alias("max_ship"),
    )


@query(
    "iceberg_agg_pushdown_groupby",
    """
    SELECT CAST((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1
                AS INTEGER) AS l_shipmonth,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(l_returnflag) AS BIGINT) AS n_rf,
           MIN(l_shipdate) AS min_ship,
           MAX(l_shipdate) AS max_ship
    FROM lineitem
    GROUP BY 1
    """,
)
def iceberg_agg_pushdown_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED metadata-only aggregate pushdown (r10): per-month row
    counts and shipdate ranges over the identity-partitioned lineitem
    table — every row of a file shares its partition value, so per-file
    stats ARE per-group stats and the whole 83-group answer is a
    manifest read (hard-asserted ZERO data files).  The "rows per day"
    dashboard query on a 100 TB table."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_auto)
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_iceberg

    t = IcebergTable(ensure_lineitem_iceberg(spark, sf_dir))
    # r12: through the agg_auto ladder — no rollup is registered on
    # this table, so the router must land on the metadata pushdown rung
    out = t.agg_auto(
        spark,
        [
            ("count", "*", "n"),
            ("count", "l_returnflag", "n_rf"),
            ("min", "l_shipdate", "min_ship"),
            ("max", "l_shipdate", "max_ship"),
        ],
        group_by=["l_shipmonth"],
    )
    assert t.last_agg_route == "pushdown", t.last_agg_route
    assert t.last_agg_pushdown["files_scanned"] == 0, "grouped pushdown regressed"
    return out


@query(
    "iceberg_agg_pushdown_sum",
    """
    SELECT CAST((YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1
                AS INTEGER) AS l_shipmonth,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
           CAST(COUNT(l_orderkey) AS BIGINT) AS n_ok,
           CAST(SUM(l_orderkey) AS DOUBLE) / COUNT(l_orderkey) AS avg_ok
    FROM lineitem
    GROUP BY 1
    """,
)
def iceberg_agg_pushdown_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUM/AVG aggregate pushdown from per-file sum blobs (r11,
    ``iceberg/sumstats.py``): per-month SUM + COUNT + AVG over the
    83-file lineitem table answered ENTIRELY from statistics — manifest
    counts plus the ``daskberg-colsum-v1`` Puffin blob's exact per-file
    sums (per-file sums ARE per-group sums under identity
    partitioning).  Hard-asserts ZERO data files read.  Iceberg
    manifests carry no sums, so without the blob this dashboard query
    is a full scan on a 100 TB table; deletes/filters/missing coverage
    all degrade per-file to the one residual scan (pytest
    ``test_sumstats``), never to a wrong answer.  AVG derives as
    sum/count in identical IEEE expressions on both engines — exact
    integer sums make the division bit-deterministic."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_auto)
    from daskberg_spark.iceberg.fixtures import ensure_lineitem_sum_iceberg

    t = IcebergTable(ensure_lineitem_sum_iceberg(spark, sf_dir))
    # r12: through the agg_auto ladder — the pushdown rung must answer
    out = t.agg_auto(
        spark,
        [("sum", "l_orderkey", "sum_ok"), ("count", "l_orderkey", "n_ok")],
        group_by=["l_shipmonth"],
    )
    assert t.last_agg_route == "pushdown", t.last_agg_route
    assert t.last_agg_pushdown["files_scanned"] == 0, "sum pushdown regressed"
    return out.withColumn(
        "avg_ok", F.col("sum_ok").cast("double") / F.col("n_ok")
    )


@query(
    "iceberg_rollup_answer",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
           CAST(COUNT(l_orderkey) AS BIGINT) AS n_ok
    FROM lineitem
    WHERE (YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1
          BETWEEN 300 AND 305
    GROUP BY l_returnflag
    """,
)
def iceberg_rollup_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view aggregate rewrite (r11 ``rollup.agg_via_
    rollup``, dispatched through the r12-default ``agg.agg_auto``
    ladder — route hard-asserted): COUNT/SUM grouped by the
    NON-partition ``l_returnflag``
    — a shape per-file statistics can never split, so ``agg_pushdown``
    would scan — answers from the registered FRESH rollup keyed on
    (flag, month) by re-aggregation (COUNT(*) = SUM(n), SUM = SUM of
    sums), at O(rollup groups) cost with ZERO source data IO
    (hard-asserted).  Staleness is a correctness gate, not a knob: a
    rollup whose watermark isn't the source's current snapshot is
    never used.  The oracle recomputes the same aggregate from the raw
    rows."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches .agg_auto)
    from daskberg_spark.iceberg.fixtures import ensure_rollup_answer_fixture

    src = IcebergTable(ensure_rollup_answer_fixture(spark, sf_dir))
    # r12: through the agg_auto ladder — the registered fresh rollup
    # must win the dispatch (top rung), never the pushdown or the scan
    out = src.agg_auto(
        spark,
        [
            ("count", "*", "n"),
            ("sum", "l_orderkey", "sum_ok"),
            ("count", "l_orderkey", "n_ok"),
        ],
        group_by=["l_returnflag"],
    )
    assert src.last_agg_route == "rollup", src.last_agg_route
    assert src.last_scan["files_scanned"] == 0, "rollup answer touched source"
    return out.select(
        "l_returnflag",
        "n",
        F.col("sum_ok").cast("long").alias("sum_ok"),
        "n_ok",
    )


@query(
    "iceberg_join_rollup",
    """
    WITH cust2 AS (
        SELECT c_custkey,
               CASE WHEN c_custkey = (SELECT MIN(c_custkey) FROM customer)
                    THEN 'UPDATED' ELSE c_mktsegment END AS c_mktsegment
        FROM customer
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS sum_ok
    FROM orders JOIN cust2 ON o_custkey = c_custkey
    WHERE o_orderkey % 5 IN (0, 1) AND NOT (o_orderkey % 35 = 0)
    GROUP BY c_mktsegment
    """,
)
def iceberg_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained join rollup (r11+r12,
    ``rollup.create_join_rollup``): "orders by market segment" where
    the segment lives on the CUSTOMER dim — materialized once, then a
    fact append AND a row-level fact DELETE refresh through
    ``ΔF ⋈ D_new``, then an SCD DIM UPDATE (one customer's segment
    re-attributed) refreshes through the r12 ``F_old ⋈ ΔD`` leg: the
    base-snapshot fact read prunes on ``o_custkey IN (changed keys)``,
    so the dim window reads ≤2 fact files (hard-asserted), never the
    table.  At 100 TB this is the nightly star-schema dashboard
    refresh costing O(yesterday's commits + affected keys), not
    O(history) — and a slowly-changing dimension no longer forces the
    rebuild r11 pinned."""
    import tempfile

    from daskberg_spark.iceberg.rollup import (
        create_join_rollup,
        refresh_rollup,
    )
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_spark,
        write_df,
    )
    from daskberg_spark.operators.benchphases import phase

    with phase("iceberg_join_rollup", "build"):
        orders = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey"
        )
        fact_w = IcebergWriter(
            tempfile.mkdtemp(prefix="iceberg_jru_fact_"),
            [
                {"id": 1, "name": "o_orderkey", "type": "long", "required": False},
                {"id": 2, "name": "o_custkey", "type": "long", "required": False},
            ],
        )
        cust = table(spark, sf_dir, "customer").select(
            "c_custkey", "c_mktsegment"
        )
        dim_w = IcebergWriter(
            tempfile.mkdtemp(prefix="iceberg_jru_dim_"),
            [
                {"id": 1, "name": "c_custkey", "type": "long", "required": False},
                {"id": 2, "name": "c_mktsegment", "type": "string", "required": False},
            ],
        )
        # num_tasks=1 on BOTH writes: the fact gets one file per commit
        # at every sf, so the refresh's hard-asserted delta-plan bound
        # (new file + delete-changed file's two sides = 3) is scale-
        # independent; the dim is ~1% of the fact and broadcast on every
        # join leg — without the pin its tiny parquet scan arrives as 32
        # forced splits (files.minPartitionNum) and mode="none" writes
        # one near-empty file per split that EVERY subsequent _join_dim
        # broadcast build re-opens (guide §6 small-files tax).  The two
        # initial writes land in DIFFERENT tables, so they overlap in a
        # thread pool (guide §2.6) — the dim's write back-fills the
        # fact write's task tail.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_fact = pool.submit(
                write_df,
                fact_w,
                orders.where("o_orderkey % 5 = 0"),
                mode="none",
                num_tasks=1,
            )
            f_dim = pool.submit(
                write_df, dim_w, cust, mode="none", num_tasks=1
            )
            f_fact.result()
            f_dim.result()
        # r16, guide §2.6: the initial rollup materialization and the
        # fact table's NEXT two commits (append + MOR delete) are
        # independent given a PINNED base snapshot — IcebergTable
        # caches its metadata once loaded, data/manifest files are
        # immutable, and create_join_rollup reads only the pinned
        # object, so the rollup's watermark (and therefore refresh 1's
        # changelog window: append file + delete delta) is
        # byte-identical to the sequential schedule.
        fact_t = IcebergTable(fact_w.path)
        fact_t.current_snapshot  # load + pin the base metadata
        dim_t = IcebergTable(dim_w.path)
        dim_t.current_snapshot

        def _advance_fact():
            write_df(
                fact_w,
                orders.where("o_orderkey % 5 = 1"),
                mode="none",
                num_tasks=1,
            )
            delete_where_spark(fact_w, spark, "o_orderkey % 35 = 0")

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_create = pool.submit(
                create_join_rollup,
                spark,
                fact_t,
                dim_t,
                tempfile.mkdtemp(prefix="iceberg_jru_tab_"),
                "o_custkey",
                "c_custkey",
                ["c_mktsegment"],
                ["o_orderkey"],
            )
            f_adv = pool.submit(_advance_fact)
            rollup_w = f_create.result()
            f_adv.result()
    with phase("iceberg_join_rollup", "refresh"):
        report = refresh_rollup(spark, rollup_w)
    assert report["mode"] == "incremental", report
    assert report["source_files_read"] <= 3, (
        f"join-rollup refresh read {report['source_files_read']} fact files"
    )
    # SCD dim update: the lowest customer moves to a brand-new segment
    with phase("iceberg_join_rollup", "build"):
        k = cust.agg(F.min("c_custkey")).collect()[0][0]
        dim_w.delete_rows_equality([{"c_custkey": int(k)}])
        dim_w.append([{"c_custkey": int(k), "c_mktsegment": "UPDATED"}])
    with phase("iceberg_join_rollup", "refresh"):
        report = refresh_rollup(spark, rollup_w)
    assert report["mode"] == "incremental", report
    assert report["dim_changed_keys"] == 1, report
    assert report["source_files_read"] <= 2, (
        f"dim-update refresh read {report['source_files_read']} fact files"
    )
    out = IcebergTable(rollup_w.path).to_df(spark)
    return out.select(
        "c_mktsegment",
        F.col("n").cast("long").alias("n"),
        F.col("sum_o_orderkey").cast("long").alias("sum_ok"),
    )


@query(
    "iceberg_rollup_incremental",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS sum_ok,
           CAST(SUM(l_orderkey) AS DOUBLE) / COUNT(l_orderkey) AS avg_ok
    FROM lineitem
    WHERE (YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1
          BETWEEN 300 AND 305
      AND NOT (l_returnflag = 'R'
               AND (YEAR(l_shipdate) - 1970) * 12 + MONTH(l_shipdate) - 1
                   = 305)
    GROUP BY l_returnflag
    """,
)
def iceberg_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained materialized rollup (r11,
    ``iceberg/rollup.py``): the full lifecycle — materialize a per-flag
    COUNT/SUM rollup over five months of lineitem, append a sixth
    month, row-level-DELETE one flag of it (MOR position deletes), then
    ``refresh_rollup`` — which reads ONLY the source's changelog delta
    (hard-asserted ≤3 of the 6+ live files: the appended file, the
    delete's target, and the base side), merges signed per-group deltas
    into the rollup, and drops nothing it shouldn't.  At 100 TB this is
    the difference between a dashboard refresh that costs O(commit
    delta) and one that re-aggregates the table.  The oracle recomputes
    the final state relationally; AVG derives as sum/count in identical
    IEEE expressions on both engines."""
    import tempfile

    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_spark,
        write_df,
    )

    from daskberg_spark.operators.benchphases import phase

    with phase("iceberg_rollup_incremental", "build"):
        month = (
            (F.year("l_shipdate") - F.lit(1970)) * 12 + F.month("l_shipdate") - 1
        ).cast("int")
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_returnflag",
            month.alias("l_shipmonth"),
        )
        src_path = tempfile.mkdtemp(prefix="iceberg_rollup_src_")
        writer = IcebergWriter(
            src_path,
            [
                {"id": 1, "name": "l_orderkey", "type": "long", "required": False},
                {"id": 2, "name": "l_returnflag", "type": "string", "required": False},
                {"id": 3, "name": "l_shipmonth", "type": "int", "required": False},
            ],
            [{"name": "l_shipmonth", "transform": "identity", "source": "l_shipmonth"}],
        )
        write_df(
            writer, li.where("l_shipmonth between 300 and 304"), mode="hash"
        )
        # r16, guide §2.6: materializing the rollup from the PINNED
        # five-month snapshot and committing the sixth month (append +
        # MOR delete) are independent — the table object caches its
        # metadata and data/manifest files are immutable, so the
        # watermark and refresh window match the sequential schedule
        # exactly while the two legs' jobs back-fill each other's tails.
        from concurrent.futures import ThreadPoolExecutor

        src = IcebergTable(src_path)
        src.current_snapshot  # load + pin the base metadata

        def _advance_source():
            write_df(writer, li.where("l_shipmonth = 305"), mode="hash")
            delete_where_spark(
                writer, spark, "l_returnflag = 'R' AND l_shipmonth = 305"
            )

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_create = pool.submit(
                create_rollup,
                spark,
                src,
                tempfile.mkdtemp(prefix="iceberg_rollup_tab_"),
                ["l_returnflag"],
                ["l_orderkey"],
            )
            f_adv = pool.submit(_advance_source)
            rollup_writer = f_create.result()
            f_adv.result()
    with phase("iceberg_rollup_incremental", "refresh"):
        report = refresh_rollup(spark, rollup_writer)
    assert report["mode"] == "incremental", report
    assert report["source_files_read"] <= 3, (
        f"rollup refresh read {report['source_files_read']} source files "
        "— the changelog delta plan regressed"
    )
    out = IcebergTable(rollup_writer.path).to_df(spark)
    return out.select(
        "l_returnflag",
        F.col("n").cast("long").alias("n"),
        F.col("sum_l_orderkey").cast("long").alias("sum_ok"),
        (
            F.col("sum_l_orderkey").cast("double")
            / F.col("nn_l_orderkey")
        ).alias("avg_ok"),
    )


from daskberg_spark.operators.registry import dsum, sql_dsum  # noqa: E402


@query(
    "q9_cbo_star",
    f"""
    SELECT n_name AS nation,
           CAST(year(o_orderdate) AS BIGINT) AS o_year,
           {sql_dsum('l_extendedprice * (1 - l_discount) - 0.01 * p_retailprice * l_quantity', 'profit')}
    FROM lineitem
    JOIN part ON p_partkey = l_partkey AND p_retailprice < 920.0
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders ON o_orderkey = l_orderkey
    JOIN nation ON n_nationkey = s_nationkey
    GROUP BY 1, 2
    """,
)
def q9_cbo_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape planned END-TO-END by this engine's cost-based
    optimizer (r10 verdict item 2): the lineitem fact and the
    part/supplier⊳nation/orders dimensions are this engine's OWN
    Iceberg tables carrying theta NDV statistics, and ``cbo_join``
    orders the dims by the containment growth factor (the filtered part
    dim joins FIRST — 20% selectivity against a 1.0-growth supplier and
    orders) and broadcast-hints every metadata-small dim — decisions
    Spark's CBO cannot make for assembled scans and AQE can only make
    after a first shuffle.  Inner equi-joins commute, so the DuckDB
    oracle recomputes the identical result relationally from the
    ORIGINAL sf tables.  The chosen order and broadcasts are asserted by
    the plan contract (tools/audit_plans.py) and tests/test_cbo.py."""
    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.fixtures import ensure_tpch_star_iceberg

    paths = ensure_tpch_star_iceberg(spark, sf_dir)
    fact = IcebergTable(paths["lineitem"])
    out = cbo_join(
        spark,
        fact,
        [
            JoinDim(
                IcebergTable(paths["part"]),
                "l_partkey",
                "p_partkey",
                filters=[("p_retailprice", "<", 920.0)],
                name="part",
            ),
            JoinDim(
                IcebergTable(paths["supplier"]), "l_suppkey", "s_suppkey",
                name="supplier",
            ),
            JoinDim(
                IcebergTable(paths["orders"]), "l_orderkey", "o_orderkey",
                name="orders",
            ),
        ],
    )
    profit = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.01 * F.col("p_retailprice") * F.col("l_quantity")
    )
    return out.groupBy(
        F.col("n_name").alias("nation"),
        F.year("o_orderdate").cast("long").alias("o_year"),
    ).agg(dsum(profit, "profit"))


@query(
    "iceberg_txn_two_tables",
    """
    WITH a AS (
      SELECT i AS id,
             'g' || CAST(i % 4 AS VARCHAR) AS grp,
             CAST(i AS DOUBLE) * 0.25 AS amount
      FROM range(0, 100) t(i)
    ),
    b AS (
      SELECT 'g' || CAST(g AS VARCHAR) AS grp,
             CAST(g + 1 AS DOUBLE) AS weight
      FROM range(0, 4) t(g)
    )
    SELECT a.grp AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(a.amount * b.weight AS DECIMAL(25,6))) AS DOUBLE)
             AS total
    FROM a JOIN b ON a.grp = b.grp
    GROUP BY 1
    """,
)
def iceberg_txn_two_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table TRANSACTION read (r11; the local analogue of REST
    ``commit_transaction``): the fact and dim were committed in ONE
    two-phase filesystem ``Transaction`` (metadata staged, version
    hints flipped together — ``writer.Transaction``), so this join over
    both proves the all-or-nothing publication end to end.  The oracle
    re-derives the join from the fixture's content formula; a pytest
    proves both-or-neither visibility under an injected mid-transaction
    failure (tests/test_transaction.py)."""
    from daskberg_spark.iceberg.fixtures import ensure_txn_fixture

    paths = ensure_txn_fixture(spark)
    fact = IcebergTable(paths["fact"]).to_df(spark)
    dim = IcebergTable(paths["dim"]).to_df(spark)
    return (
        fact.join(F.broadcast(dim), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                (F.col("amount") * F.col("weight")).cast("decimal(25,6)")
            )
            .cast("double")
            .alias("total"),
        )
    )


@query(
    "iceberg_token_search",
    """
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM documents
    WHERE list_contains(regexp_split_to_array(lower(text), '\\s+'), 'dup')
    GROUP BY lang
    """,
)
def iceberg_token_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword search through the token Bloom index (r11,
    ``bloomindex.write_token_blooms``): the corpus is Iceberg-sharded
    by (lang, source) — a crawl corpus's natural layout — and each
    file carries a Puffin Bloom filter over its lowercased whitespace
    TOKENS.  Searching documents mentioning 'dup' prunes every shard
    whose vocabulary provably lacks the word at PLAN time (hard-asserted
    below), then re-applies the exact tokenized ``array_contains``
    residual — at 100 TB a keyword search reads only the shards where
    the word occurs instead of the whole corpus.  Value blooms can't
    answer this: the indexed unit there is the entire document string."""
    from daskberg_spark.iceberg.fixtures import ensure_documents_token_iceberg

    t = IcebergTable(ensure_documents_token_iceberg(spark, sf_dir))
    df = t.to_df(
        spark,
        token_filters=[("text", "dup")],
        columns=["doc_id", "lang", "n_chars"],
    )
    scan = t.last_scan
    assert scan["files_scanned"] < scan["files_live"], (
        f"token bloom prune regressed: {scan['files_scanned']} of "
        f"{scan['files_live']} files scanned"
    )
    return df.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.min("doc_id").alias("first_doc"),
    )


@query(
    "iceberg_cbo_range_join",
    """
    SELECT a.aname AS aname,
           b.bname AS bname,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f.amount) AS DOUBLE) AS amt
    FROM read_parquet('/root/repo/.fixtures/cbo_range/fact/data/*.parquet') f
    JOIN read_parquet('/root/repo/.fixtures/cbo_range/dima/data/*.parquet') a
      ON f.fk_a = a.aid AND a.av >= 1980
    JOIN read_parquet('/root/repo/.fixtures/cbo_range/dimb/data/*.parquet') b
      ON f.fk_b = b.bid AND b.bv >= 400
    GROUP BY a.aname, b.bname
    """,
)
def iceberg_cbo_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-driven star ordering (r11, ``quantiles.py``): both
    dims have UNIQUE keys, so under the System R 1/3 range guess they
    tie at growth exactly 1/3 and ordering degenerates to label
    tie-breaks; the equi-depth quantile blobs measure the two WHERE
    ranges at ~1% (dima: av >= 1980 of 0..1999) vs ~60% (dimb:
    bv >= 400 of 0..999), so the planner provably joins the sharp dim
    first (hard-asserted below).  Inner equi-joins commute — the
    oracle pins values, the assertion pins the plan."""
    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.fixtures import ensure_cbo_range_fixture

    paths = ensure_cbo_range_fixture(spark)
    fact = IcebergTable(paths["fact"])
    out = cbo_join(
        spark,
        fact,
        [
            # 'za' sorts AFTER 'b' lexically: only the measured
            # selectivity can put it first
            JoinDim(IcebergTable(paths["dima"]), "fk_a", "aid",
                    filters=[("av", ">=", 1980)], name="za"),
            JoinDim(IcebergTable(paths["dimb"]), "fk_b", "bid",
                    filters=[("bv", ">=", 400)], name="b"),
        ],
    )
    plan = fact.last_join_plan
    assert plan.order == ["za", "b"], (
        f"histogram-measured ordering regressed: {plan.order} "
        f"(estimates {plan.estimates})"
    )
    assert plan.estimates["za"] < 0.05 < plan.estimates["b"], plan.estimates
    return out.groupBy("aname", "bname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("double").alias("amt"),
    )


@query(
    "iceberg_cbo_conditional",
    """
    SELECT a.aname AS aname,
           b.bname AS bname,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f.amount) AS DOUBLE) AS amt
    FROM read_parquet('/root/repo/.fixtures/cbo_cond/fact/data/*.parquet') f
    JOIN read_parquet('/root/repo/.fixtures/cbo_cond/dima/data/*.parquet') a
      ON f.fk_a = a.aid AND a.seg = 's1' AND a.av >= 990
    JOIN read_parquet('/root/repo/.fixtures/cbo_cond/dimb/data/*.parquet') b
      ON f.fk_b = b.bid AND b.bv >= 700
    GROUP BY a.aname, b.bname
    """,
)
def iceberg_cbo_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRELATION-aware star ordering (r12,
    ``cbo._grouped_quantile_selectivity``): dima's ``seg`` perfectly
    predicts its ``av`` band, so the independence model scores
    ``seg='s1' AND av>=990`` at 1/2 × ~0.505 ≈ 0.25 — below dimb's
    honest 0.30 — and would join the WRONG dim first; the grouped
    quantile blob measures the conditional P(av≥990 | s1) = 1.0, the
    true growth 0.5, and the planner provably joins dimb first
    (hard-asserted, including the 0.4–0.6 estimate band only the
    conditional model can produce — the marginal gives ~0.25 and
    System R ~0.17).  Inner equi-joins commute — the oracle pins
    values, the assertion pins the plan."""
    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.fixtures import (
        ensure_cbo_conditional_fixture,
    )

    paths = ensure_cbo_conditional_fixture(spark)
    fact = IcebergTable(paths["fact"])
    out = cbo_join(
        spark,
        fact,
        [
            # 'a' sorts BEFORE 'zb' lexically AND the independence
            # model under-scores it: only the conditional measurement
            # can put 'zb' first
            JoinDim(
                IcebergTable(paths["dima"]),
                "fk_a",
                "aid",
                filters=[("seg", "==", "s1"), ("av", ">=", 990)],
                name="a",
            ),
            JoinDim(
                IcebergTable(paths["dimb"]),
                "fk_b",
                "bid",
                filters=[("bv", ">=", 700)],
                name="zb",
            ),
        ],
    )
    plan = fact.last_join_plan
    assert plan.order == ["zb", "a"], (
        f"conditional ordering regressed: {plan.order} "
        f"(estimates {plan.estimates})"
    )
    assert 0.4 <= plan.estimates["a"] <= 0.6, plan.estimates
    assert 0.25 <= plan.estimates["zb"] <= 0.35, plan.estimates
    return out.groupBy("aname", "bname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("double").alias("amt"),
    )


@query(
    "iceberg_percentile_pushdown",
    """
    SELECT CAST(quantile_disc(av, 0.25) AS BIGINT) AS p25,
           CAST(quantile_disc(av, 0.50) AS BIGINT) AS p50,
           CAST(quantile_disc(av, 0.75) AS BIGINT) AS p75
    FROM read_parquet('/root/repo/.fixtures/cbo_range/dima/data/*.parquet')
    """,
)
def iceberg_percentile_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-percentile pushdown from quantile statistics (r11,
    ``agg.percentile_pushdown``): quartiles of ``av`` answer from the
    snapshot's equi-depth histogram blob with ZERO data IO
    (hard-asserted) — each requested p lands on a stored knot, and the
    fixture's write-time sketch ran in exact mode, so the knots are
    exact order statistics the DuckDB ``quantile_disc`` oracle must
    reproduce bit-for-bit.  The percentile dashboard on a 100 TB table
    becomes a metadata read, like COUNT/MIN/MAX/NDV before it."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.fixtures import ensure_cbo_range_fixture

    paths = ensure_cbo_range_fixture(spark)
    t = IcebergTable(paths["dima"])
    out = t.percentile_pushdown(
        spark,
        [("av", 0.25, "p25"), ("av", 0.50, "p50"), ("av", 0.75, "p75")],
    )
    rep = t.last_percentile_pushdown
    assert rep["scanned"] == [] and len(rep["from_stats"]) == 3, rep
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    return out


@query(
    "iceberg_percentile_groupby",
    """
    WITH src AS (
        SELECT 's' || CAST(i % 5 AS VARCHAR) AS seg,
               (i * 37) % 1000 AS val
        FROM range(4000) t(i)
    )
    SELECT seg,
           CAST(quantile_disc(val, 0.25) AS BIGINT) AS p25,
           CAST(quantile_disc(val, 0.50) AS BIGINT) AS p50,
           CAST(quantile_disc(val, 0.75) AS BIGINT) AS p75
    FROM src GROUP BY seg
    """,
)
def iceberg_percentile_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP percentile pushdown (r12, ``agg.percentile_groupby``):
    the dashboard shape the global pushdown cannot serve — quartiles of
    ``val`` BY ``seg`` — answered from the snapshot's grouped
    equi-depth blob (``daskberg-quantiles-grouped-v1``, one grouped
    GK pass at write time) with ZERO data files read (hard-asserted;
    the fixture holds four).  Every requested p lands on a stored knot
    and each group's sketch ran in exact mode, so the knots are exact
    per-group order statistics the DuckDB ``quantile_disc`` oracle —
    recomputing the formulaic content from pure SQL — must reproduce
    bit-for-bit.  At 100 TB, "p95 by day" becomes a metadata read,
    like grouped MIN/MAX before it."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.fixtures import (
        ensure_percentile_groupby_fixture,
    )

    t = IcebergTable(ensure_percentile_groupby_fixture(spark))
    out = t.percentile_groupby(
        spark,
        [("val", 0.25, "p25"), ("val", 0.50, "p50"), ("val", 0.75, "p75")],
        ["seg"],
    )
    assert t.last_percentile_groupby["route"] == "stats", (
        t.last_percentile_groupby
    )
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    return out


@query(
    "iceberg_ndv_groupby",
    """
    WITH src AS (
        SELECT 's' || CAST(i % 5 AS VARCHAR) AS seg,
               (i * 37) % 1000 AS val
        FROM range(4000) t(i)
    )
    SELECT seg, CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
    FROM src GROUP BY seg
    """,
)
def iceberg_ndv_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-GROUP NDV pushdown (r12, ``agg.ndv_groupby``): "distinct
    values by segment" answered from the snapshot's grouped theta blob
    (``daskberg-theta-grouped-v1`` — one grouped sketch pass at write
    time, per-task state bounded by groups × (k+1)·8 B) with ZERO data
    files read (hard-asserted).  Every group's cardinality sits below
    the sketch's nominal k, so the values are EXACT and the DuckDB
    ``COUNT(DISTINCT)`` oracle — recomputing the formulaic content
    from pure SQL — must reproduce them bit-for-bit.  Completes the
    grouped statistics family: MIN/MAX/COUNT/SUM (identity pushdown),
    percentiles (grouped CDF blobs), and now NDV."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.fixtures import (
        ensure_percentile_groupby_fixture,
    )

    t = IcebergTable(ensure_percentile_groupby_fixture(spark))
    out = t.ndv_groupby(spark, "val", ["seg"])
    assert t.last_ndv_groupby["route"] == "stats", t.last_ndv_groupby
    assert t.last_ndv_groupby["exact"] is True, t.last_ndv_groupby
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    return out


@query(
    "iceberg_quantile_refresh",
    """
    WITH src AS (
        SELECT i AS k, (i * 13) % 3000 AS val
        FROM range(6000) t(i) WHERE i >= 100
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(val) AS BIGINT) AS nn,
           CAST(MIN(val) AS BIGINT) AS vmin,
           CAST(MAX(val) AS BIGINT) AS vmax
    FROM src
    """,
)
def iceberg_quantile_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile-statistics maintenance lifecycle (r12,
    ``quantiles.refresh_quantile_statistics``): bootstrap per-file CDF
    partials over a 4-file table, APPEND a fifth file — the refresh
    computes a partial for ONLY that file (hard-asserted 1 of 5, the
    O(new files) contract that replaces the nightly full
    ``percentile_approx`` re-run) — then an eq-DELETE dirties the older
    files and the refresh re-reads exactly the dirty set delete-aware.
    The merged blob's row/non-null censuses and extreme knots are EXACT
    (per-file knots are exact order statistics in exact mode; min/max
    survive any merge), so the DuckDB oracle recomputes them from the
    formulaic content; interior knots are approximate within the
    documented Σ n_f/K rank bound and are consumed by the CBO, not
    compared here."""
    import tempfile

    from daskberg_spark.iceberg.quantiles import (
        refresh_quantile_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.operators.benchphases import phase

    with phase("iceberg_quantile_refresh", "build"):
        w = IcebergWriter(
            tempfile.mkdtemp(prefix="iceberg_qref_"),
            [
                {"id": 1, "name": "k", "type": "long", "required": False},
                {"id": 2, "name": "val", "type": "long", "required": False},
            ],
        )
        for lo in range(0, 5000, 1250):
            w.append(
                [{"k": i, "val": (i * 13) % 3000} for i in range(lo, lo + 1250)]
            )
    with phase("iceberg_quantile_refresh", "bootstrap"):
        rep = refresh_quantile_statistics(w, spark, ["val"])
    assert rep["partials_computed"] == 4 and rep["dirty_files"] == 0, rep
    with phase("iceberg_quantile_refresh", "build"):
        w.append(
            [{"k": i, "val": (i * 13) % 3000} for i in range(5000, 6000)]
        )
    with phase("iceberg_quantile_refresh", "refresh"):
        rep = refresh_quantile_statistics(w, spark)
    assert rep["files_total"] == 5 and rep["partials_computed"] == 1, (
        f"refresh read more than the new file: {rep}"
    )
    assert rep["dirty_files"] == 0, rep
    with phase("iceberg_quantile_refresh", "build"):
        w.delete_rows_equality([{"k": i} for i in range(100)])
    with phase("iceberg_quantile_refresh", "refresh"):
        rep = refresh_quantile_statistics(w, spark)
    assert rep["dirty_files"] >= 1 and rep["partials_computed"] == 0, rep
    hist = IcebergTable(w.path).column_quantiles("val")
    assert hist["merged"] is True
    return spark.range(1).select(
        F.lit(hist["rows"]).cast("long").alias("n_rows"),
        F.lit(hist["nonnull"]).cast("long").alias("nn"),
        F.lit(int(round(hist["bounds"][0]))).cast("long").alias("vmin"),
        F.lit(int(round(hist["bounds"][-1]))).cast("long").alias("vmax"),
    )


@query(
    "iceberg_ndv_refresh",
    """
    WITH src AS (
        SELECT 's' || CAST(i % 5 AS VARCHAR) AS seg,
               (i * 37) % 500 AS val
        FROM range(6000) t(i) WHERE i >= 100
    )
    SELECT seg, CAST(COUNT(DISTINCT val) AS BIGINT) AS ndv
    FROM src GROUP BY seg
    """,
)
def iceberg_ndv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental grouped-NDV maintenance lifecycle (r13,
    ``theta.refresh_grouped_theta_statistics``) — the refresh path the
    r12 grouped blobs were serialized mergeable for, closing the last
    full-rebuild-only statistics family: bootstrap per-file grouped
    sketch partials over a 4-file table, APPEND a fifth file — the
    refresh builds partials for ONLY that file (hard-asserted 1 of 5;
    theta union is the blob's native merge, so at 100 TB "distinct
    users by day" advances at O(day's files), never O(table)) — then
    an eq-DELETE dirties the older files and the refresh re-reads
    exactly the dirty set delete-aware (sketches cannot subtract).
    Every per-group cardinality sits below the sketch's nominal k, so
    union stays in exact mode and ``ndv_groupby`` — served from the
    merged blob with ZERO data files read (hard-asserted) — must match
    the DuckDB ``COUNT(DISTINCT)`` oracle bit-for-bit."""
    import tempfile

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_ndvref_"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "seg", "type": "string", "required": False},
            {"id": 3, "name": "val", "type": "long", "required": False},
        ],
    )

    from daskberg_spark.operators.benchphases import phase

    def rows(lo, hi):
        return [
            {"k": i, "seg": f"s{i % 5}", "val": (i * 37) % 500}
            for i in range(lo, hi)
        ]

    with phase("iceberg_ndv_refresh", "build"):
        for lo in range(0, 5000, 1250):
            w.append(rows(lo, lo + 1250))
        # r16 negative result (guide §1.1): routing the opt-in write +
        # bootstrap partials through plan_bootstrap_stats_scan (the
        # onepass query's shared read) measured 1.13x SLOWER here — a
        # persist of this 4-file fixture costs more than the three tiny
        # passes it saves, and unlike the onepass entry only one family
        # consumes it.  Kept on direct reads; the shared-scan path
        # remains available for genuinely multi-family bootstraps.
        write_grouped_theta_statistics(w, spark, ["seg"], ["val"])
    with phase("iceberg_ndv_refresh", "bootstrap"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert rep["partials_computed"] == 4 and rep["dirty_files"] == 0, rep
    with phase("iceberg_ndv_refresh", "build"):
        w.append(rows(5000, 6000))
    with phase("iceberg_ndv_refresh", "refresh"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert rep["files_total"] == 5 and rep["partials_computed"] == 1, (
        f"refresh read more than the new file: {rep}"
    )
    assert rep["dirty_files"] == 0, rep
    with phase("iceberg_ndv_refresh", "build"):
        w.delete_rows_equality([{"k": i} for i in range(100)])
    with phase("iceberg_ndv_refresh", "refresh"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert rep["dirty_files"] >= 1 and rep["partials_computed"] == 0, rep
    t = IcebergTable(w.path)
    assert t.grouped_column_ndv("val", ["seg"])["merged"] is True
    out = t.ndv_groupby(spark, "val", ["seg"])
    assert t.last_ndv_groupby["route"] == "stats", t.last_ndv_groupby
    assert t.last_ndv_groupby["exact"] is True, t.last_ndv_groupby
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    return out


@query(
    "iceberg_grouped_quantile_refresh",
    """
    WITH src AS (
        SELECT i % 3 AS g, i AS v FROM range(6000) t(i) WHERE i >= 90
    )
    SELECT CAST(g AS BIGINT) AS g,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(v) AS BIGINT) AS nn,
           CAST(MIN(v) AS BIGINT) AS vmin,
           CAST(MAX(v) AS BIGINT) AS vmax
    FROM src GROUP BY g
    """,
)
def iceberg_grouped_quantile_refresh(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """NON-IDENTITY grouped quantile maintenance (r13,
    ``quantiles.refresh_grouped_quantile_statistics``): the grouping
    (``g = i % 3``) is NOT the table's partitioning — every file holds
    every group — which in r12 degraded to a full grouped re-run.
    Per-(file × group) CDF partials now carry the group key
    explicitly: bootstrap over a 4-file table, APPEND a fifth file —
    the refresh partial-scans ONLY that file (hard-asserted 1 of 5,
    ``strategy: file-grouped-partials``) — then an eq-DELETE dirties
    the older files and the refresh re-reads exactly the dirty set
    delete-aware.  Per-group row/non-null censuses and extreme knots
    are EXACT (min/max survive any CDF merge), so the DuckDB oracle
    recomputes them from the formulaic content; interior knots stay
    estimates-grade within the documented Σ n_f/K rank bound."""
    import tempfile

    from daskberg_spark.iceberg.quantiles import (
        refresh_grouped_quantile_statistics,
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_gqref_"),
        [
            {"id": 1, "name": "g", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ],
    )

    from daskberg_spark.operators.benchphases import phase

    def rows(lo, hi):
        return [{"g": i % 3, "v": i} for i in range(lo, hi)]

    with phase("iceberg_grouped_quantile_refresh", "build"):
        for lo in range(0, 5000, 1250):
            w.append(rows(lo, lo + 1250))
        write_grouped_quantile_statistics(w, spark, ["g"], ["v"])
    with phase("iceberg_grouped_quantile_refresh", "bootstrap"):
        rep = refresh_grouped_quantile_statistics(w, spark)
    assert rep["strategy"] == "file-grouped-partials", rep
    assert rep["partials_computed"] == 4 and rep["dirty_files"] == 0, rep
    with phase("iceberg_grouped_quantile_refresh", "build"):
        w.append(rows(5000, 6000))
    with phase("iceberg_grouped_quantile_refresh", "refresh"):
        rep = refresh_grouped_quantile_statistics(w, spark)
    assert rep["files_total"] == 5 and rep["partials_computed"] == 1, (
        f"refresh read more than the new file: {rep}"
    )
    with phase("iceberg_grouped_quantile_refresh", "build"):
        w.delete_rows_equality([{"v": i} for i in range(90)])
    with phase("iceberg_grouped_quantile_refresh", "refresh"):
        rep = refresh_grouped_quantile_statistics(w, spark)
    assert rep["dirty_files"] >= 1 and rep["partials_computed"] == 0, rep
    h = IcebergTable(w.path).grouped_column_quantiles("v", ["g"])
    assert h["merged"] is True and len(h["groups"]) == 3
    return spark.createDataFrame(
        [
            (
                int(grp["key"][0]),
                int(grp["rows"]),
                int(grp["nonnull"]),
                int(round(grp["bounds"][0])),
                int(round(grp["bounds"][-1])),
            )
            for grp in h["groups"]
        ],
        "g long, n_rows long, nn long, vmin long, vmax long",
    )


@query(
    "iceberg_global_ndv_refresh",
    """
    WITH src AS (
        SELECT CAST(FLOOR(i / 2) AS BIGINT) AS k,
               'u' || CAST(CAST(FLOOR(i / 3) AS BIGINT) AS VARCHAR) AS u
        FROM range(6000) t(i) WHERE i >= 100
    )
    SELECT CAST(COUNT(DISTINCT k) AS BIGINT) AS ndv_k,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS ndv_u
    FROM src
    """,
)
def iceberg_global_ndv_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GLOBAL NDV maintenance through per-file theta partials (r13,
    ``theta.write_file_theta_partials`` +
    ``writer.refresh_table_statistics`` mode ``"partials"``): the
    append-window union (r6) must FULL-REBUILD on overwrites,
    compaction, and >20% deletes — per-file sketches remove every one
    of those cliffs.  Bootstrap over a 4-file table, APPEND a fifth
    file — the refresh builds a partial for ONLY that file
    (hard-asserted 1 of 5) — then an eq-DELETE (the first 100 ids,
    which REMOVES 50 distinct k values and ~33 distinct u values, a
    shape no union-only refresh can track) re-reads exactly the dirty
    set delete-aware.  All NDVs sit below the sketch's nominal k, so
    the published values are EXACT and the DuckDB ``COUNT(DISTINCT)``
    oracle must reproduce them bit-for-bit."""
    import tempfile

    from daskberg_spark.iceberg.theta import write_file_theta_partials
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        refresh_table_statistics,
    )
    from daskberg_spark.operators.benchphases import phase

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_gndvref_"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "k", "type": "long", "required": False},
            {"id": 3, "name": "u", "type": "string", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {"id": i, "k": i // 2, "u": f"u{i // 3}"} for i in range(lo, hi)
        ]

    with phase("iceberg_global_ndv_refresh", "build"):
        for lo in range(0, 5000, 1250):
            w.append(rows(lo, lo + 1250))
        write_file_theta_partials(w, spark)
    with phase("iceberg_global_ndv_refresh", "build"):
        w.append(rows(5000, 6000))
    with phase("iceberg_global_ndv_refresh", "refresh"):
        _, mode = refresh_table_statistics(w, spark)
    assert mode == "partials", mode
    rep = w.last_theta_refresh
    assert rep["files_total"] == 5 and rep["partials_computed"] == 1, (
        f"refresh read more than the new file: {rep}"
    )
    with phase("iceberg_global_ndv_refresh", "build"):
        w.delete_rows_equality([{"id": i} for i in range(100)])
    with phase("iceberg_global_ndv_refresh", "refresh"):
        _, mode = refresh_table_statistics(w, spark)
    assert mode == "partials", mode
    rep = w.last_theta_refresh
    assert rep["dirty_files"] >= 1 and rep["partials_computed"] == 0, rep
    t = IcebergTable(w.path)
    return spark.range(1).select(
        F.lit(t.column_ndv("k")).cast("long").alias("ndv_k"),
        F.lit(t.column_ndv("u")).cast("long").alias("ndv_u"),
    )


@query(
    "iceberg_analyze_table",
    """
    WITH src AS (
      SELECT * FROM read_parquet('/root/repo/.fixtures/cbo_range/dima/data/*.parquet')
    )
    SELECT 'aid' AS column, 'long' AS type,
           CAST(COUNT(*) AS BIGINT) AS row_count,
           CAST(COUNT(*) - COUNT(aid) AS BIGINT) AS null_count,
           CAST(COUNT(DISTINCT aid) AS BIGINT) AS ndv,
           CAST(MIN(aid) AS VARCHAR) AS min_value,
           CAST(MAX(aid) AS VARCHAR) AS max_value
    FROM src
    UNION ALL
    SELECT 'av', 'long', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(av) AS BIGINT),
           CAST(COUNT(DISTINCT av) AS BIGINT),
           CAST(MIN(av) AS VARCHAR), CAST(MAX(av) AS VARCHAR)
    FROM src
    UNION ALL
    SELECT 'aname', 'string', CAST(COUNT(*) AS BIGINT),
           CAST(COUNT(*) - COUNT(aname) AS BIGINT),
           CAST(COUNT(DISTINCT aname) AS BIGINT),
           CAST(MIN(aname) AS VARCHAR), CAST(MAX(aname) AS VARCHAR)
    FROM src
    """,
)
def iceberg_analyze_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE from metadata (r11, ``agg.analyze_table``): the
    per-column catalog card — row/null counts and min/max from manifest
    statistics through the SAME soundness-gated pushdown the query path
    uses, NDVs from the theta blobs (exact-mode here, so the oracle's
    COUNT(DISTINCT) must match exactly).  The numeric battery and all
    NDVs answer from metadata alone; only the STRING column's min/max
    takes the one residual scan (string bounds may be truncated — the
    pushdown refuses them by design), hard-asserted below."""
    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.fixtures import ensure_cbo_range_fixture

    paths = ensure_cbo_range_fixture(spark)
    t = IcebergTable(paths["dima"])
    out = t.analyze_table(spark)
    rep = t.last_agg_pushdown
    assert rep["files_scanned"] <= 1 and not rep["ndv_scanned_columns"], rep
    meta = rep["meta_files"]
    assert all(
        meta[k] == rep["files_planned"]
        for k in meta
        if not k.endswith(" aname") or k.startswith("cnt")
    ), rep
    return out


@query(
    "iceberg_maintain_stats_onepass",
    """
    WITH src AS (
        SELECT 's' || CAST(i % 4 AS VARCHAR) AS seg,
               i % 37 AS u,
               (i * 13) % 211 AS v
        FROM range(5000) t(i) WHERE i >= 100
    )
    SELECT seg,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS ndv_u,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           (SELECT CAST(COUNT(DISTINCT u) AS BIGINT) FROM src)
               AS total_ndv_u,
           (SELECT CAST(COUNT(DISTINCT v) AS BIGINT) FROM src)
               AS total_ndv_v
    FROM src GROUP BY seg
    """,
)
def iceberg_maintain_stats_onepass(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ONE-SCAN nightly statistics maintenance (r14,
    ``onepass.plan_shared_stats_scan`` + ``writer.maintain``): a table
    opted into ALL SIX statistics families — value blooms, column
    sums, global theta partials, global quantiles, grouped quantiles,
    grouped NDV — takes an eq-DELETE (dirties the four existing files)
    and an APPEND (one new uncovered file), then ONE ``maintain()``
    refreshes every family from ONE shared raw read of the new file
    plus ONE shared delete-aware read of the dirty set — not one pass
    per family (the r13 verdict's top remaining constant: ~5x nightly
    ingest re-reads).  Hard-asserted: 1 raw file / 4 dirty files in
    the shared frames, zero fallback reads, every family served.  The
    published blobs are EXACT (all cardinalities below the sketch's
    nominal k; censuses exact by construction), so the DuckDB
    ``COUNT(DISTINCT)``/``COUNT(*)`` oracle must reproduce per-group
    NDVs, per-group row censuses, and global NDVs bit-for-bit."""
    import tempfile

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
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
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        maintain,
        refresh_table_statistics,
    )
    from daskberg_spark.operators.benchphases import phase

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_onepass_"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "seg", "type": "string", "required": False},
            {"id": 3, "name": "u", "type": "long", "required": False},
            {"id": 4, "name": "v", "type": "long", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {"id": i, "seg": f"s{i % 4}", "u": i % 37, "v": (i * 13) % 211}
            for i in range(lo, hi)
        ]

    with phase("iceberg_maintain_stats_onepass", "build"):
        for lo in range(0, 4000, 1000):
            w.append(rows(lo, lo + 1000))
    with phase("iceberg_maintain_stats_onepass", "bootstrap"):
        # the five family bootstraps are mutually independent (within-
        # family order preserved per chain); their commits serialize
        # through statsblobs.STATS_COMMIT_LOCK, so the four chains
        # overlap in a thread pool (maintain() itself refreshes the
        # families one after another).
        # r16: they also SHARE ONE persisted read — per-file partial
        # builders serve raw rows, and the two grouped full-table
        # writes serve current content through the delete-state gate
        # (no deletes exist yet, so raw == current for every file),
        # instead of each chain re-reading the same four files.
        from concurrent.futures import ThreadPoolExecutor

        from daskberg_spark.iceberg.onepass import (
            plan_bootstrap_stats_scan,
        )

        boot = plan_bootstrap_stats_scan(w, spark)

        def _chain_blooms():
            write_file_blooms(w, spark, ["u"], scan_source=boot)

        def _chain_sums():
            write_sum_statistics(w, spark, ["v"], scan_source=boot)

        def _chain_theta():
            # global partials BEFORE the grouped family: both spell
            # their per-file partials in the same blob TYPE, whose
            # full-write replacement is same-snapshot type-scoped —
            # they must not race (the family table's order, too)
            write_file_theta_partials(w, spark, scan_source=boot)
            refresh_table_statistics(w, spark, scan_source=boot)
            write_grouped_theta_statistics(
                w, spark, ["seg"], ["u"], scan_source=boot
            )
            refresh_grouped_theta_statistics(w, spark, scan_source=boot)

        def _chain_quantiles():
            refresh_quantile_statistics(
                w, spark, columns=["v"], scan_source=boot
            )
            write_grouped_quantile_statistics(
                w, spark, ["seg"], ["v"], scan_source=boot
            )
            refresh_grouped_quantile_statistics(
                w, spark, scan_source=boot
            )

        with ThreadPoolExecutor(max_workers=4) as pool:
            futs = [
                pool.submit(fn)
                for fn in (
                    _chain_blooms,
                    _chain_sums,
                    _chain_theta,
                    _chain_quantiles,
                )
            ]
            for f in futs:
                f.result()
        # read-once contract for the bootstrap too: every family was
        # served (zero per-family parquet re-reads), and the grouped
        # full-table writes passed the delete-state gate
        assert boot is not None, "bootstrap scan must fit the budget here"
        bs = boot.report()
        assert bs["raw_fallback"] == 0 and bs["current_fallback"] == 0, bs
        assert bs["current_served"] == 2, bs
        assert bs["raw_served"] >= 4, bs
        boot.unpersist()
    with phase("iceberg_maintain_stats_onepass", "build"):
        # delete FIRST (dirties the four existing files), THEN append —
        # the new file postdates the delete, so it stays clean
        w.delete_rows_equality([{"id": i} for i in range(100)])
        w.append(rows(4000, 5000))
    with phase("iceberg_maintain_stats_onepass", "refresh"):
        rep = maintain(
            w,
            spark,
            min_file_bytes=1,
            keep_last=100,
            compact_dead_fraction=None,
        )
    ss = rep["stats_scan"]
    assert ss is not None and ss["raw_fallback"] == 0, rep
    assert ss["dirty_fallback"] == 0, rep
    assert ss["raw_files"] == 1 and ss["dirty_files"] == 4, (
        f"one-scan shape broken: {ss}"
    )
    assert ss["raw_served"] >= 5 and ss["dirty_served"] >= 4, ss
    assert rep["refresh_statistics"] == "partials", rep
    t = IcebergTable(w.path)
    gndv = t.ndv_groupby(spark, "u", ["seg"])
    assert t.last_ndv_groupby["route"] == "stats", t.last_ndv_groupby
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    hist = t.grouped_column_quantiles("v", ["seg"])
    census = spark.createDataFrame(
        [(g["key"][0], int(g["rows"])) for g in hist["groups"]],
        "seg string, n_rows long",
    )
    return (
        gndv.select(F.col("seg"), F.col("ndv").alias("ndv_u"))
        .join(F.broadcast(census), "seg")
        .select(
            "seg",
            F.col("ndv_u").cast("long"),
            F.col("n_rows").cast("long"),
            F.lit(t.column_ndv("u")).cast("long").alias("total_ndv_u"),
            F.lit(t.column_ndv("v")).cast("long").alias("total_ndv_v"),
        )
    )


@query(
    "iceberg_cbo_pair_pins",
    """
    SELECT a.aname AS aname,
           b.bname AS bname,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(f.amount) AS DOUBLE) AS amt
    FROM read_parquet('/root/repo/.fixtures/cbo_pair/fact/data/*.parquet') f
    JOIN read_parquet('/root/repo/.fixtures/cbo_pair/dima/data/*.parquet') a
      ON f.fk_a = a.aid AND a.seg = 's1' AND a.band = 2 AND a.u = 51
    JOIN read_parquet('/root/repo/.fixtures/cbo_pair/dimb/data/*.parquet') b
      ON f.fk_b = b.bid AND b.bv >= 970
    GROUP BY a.aname, b.bname
    """,
)
def iceberg_cbo_pair_pins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PAIR-keyed conditional NDV in the star planner (r14,
    ``cbo._grouped_ndv_eq_selectivity`` rung 1): dima's ``u`` nests
    inside the JOINT (seg, band) grouping — 2 values per joint group,
    12 globally — so the independence model scores
    ``seg='s1' AND band=2 AND u=51`` at 1/72 (growth ~0.014, below
    dimb's honest 0.03) and would join the WRONG dim first; only the
    pair-keyed grouped theta blob measures 1/ndv(u | seg, band) = 1/2
    (growth ~0.083 — the truth), provably flipping the order
    (hard-asserted, including the estimate band no single-column rung
    can produce: no single-column blob exists on this fixture).
    Inner equi-joins commute — the oracle pins values, the assertion
    pins the plan."""
    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.fixtures import ensure_cbo_pair_fixture

    paths = ensure_cbo_pair_fixture(spark)
    fact = IcebergTable(paths["fact"])
    out = cbo_join(
        spark,
        fact,
        [
            # 'a' sorts BEFORE 'zb' lexically AND the independence
            # model under-scores it: only the pair conditional can put
            # 'zb' first
            JoinDim(
                IcebergTable(paths["dima"]),
                "fk_a",
                "aid",
                filters=[
                    ("seg", "==", "s1"),
                    ("band", "==", 2),
                    ("u", "==", 51),
                ],
                name="a",
            ),
            JoinDim(
                IcebergTable(paths["dimb"]),
                "fk_b",
                "bid",
                filters=[("bv", ">=", 970)],
                name="zb",
            ),
        ],
    )
    plan = fact.last_join_plan
    assert plan.order == ["zb", "a"], (
        f"pair-conditional ordering regressed: {plan.order} "
        f"(estimates {plan.estimates})"
    )
    # growth(a) = 200/2400 ~ 0.083 only the pair rung can produce —
    # the independence model reads ~0.014 and flips the order
    assert 0.06 <= plan.estimates["a"] <= 0.11, plan.estimates
    assert 0.02 <= plan.estimates["zb"] <= 0.04, plan.estimates
    return out.groupBy("aname", "bname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amount").cast("double").alias("amt"),
    )


@query(
    "iceberg_ndv_per_day",
    """
    WITH src AS (
        SELECT TIMESTAMP '2024-03-01 00:00:00'
                   + ((i % 72) * INTERVAL 1 HOUR) AS ts,
               (i * 7) % 41 AS u
        FROM range(5000) t(i)
    )
    SELECT CAST(CAST(date_trunc('day', ts) AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS ndv
    FROM src GROUP BY 1
    """,
)
def iceberg_ndv_per_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Distinct users per DAY' on a real TIMESTAMP column (r14,
    ``groupkeys.py``): the grouped theta blob keys on the derived
    ``day(ts)`` spec — a codegen ``to_date`` computed at write time,
    stored verbatim in the payload, matched by ``ndv_groupby`` on the
    same string, keys decoded back to dates — so the raw-micros
    grouping that would trip ``max_groups`` never exists.  Bootstrap
    over 4 files, APPEND a fifth — the refresh partial-scans ONLY it
    (hard-asserted 1 of 5) — and the published per-day NDVs are served
    with ZERO data files read.  All cardinalities sit below the
    sketch's nominal k, so the DuckDB ``COUNT(DISTINCT)`` per
    ``date_trunc('day')`` oracle must reproduce them bit-for-bit."""
    import datetime as dt
    import tempfile

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.operators.benchphases import phase

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_ndvday_"),
        [
            {"id": 1, "name": "ts", "type": "timestamp", "required": False},
            {"id": 2, "name": "u", "type": "long", "required": False},
        ],
    )
    base = dt.datetime(2024, 3, 1)

    def rows(lo, hi):
        return [
            {"ts": base + dt.timedelta(hours=i % 72), "u": (i * 7) % 41}
            for i in range(lo, hi)
        ]

    with phase("iceberg_ndv_per_day", "build"):
        for lo in range(0, 4000, 1000):
            w.append(rows(lo, lo + 1000))
        write_grouped_theta_statistics(w, spark, ["day(ts)"], ["u"])
    with phase("iceberg_ndv_per_day", "bootstrap"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert rep["partials_computed"] == 4, rep
    with phase("iceberg_ndv_per_day", "build"):
        w.append(rows(4000, 5000))
    with phase("iceberg_ndv_per_day", "refresh"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert rep["files_total"] == 5 and rep["partials_computed"] == 1, (
        f"refresh read more than the new file: {rep}"
    )
    t = IcebergTable(w.path)
    out = t.ndv_groupby(spark, "u", ["day(ts)"])
    assert t.last_ndv_groupby["route"] == "stats", t.last_ndv_groupby
    assert t.last_ndv_groupby["exact"] is True, t.last_ndv_groupby
    assert t.last_scan["files_scanned"] == 0, t.last_scan
    return out.select(
        F.col("day(ts)").cast("string").alias("day"),
        F.col("ndv").cast("long"),
    )


@query(
    "iceberg_salted_skew_join",
    """
    WITH fact AS (
        SELECT CASE WHEN i % 5 < 3 THEN 7 ELSE i % 40 END AS fk, i AS amt
        FROM range(5000) t(i)
    ), dim AS (
        SELECT i AS k, 'n' || CAST(i AS VARCHAR) AS name
        FROM range(40) t(i)
    )
    SELECT name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(amt) AS BIGINT) AS amt
    FROM fact JOIN dim ON fk = k GROUP BY name
    """,
)
def iceberg_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Census-driven skew salting (r14 stretch, ``cbo.salted_join``):
    60% of the fact lands on one key, and the engine's EXACT per-key
    row census (the grouped quantile blob keyed on the join key — the
    same blob powering skew-exact equality estimates) flags it BEFORE
    the join, so ``auto_join``'s shuffle branch salts: the hot key's
    rows draw a uniform salt and the dim replicates it salt-ways — the
    lopsided partition splits in the PLAN, not in AQE's rear-view
    mirror.  Hard-asserted: strategy ``salted-shuffle``, flagged keys
    ``[7]``, the salt columns present in the executed plan.  Salting
    is result-identical, so the DuckDB plain-join oracle must match
    bit-for-bit."""
    import tempfile

    from daskberg_spark.iceberg.cbo import JoinDim, auto_join
    from daskberg_spark.iceberg.quantiles import (
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    fact = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_skew_"),
        [
            {"id": 1, "name": "fk", "type": "long", "required": False},
            {"id": 2, "name": "amt", "type": "long", "required": False},
        ],
    )
    fact.append(
        [
            {"fk": 7 if i % 5 < 3 else i % 40, "amt": i}
            for i in range(5000)
        ]
    )
    write_grouped_quantile_statistics(fact, spark, ["fk"], ["amt"])
    dim = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_skewd_"),
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "name", "type": "string", "required": False},
        ],
    )
    dim.append([{"k": i, "name": f"n{i}"} for i in range(40)])
    ft = IcebergTable(fact.path)
    out = auto_join(
        spark,
        ft,
        JoinDim(IcebergTable(dim.path), "fk", "k"),
        max_keys=0,
        bloom_max_rows=0,
    )
    assert ft.last_join_strategy == "salted-shuffle", ft.last_join_strategy
    assert ft.last_skewed_keys == [7], ft.last_skewed_keys
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "__fsalt" in plan and "__dsalt" in plan, plan[:1500]
    return out.groupBy("name").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amt").cast("long").alias("amt"),
    )


@query(
    "iceberg_cbo_salted_star",
    """
    WITH fact AS (
        SELECT CASE WHEN i % 5 < 3 THEN 7 ELSE i % 50 END AS fkb,
               i % 3 AS fks, i AS amt
        FROM range(6000) t(i)
    ), big AS (
        SELECT i AS bk, 'b' || CAST(i AS VARCHAR) AS bname
        FROM range(20000) t(i)
    ), small AS (
        SELECT i AS sk, 's' || CAST(i AS VARCHAR) AS sname
        FROM range(3) t(i)
    )
    SELECT bname, sname,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(amt) AS BIGINT) AS amt
    FROM fact JOIN big ON fkb = bk JOIN small ON fks = sk
    GROUP BY 1, 2
    """,
)
def iceberg_cbo_salted_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cbo_join``'s SALTED STAR LEG end to end (r15 brief #2 — the
    r14 star-leg salting was unit-tested only because every benched
    star broadcasts all dims): a mixed star where the 20 000-row big
    dim is METADATA-LARGE (over the query's broadcast budget, so its
    leg SHUFFLES) while the 3-row small dim broadcasts.  The fact's
    per-key census flags the hot key (60% of rows on one fkb), and
    ``cbo_join`` salts exactly the big leg IN THE PLAN — hard-asserted
    ``plan.salted == ["big"]``, ``plan.broadcasts == ["small"]``, salt
    columns in the executed plan, and census-proportional widths
    recorded.  Salting is result-identical, so the DuckDB plain-join
    oracle must match bit-for-bit."""
    import tempfile

    from daskberg_spark.iceberg.cbo import JoinDim, cbo_join
    from daskberg_spark.iceberg.quantiles import (
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter

    fact = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_sstar_f_"),
        [
            {"id": 1, "name": "fkb", "type": "long", "required": False},
            {"id": 2, "name": "fks", "type": "long", "required": False},
            {"id": 3, "name": "amt", "type": "long", "required": False},
        ],
    )
    fact.append(
        [
            {"fkb": 7 if i % 5 < 3 else i % 50, "fks": i % 3, "amt": i}
            for i in range(6000)
        ]
    )
    write_grouped_quantile_statistics(fact, spark, ["fkb"], ["amt"])
    big = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_sstar_b_"),
        [
            {"id": 1, "name": "bk", "type": "long", "required": False},
            {"id": 2, "name": "bname", "type": "string", "required": False},
        ],
    )
    big.append([{"bk": i, "bname": f"b{i}"} for i in range(20000)])
    small = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_sstar_s_"),
        [
            {"id": 1, "name": "sk", "type": "long", "required": False},
            {"id": 2, "name": "sname", "type": "string", "required": False},
        ],
    )
    small.append([{"sk": i, "sname": f"s{i}"} for i in range(3)])
    ft = IcebergTable(fact.path)
    out = cbo_join(
        spark,
        ft,
        [
            JoinDim(IcebergTable(big.path), "fkb", "bk", name="big"),
            JoinDim(IcebergTable(small.path), "fks", "sk", name="small"),
        ],
        broadcast_bytes=8192,
    )
    plan = ft.last_join_plan
    assert plan.broadcasts == ["small"], plan.broadcasts
    assert plan.salted == ["big"], plan.salted
    pstr = out._jdf.queryExecution().executedPlan().toString()
    assert "__fsalt" in pstr and "__dsalt" in pstr, pstr[:1500]
    return out.groupBy("bname", "sname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("amt").cast("long").alias("amt"),
    )


@query(
    "iceberg_ndv_multi_grouping",
    """
    WITH src AS (
        SELECT 's' || CAST(i % 3 AS VARCHAR) AS seg,
               'w' || CAST(i % 4 AS VARCHAR) AS wsrc,
               (i * 11) % 97 AS u
        FROM range(5000) t(i)
    )
    SELECT 'seg' AS grp, seg AS key,
           CAST(COUNT(DISTINCT u) AS BIGINT) AS ndv
    FROM src GROUP BY seg
    UNION ALL
    SELECT 'wsrc', wsrc, CAST(COUNT(DISTINCT u) AS BIGINT)
    FROM src GROUP BY wsrc
    """,
)
def iceberg_ndv_multi_grouping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-CONFIG grouped statistics (r14): "distinct users by
    segment" AND "distinct users by source" coexist on one table —
    writing the second grouping no longer clobbers the first
    (config-scoped replacement), and ONE
    ``refresh_grouped_theta_statistics`` advances BOTH incrementally
    (hard-asserted: 2 configs, each partial-scanning ONLY the appended
    file).  Both serve metadata-only with zero data files read; all
    cardinalities sit in exact mode, so the two-grouping DuckDB
    ``COUNT(DISTINCT)`` union oracle must match bit-for-bit."""
    import tempfile

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.operators.benchphases import phase

    w = IcebergWriter(
        tempfile.mkdtemp(prefix="iceberg_mcndv_"),
        [
            {"id": 1, "name": "seg", "type": "string", "required": False},
            {"id": 2, "name": "wsrc", "type": "string", "required": False},
            {"id": 3, "name": "u", "type": "long", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {
                "seg": f"s{i % 3}",
                "wsrc": f"w{i % 4}",
                "u": (i * 11) % 97,
            }
            for i in range(lo, hi)
        ]

    with phase("iceberg_ndv_multi_grouping", "build"):
        for lo in range(0, 4000, 1000):
            w.append(rows(lo, lo + 1000))
        write_grouped_theta_statistics(w, spark, ["seg"], ["u"])
        write_grouped_theta_statistics(w, spark, ["wsrc"], ["u"])
    with phase("iceberg_ndv_multi_grouping", "bootstrap"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert len(rep["configs"]) == 2, rep
    with phase("iceberg_ndv_multi_grouping", "build"):
        w.append(rows(4000, 5000))
    with phase("iceberg_ndv_multi_grouping", "refresh"):
        rep = refresh_grouped_theta_statistics(w, spark)
    assert all(
        r["partials_computed"] == 1 and r["files_total"] == 5
        for r in rep["configs"]
    ), f"a config read more than the new file: {rep}"
    t = IcebergTable(w.path)
    legs = []
    for gcol in ("seg", "wsrc"):
        out = t.ndv_groupby(spark, "u", [gcol])
        assert t.last_ndv_groupby["route"] == "stats", t.last_ndv_groupby
        assert t.last_scan["files_scanned"] == 0, t.last_scan
        legs.append(
            out.select(
                F.lit(gcol).alias("grp"),
                F.col(gcol).alias("key"),
                F.col("ndv").cast("long"),
            )
        )
    return legs[0].unionByName(legs[1])
