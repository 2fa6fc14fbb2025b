"""Structured Streaming queries drained on the batch fixture must equal
their batch formulations exactly (micro-batch slicing must not matter)."""

from __future__ import annotations

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


def test_streaming_dedup_equals_batch_distinct(spark):
    from daskberg_spark.operators.registry import table
    from daskberg_spark.streaming.events import streaming_dedup

    got = {
        r["event_type"]: r["n_first_events"]
        for r in streaming_dedup(spark, SF).collect()
    }
    want = {
        r["event_type"]: r["n"]
        for r in table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Stop the stateful sessionization mid-stream and resume a NEW query
    from its checkpoint: run 1 sees only the first third of the events,
    the remaining thirds arrive while the query is down, and run 2
    recovers per-user state from the checkpoint.  Final session/event
    counts must equal the batch lag/gap oracle exactly — state recovered,
    no events lost, none double-counted — and run 2's epochs must
    CONTINUE the checkpointed batch numbering, not restart at 0."""
    import glob
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import Window as W
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    sink = str(tmp_path / "sink")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .select("user_id", "ts", "event_id")
    )
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    pdf = ev.orderBy("ts", "event_id").toPandas()
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    n = len(pdf)
    parts = [pdf[: n // 3], pdf[n // 3 : 2 * n // 3], pdf[2 * n // 3 :]]
    pq.write_table(pa.Table.from_pandas(parts[0]), str(src / "part1.parquet"))

    def sessionize(key, pdfs, state: GroupState):
        n_sessions, n_events, last_ts = (
            state.get if state.exists else (0, 0, None)
        )
        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        for ts in rows["ts"]:
            micros = ts.value // 1_000
            if last_ts is None or micros - last_ts > 1800 * 1_000_000:
                n_sessions += 1
            last_ts = micros
            n_events += 1
        state.update((n_sessions, n_events, last_ts))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    schema = spark.read.parquet(str(src)).schema

    def start_query():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        if dict(stream.dtypes)["ts"] == "timestamp_ntz":
            stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
        agg = stream.groupBy("user_id").applyInPandasWithState(
            sessionize,
            outputStructType="user_id long, n_sessions long, n_events long",
            stateStructType="n_sessions long, n_events long, last_ts long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

        def write_epoch(batch_df, epoch_id):
            batch_df.write.mode("overwrite").parquet(f"{sink}/epoch={epoch_id}")

        return (
            agg.writeStream.outputMode("update")
            .option("checkpointLocation", ckpt)
            .foreachBatch(write_epoch)
            .start()
        )

    q1 = start_query()
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()
    run1_epochs = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(f"{sink}/epoch=*")
    }
    assert run1_epochs, "run 1 must have committed at least one epoch"

    # the query is DOWN while the rest of the stream arrives
    pq.write_table(pa.Table.from_pandas(parts[1]), str(src / "part2.parquet"))
    pq.write_table(pa.Table.from_pandas(parts[2]), str(src / "part3.parquet"))

    q2 = start_query()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    all_epochs = {
        int(os.path.basename(d).split("=")[1])
        for d in glob.glob(f"{sink}/epoch=*")
    }
    run2_epochs = all_epochs - run1_epochs
    assert run2_epochs and min(run2_epochs) > max(run1_epochs), (
        "restart must continue the checkpoint's batch numbering",
        run1_epochs,
        all_epochs,
    )

    # per-user final state = the emission from that user's latest epoch
    emitted = spark.read.parquet(sink)
    latest = (
        emitted.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("user_id").orderBy(F.col("epoch").desc())
            ),
        )
        .where("rk = 1")
        .select("user_id", "n_sessions", "n_events")
    )
    got = {
        r["user_id"]: (r["n_sessions"], r["n_events"]) for r in latest.collect()
    }

    # batch oracle: lag/gap sessionization over the WHOLE fixture
    wlag = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.lag("ts").over(wlag).isNull()
            | (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.unix_micros(F.lag("ts").over(wlag).cast("timestamp"))
                > 1800 * 1_000_000
            ),
            1,
        ).otherwise(0),
    )
    want = {
        r["user_id"]: (r["n_sessions"], r["n_events"])
        for r in flagged.groupBy("user_id")
        .agg(
            F.sum("is_new").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .collect()
    }
    assert got == want and len(got) > 0


def test_streaming_stream_join_equals_batch_range_join(spark):
    from daskberg_spark.operators.registry import table
    from daskberg_spark.streaming.events import streaming_stream_join

    got = {
        r["user_id"]: r["n_attributed"]
        for r in streaming_stream_join(spark, SF).collect()
    }
    ev = table(spark, SF, "events")
    c = ev.filter("event_type = 'click'").select(
        F.col("user_id").alias("u"), F.col("ts").alias("c_ts")
    )
    p = ev.filter("event_type = 'purchase'").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_ts")
    )
    want = {
        r["u"]: r["n"]
        for r in c.join(
            p,
            (F.col("u") == F.col("pu"))
            & (F.col("p_ts") >= F.col("c_ts"))
            & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("u")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_streaming_hll_equals_batch_sketch(spark):
    """The streaming register table must equal the batch sketch exactly —
    MAX-merge determinism is what makes restart/replay safe."""
    import __spark_entry__ as e

    row = e.queries()["streaming_distinct_hll"](spark, SF).first()
    # batch twin over the same fixture, same hash/rho machinery
    from daskberg_spark.operators.registry import table
    from daskberg_spark.operators.sketches import (
        HLL_M,
        HLL_REM_BITS,
        _h48_spark,
        _sql_rho,
    )
    from pyspark.sql import functions as F

    ev = table(spark, SF, "events")
    h = _h48_spark("user_id")
    t = (
        ev.select(
            F.shiftright(h, HLL_REM_BITS).alias("idx"),
            h.bitwiseAND(F.lit((1 << HLL_REM_BITS) - 1)).alias("rem"),
        )
        .groupBy("idx")
        .agg(F.max(F.expr(_sql_rho("rem"))).alias("r"))
        .agg(
            F.sum(
                F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_REM_BITS + 1} - r)")
            ).alias("t"),
            F.count("*").alias("np"),
        )
        .first()
    )
    assert row.t_sum == t.t + (HLL_M - t.np) * (1 << (HLL_REM_BITS + 1))
    assert row.n_empty == HLL_M - t.np


def test_streaming_countmin_overestimates_and_is_deterministic(spark):
    """The streamed count-min grid is a pure function of the data: est >=
    exact for every probed user, and a re-run (different micro-batch
    interleavings) returns identical estimates."""
    from daskberg_spark.streaming.events import streaming_topk_countmin

    rows = streaming_topk_countmin(spark, SF).collect()
    assert len(rows) == 10
    for r in rows:
        assert r.est_n >= r.exact_n > 0
    again = streaming_topk_countmin(spark, SF).collect()
    assert [(r.user_id, r.est_n) for r in rows] == [
        (r.user_id, r.est_n) for r in again
    ]


def test_streaming_iceberg_source_tails_snapshots(spark, tmp_path):
    """The Python-DataSource streaming SOURCE: initial backfill emits the
    full table, a mid-stream append arrives exactly once (no loss, no
    duplication), and a non-append snapshot in the tailed range fails
    the strict stream with an actionable error."""
    import pytest as _pytest

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

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
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg").option("path", p).load()
    )
    assert stream.schema.simpleString() == "struct<id:bigint,grp:string>"
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_tail")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_tail").collect())
        assert got == list(range(30))
        w.append([{"id": i, "grp": "c"} for i in range(100, 105)])
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_tail").collect())
        assert got == list(range(30)) + list(range(100, 105))
        delete_where_spark(w, spark, "id = 0")
        w.append([{"id": 200, "grp": "d"}])
        with _pytest.raises(Exception, match="non-append"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_iceberg_source_schema_evolution(spark, tmp_path):
    """Streaming an evolved table: files written BEFORE a column was
    added null-fill it with the declared type (typed Arrow nulls — an
    untyped null array fails the data-source worker's schema check),
    and a renamed column's old files still stream under the new name."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}, {"id": 2}])
    w.add_column("score", "double")
    w.rename_column("id", "ident")
    w.append([{"ident": 3, "score": 0.5}])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg").option("path", p).load()
    )
    assert stream.schema.simpleString() == "struct<ident:bigint,score:double>"
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_evolved")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            r["ident"]: r["score"] for r in spark.table("ice_evolved").collect()
        }
        assert rows == {1: None, 2: None, 3: 0.5}
    finally:
        q.stop()


def test_streaming_iceberg_source_partial_manifest_rewrite(spark, tmp_path):
    """A later rewrite that consolidates only SOME of an append's
    manifests must not lose the survivors' rows: planning falls back to
    the append's own manifest list whenever a non-append snapshot
    follows it in the streamed range (the grouped end-list cannot prove
    completeness there)."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        commit_spark_output,
        merge_rows_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    # one append spanning >100 files → multiple manifests (100/chunk)
    df = spark.range(400).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v")
    ).repartition(150)
    stage = f"{p}/data-0"
    df.write.mode("overwrite").parquet(stage)
    commit_spark_output(w, stage)
    import glob as _glob

    n_files = len(_glob.glob(f"{stage}/*.parquet"))
    assert n_files > 100, n_files  # must span two manifests
    # CoW merge matching ONE row rewrites only the manifests holding the
    # matched file; sibling manifests carry forward
    merge_rows_spark(
        w,
        spark,
        spark.createDataFrame([(7, -1.0)], "k long, v double"),
        ["k"],
    )
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("skip-non-append-snapshots", "true")
        .load()
        .writeStream.format("memory")
        .queryName("ice_partial")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["k"] for r in spark.table("ice_partial").collect())
        # every appended row delivered exactly once (pre-merge values:
        # the append's own files are the source of record for its rows)
        assert got == list(range(400))
    finally:
        q.stop()


def test_streaming_iceberg_source_skip_non_append(spark, tmp_path):
    """With skip-non-append-snapshots=true a compaction/delete commit in
    the range is ignored (its file changes would re-emit delivered rows)
    while genuine appends keep flowing."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(10)])
    delete_where_spark(w, spark, "id = 3")  # delete snapshot BEFORE start
    w.append([{"id": 100}])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("skip-non-append-snapshots", "true")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_skip")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_skip").collect())
        # file-level semantics: the appends' files, row deletes unapplied
        assert got == list(range(10)) + [100]
        w.append([{"id": 101}])
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_skip").collect())
        assert got == list(range(10)) + [100, 101]
    finally:
        q.stop()


def test_streaming_iceberg_source_append_survives_compaction(spark, tmp_path):
    """Regression (review r6): an append committed and then REWRITTEN by
    a compaction before the next micro-batch must still deliver its rows
    — partitions() reads each append snapshot's own manifests, never a
    live-set diff that a later rewrite would erase."""
    from daskberg_spark.iceberg.writer import IcebergWriter, compact_files
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(10)])
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("skip-non-append-snapshots", "true")
        .load()
        .writeStream.format("memory")
        .queryName("ice_compact_race")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        # two appends land, then compaction rewrites them BEFORE the
        # stream's next micro-batch
        w.append([{"id": 100}])
        w.append([{"id": 101}])
        assert compact_files(w, min_file_bytes=10**9) is not None
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_compact_race").collect())
        # the un-delivered appends arrive exactly once; the compaction's
        # rewritten file is skipped (it would duplicate ids 0..9)
        assert got == list(range(10)) + [100, 101]
    finally:
        q.stop()


def test_streaming_iceberg_source_rate_limit(spark, tmp_path):
    """max-files-per-trigger bounds each micro-batch: five single-file
    appends with a 2-file budget drain in >=3 micro-batches, every row
    delivered exactly once."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    for k in range(5):
        w.append([{"id": k * 10 + j} for j in range(3)])
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("max-files-per-trigger", "2")
        .load()
        .writeStream.format("memory")
        .queryName("ice_rate")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["id"] for r in spark.table("ice_rate").collect())
        assert got == sorted(k * 10 + j for k in range(5) for j in range(3))
        batches = [
            pr for pr in q.recentProgress if pr["numInputRows"] > 0
        ]
        assert len(batches) >= 3  # 5 files under a 2-file budget
        assert max(pr["numInputRows"] for pr in batches) <= 6  # 2 files x 3
    finally:
        q.stop()


def test_streaming_iceberg_source_rename_after_skipped_rewrite(spark, tmp_path):
    """Regression (r8 advice, high): with skip-non-append-snapshots=true,
    an append committed AFTER a non-append snapshot plus a column rename
    streamed the renamed column as nulls — the per-snapshot own-list
    fallback re-opened an OLDER snapshot, mutating the stateful t.schema,
    so later files aligned their renames against the stale schema.  The
    fix aligns every file to the DECLARED schema, captured once."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "long", "required": False}]
    )
    w.append([{"x": 1}])
    delete_where_spark(w, spark, "x = 1")  # non-append inside the range
    w.rename_column("x", "y")
    w.append([{"y": 2}])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("skip-non-append-snapshots", "true")
        .load()
    )
    assert stream.schema.simpleString() == "struct<y:bigint>"
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_rename_skip")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(r["y"] for r in spark.table("ice_rename_skip").collect())
        # file-level semantics: the delete's file changes are skipped;
        # BOTH appended rows stream under the declared (renamed) column —
        # the stale-schema bug null-filled the post-rename file's rows
        assert got == [1, 2]
    finally:
        q.stop()


def test_streaming_iceberg_source_rate_limit_spanning_rename(spark, tmp_path):
    """Regression (r8 advice, medium): under max-files-per-trigger the
    end snapshot lags head; with a rename between them, projection
    columns came from the HEAD schema while renames targeted the END
    schema, null-filling the column for the lagging micro-batches.  All
    alignment now derives from the one DECLARED schema."""
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "long", "required": False}]
    )
    w.append([{"x": 1}])
    w.append([{"x": 2}])
    w.rename_column("x", "y")
    w.append([{"y": 3}])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("max-files-per-trigger", "1")
        .load()
    )
    assert stream.schema.simpleString() == "struct<y:bigint>"
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_rate_rename")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.table("ice_rate_rename").collect()
        # pre-rename files (delivered in rate-limited micro-batches whose
        # END precedes the rename) must carry their values under the
        # declared name, not nulls
        assert sorted(r["y"] for r in rows) == [1, 2, 3]
        batches = [
            pr
            for pr in q.recentProgress
            if pr["numInputRows"] > 0
        ]
        assert len(batches) >= 3  # 3 files under a 1-file budget
    finally:
        q.stop()


def test_stream_reader_target_schema_prefers_newest_match(spark, tmp_path):
    """Review r8: a type promotion produces two schemas with identical
    name lists; the declared struct (resolved at stream start from the
    NEWEST) must resolve to the wide schema, or batches would carry
    narrow Arrow arrays the data-source worker rejects."""
    from pyspark.sql import types as T

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import IcebergStreamReader

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "x", "type": "int", "required": False}]
    )
    w.append([{"x": 1}])
    w.update_column_type("x", "long")
    w.append([{"x": 2}])
    # force the name-match path: declared names differ from a LATER head
    # rename, so the reader must search the schema list
    w.rename_column("x", "y")
    declared = T.StructType([T.StructField("x", T.LongType(), True)])
    r = IcebergStreamReader({"path": p}, declared)
    sch = r._resolve_target_schema(IcebergTable(p))
    assert [f["name"] for f in sch["fields"]] == ["x"]
    assert sch["fields"][0]["type"] == "long"  # newest match, not the int one


def test_streaming_iceberg_source_cdc_mode(spark, tmp_path):
    """mode=cdc: appends stream as inserts; DV commits stream the NEW
    positions only (prior-blob delta); a whole-file removal streams the
    rows still live at the parent; compaction emits nothing; every row
    carries _change_type + _commit_snapshot_id."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_dv_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
    )
    w.append([{"id": i, "grp": "ab"[i % 2]} for i in range(10)])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .load()
    )
    assert stream.schema.simpleString() == (
        "struct<id:bigint,grp:string,_change_type:string,"
        "_commit_snapshot_id:bigint>"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_cdc")
        .outputMode("append")
        .start()
    )

    def rows():
        return [
            (r["id"], r["_change_type"], r["_commit_snapshot_id"])
            for r in spark.table("ice_cdc").collect()
        ]

    try:
        q.processAllAvailable()
        s1 = w.snapshots[0]["snapshot-id"]
        assert sorted(rows()) == [(i, "insert", s1) for i in range(10)]

        # DV commit: positions of id % 3 == 0 become deletes
        delete_where_dv_spark(w, spark, "id % 3 = 0")
        s2 = w.snapshots[-1]["snapshot-id"]
        q.processAllAvailable()
        assert sorted(x for x in rows() if x[1] == "delete") == [
            (i, "delete", s2) for i in (0, 3, 6, 9)
        ]

        # second DV on the same file: stream ONLY the new position
        # (the writer merged it into one blob — the delta must subtract
        # the prior blob, not re-emit it)
        first = IcebergTable(p).plan_files()[0]["file_path"]
        w.delete_positions_dv({first: [1]})
        s3 = w.snapshots[-1]["snapshot-id"]
        q.processAllAvailable()
        new_deletes = [x for x in rows() if x[2] == s3]
        assert new_deletes == [(1, "delete", s3)]

        # append keeps streaming as inserts alongside
        w.append([{"id": 100, "grp": "z"}])
        s4 = w.snapshots[-1]["snapshot-id"]
        q.processAllAvailable()
        assert [x for x in rows() if x[2] == s4] == [(100, "insert", s4)]

        # whole-file removal: only rows still live at the parent emit
        # (0,1,3,6,9 are already dead via DVs)
        w.delete_files(lambda df: df["file_path"] == first)
        s5 = w.snapshots[-1]["snapshot-id"]
        q.processAllAvailable()
        assert sorted(x for x in rows() if x[2] == s5) == [
            (i, "delete", s5) for i in (2, 4, 5, 7, 8)
        ]

        # compaction is not a logical change: nothing streams
        w.append([{"id": 101, "grp": "z"}])
        q.processAllAvailable()
        before = sorted(rows())
        assert compact_files(w, min_file_bytes=1 << 30) is not None
        q.processAllAvailable()
        assert sorted(rows()) == before

        # CDC net state == batch read of the final table
        net = {}
        for vid, ct, sid in sorted(rows(), key=lambda x: x[2]):
            if ct == "insert":
                net[vid] = net.get(vid, 0) + 1
            else:
                net[vid] = net.get(vid, 0) - 1
        alive = {vid for vid, n in net.items() if n > 0}
        t = IcebergTable(p)
        assert alive == {r["id"] for r in t.to_df(spark).collect()}
    finally:
        q.stop()


def test_streaming_cdc_equality_delete_commit(spark, tmp_path):
    """A pure equality-delete commit (no data half) streams as exactly
    the matching live rows — eq-deletes graduated from rejection to
    ``eq_delta`` partitions when the blind-upsert path landed."""
    from daskberg_spark.iceberg.writer import IcebergWriter, delete_keys_spark
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(5)])
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("ice_cdc_eqdel")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        sid = delete_keys_spark(
            w, spark, spark.createDataFrame([(2,), (4,)], "id long")
        )
        q.processAllAvailable()
        got = sorted(
            (r["id"], r["_change_type"], r["_commit_snapshot_id"])
            for r in spark.table("ice_cdc_eqdel").collect()
            if r["_change_type"] == "delete"
        )
        assert got == [(2, "delete", sid), (4, "delete", sid)]
    finally:
        q.stop()


def test_streaming_cdc_position_delete_parquet(spark, tmp_path):
    """v2 position-delete parquet streams in BOTH roles (late r8 —
    previously a raise): a new position-delete commit emits exactly its
    newly-dead rows (pos_delta), and a pre-existing one joins the
    parent dead set so a later whole-file removal does NOT re-emit the
    rows it already killed."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(5)])
    target = next(iter(IcebergTable(p).scan_all()[0]))
    w.delete_rows_position([(target, 1)])  # BEFORE the stream starts
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .option("from-beginning", "false")
        .load()
        .writeStream.format("memory")
        .queryName("ice_cdc_posdel")
        .outputMode("append")
        .start()
    )

    def rows():
        return sorted(
            (r["id"], r["_change_type"])
            for r in spark.table("ice_cdc_posdel").collect()
        )

    try:
        q.processAllAvailable()  # empty: stream tails from the head
        assert rows() == []
        # NEW position-delete commit: only its newly-dead row streams
        # (pos 1 is already dead under the pre-stream delete)
        w.delete_rows_position([(target, 1), (target, 3)])
        q.processAllAvailable()
        assert rows() == [(3, "delete")]
        # whole-file removal: rows 1 and 3 are dead at the parent under
        # the v2 deletes — only the still-live rows emit
        w.delete_files(
            lambda d: d["file_path"].endswith(target.rsplit("/", 1)[1])
        )
        q.processAllAvailable()
        assert rows() == [
            (0, "delete"), (2, "delete"), (3, "delete"), (4, "delete")
        ]
    finally:
        q.stop()


def test_streaming_source_branch_option(spark, tmp_path):
    """option("branch", ...) tails a named branch's head: a WAP-staged
    commit streams through the branch while a main-tailing stream sees
    nothing until publish."""
    from daskberg_spark.iceberg.writer import IcebergWriter, stage_append
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 1}, {"id": 2}])
    stage_append(w, [{"id": 3}], "audit")   # staged: main stays pinned
    register(spark)

    def drain(name, **opts):
        reader = (
            spark.readStream.format("daskberg_iceberg").option("path", p)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        q = (
            reader.load()
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .start()
        )
        try:
            q.processAllAvailable()
            return sorted(r["id"] for r in spark.table(name).collect())
        finally:
            q.stop()

    assert drain("br_main") == [1, 2]                       # pinned main
    assert drain("br_audit", branch="audit") == [1, 2, 3]   # staged head
    import pytest as _pytest

    with _pytest.raises(Exception, match="no (such )?ref"):
        drain("br_nope", branch="nope")


def test_upsert_sink_distributed_and_replay(spark, tmp_path):
    """upsert_spark_output applies a batch as ONE eq-delete + data
    overwrite commit (executor-written halves, no target read); the
    foreachBatch wrapper is exactly-once — a replayed epoch whose
    snapshot exists skips the commit entirely."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (binds to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.events import iceberg_upsert_sink

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    sink = iceberg_upsert_sink(w, on=["k"])
    sink(spark.createDataFrame([(i, float(i)) for i in range(6)], "k long, v double"), 0)
    sink(spark.createDataFrame([(2, -2.0), (9, 9.0)], "k long, v double"), 1)
    t = IcebergTable(p)
    got = {r["k"]: r["v"] for r in t.to_df(spark).collect()}
    assert got == {0: 0.0, 1: 1.0, 2: -2.0, 3: 3.0, 4: 4.0, 5: 5.0, 9: 9.0}
    snaps = t.metadata["snapshots"]
    assert len(snaps) == 2  # one commit per epoch
    assert all(s["summary"]["operation"] == "overwrite" for s in snaps)
    assert snaps[1]["summary"]["upsert-keys"] == "k"
    # delete half committed as content=2 entries with the key's field id
    dels = t.plan_deletes()
    assert dels and all(d["content"] == 2 for d in dels)
    assert all(d["equality_ids"] == [1] for d in dels)
    # replayed epoch: snapshot exists -> no new commit, no state change
    sink(spark.createDataFrame([(2, 777.0)], "k long, v double"), 1)
    t2 = IcebergTable(p)
    assert len(t2.metadata["snapshots"]) == 2
    assert {r["k"]: r["v"] for r in t2.to_df(spark).collect()} == got
    # empty batch: no commit
    sink(spark.createDataFrame([], "k long, v double"), 2)
    assert len(IcebergTable(p).metadata["snapshots"]) == 2


def test_streaming_cdc_equality_upsert(spark, tmp_path):
    """mode=cdc over blind equality-delete upserts: each upsert commit
    streams deletes for exactly the parent-live rows matching its keys
    (sequence-correct: the upsert's own inserts never match their own
    delete) plus inserts for the new values; a SECOND upsert re-touching
    a key deletes the FIRST upsert's row, never re-emits rows already
    dead under the carried equality delete; the drained change stream
    nets to the final table state."""
    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(10)])
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("ice_equp")
        .outputMode("append")
        .start()
    )

    def rows():
        return [
            (r["k"], r["v"], r["_change_type"], r["_commit_snapshot_id"])
            for r in spark.table("ice_equp").collect()
        ]

    try:
        q.processAllAvailable()
        assert len(rows()) == 10  # backfill inserts

        # upsert 1: keys 5..12 — deletes for live 5..9 (OLD values),
        # inserts for 5..12 (new values); 10..12 are pure inserts
        s1 = w.upsert_rows_equality(
            [{"k": k, "v": k + 100.0} for k in range(5, 13)], on=["k"]
        )
        q.processAllAvailable()
        c1 = sorted(x for x in rows() if x[3] == s1)
        assert [x for x in c1 if x[2] == "delete"] == [
            (k, float(k), "delete", s1) for k in range(5, 10)
        ]
        assert [x for x in c1 if x[2] == "insert"] == [
            (k, k + 100.0, "insert", s1) for k in range(5, 13)
        ]

        # upsert 2: keys 7, 8, 25 — deletes must target upsert 1's rows
        # (v = k+100), NOT the original rows (already dead under the
        # carried eq-delete: prior_eq subtraction) and NOT emit k=25
        s2 = w.upsert_rows_equality(
            [{"k": k, "v": k + 200.0} for k in (7, 8, 25)], on=["k"]
        )
        q.processAllAvailable()
        c2 = sorted(x for x in rows() if x[3] == s2)
        assert [x for x in c2 if x[2] == "delete"] == [
            (7, 107.0, "delete", s2),
            (8, 108.0, "delete", s2),
        ]
        assert [x for x in c2 if x[2] == "insert"] == [
            (7, 207.0, "insert", s2),
            (8, 208.0, "insert", s2),
            (25, 225.0, "insert", s2),
        ]

        # net state: inserts minus deletes == the table read back
        net: dict = {}
        for k, v, ct, _ in sorted(rows(), key=lambda x: x[3]):
            if ct == "insert":
                net[(k, v)] = net.get((k, v), 0) + 1
            else:
                net[(k, v)] -= 1
        streamed = sorted(kv for kv, n in net.items() if n)
        table_state = sorted(
            (r["k"], r["v"]) for r in IcebergTable(p).to_df(spark).collect()
        )
        assert streamed == table_state
    finally:
        q.stop()


def test_streaming_cdc_same_commit_pos_delete(spark, tmp_path):
    """A commit adding a data file AND a position delete targeting that
    same file (foreign in-checkpoint replacement shape): the insert
    partition must exclude the dead-on-arrival rows — the batch scan
    applies position deletes without a sequence gate, so streaming the
    full file would disagree with the table."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": 0}, {"id": 1}])
    # forge ONE overwrite commit: a new data file (ids 10..14) plus a
    # position delete killing its rows 1 and 3 in the same snapshot
    sid = w._next_snapshot_id
    data_entries = w._build_data_entries([{"id": 10 + i} for i in range(5)], sid)
    target = data_entries[0]["data_file"]["file_path"]
    w._file_counter += 1
    dpath = f"{w.path}/data/pos-delete-{w._file_counter:05d}-{w._instance}.parquet"
    papq.write_table(
        pa.table(
            {
                "file_path": pa.array([target, target], pa.string()),
                "pos": pa.array([1, 3], pa.int64()),
            }
        ),
        dpath,
    )
    w._format_version = max(w._format_version, 2)
    pos_entry = {
        "status": 1,
        "snapshot_id": sid,
        "data_file": {
            "content": 1,
            "file_path": dpath,
            "file_format": "PARQUET",
            "partition": {},
            "record_count": 2,
            "file_size_in_bytes": os.path.getsize(dpath),
            "lower_bounds": None,
            "upper_bounds": None,
            "equality_ids": None,
        },
    }
    w._commit(sid, [(w.current_spec_id, data_entries + [pos_entry])], "overwrite")
    # batch read: rows 11 and 13 are dead on arrival
    batch = sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())
    assert batch == [0, 1, 10, 12, 14]
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .load()
        .writeStream.format("memory")
        .queryName("ice_cdc_samec")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["id"], r["_change_type"])
            for r in spark.table("ice_cdc_samec").collect()
        )
        # the streamed inserts equal the batch-visible rows exactly
        assert got == [(i, "insert") for i in (0, 1, 10, 12, 14)]
    finally:
        q.stop()


def test_streaming_cdc_foreign_named_delete_file(spark, tmp_path):
    """ADVICE r8 (low): a foreign equality-delete file whose PHYSICAL
    column names differ from the pinned write-time names must stream via
    positional alignment in equality_ids order (the batch scan's rule) —
    not die with an opaque executor ArrowInvalid mid-stream."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(6)])
    w.delete_rows_equality([{"k": 2}, {"k": 4}])
    # rewrite the delete parquet in place with a foreign column name
    dels = [
        d for d in IcebergTable(p).plan_deletes() if d.get("content") == 2
    ]
    assert len(dels) == 1
    dp = dels[0]["file_path"]
    tbl = pq.read_table(dp)
    pq.write_table(tbl.rename_columns(["field_0"]), dp)

    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .option("from", "start")
        .load()
        .writeStream.format("memory")
        .queryName("ice_foreign_del")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["k"], r["_change_type"])
            for r in spark.table("ice_foreign_del").collect()
        )
        inserts = [(k, "insert") for k in range(6)]
        deletes = [(2, "delete"), (4, "delete")]
        assert got == sorted(inserts + deletes)
    finally:
        q.stop()


def test_epoch_sinks_tolerate_summaryless_snapshot(spark, tmp_path):
    """ADVICE r8 (low): a snapshot without a ``summary`` (optional in
    Iceberg v1 metadata — possible on a loaded foreign table) must not
    kill the stream: both epoch sinks' idempotence checks read it
    defensively instead of raising KeyError."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.events import (
        iceberg_epoch_sink,
        iceberg_upsert_sink,
    )

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.identifier_field_ids = [1]
    w.append([{"k": 0, "v": 0.0}])
    # simulate foreign v1 metadata: the snapshot carries no summary
    del w.snapshots[-1]["summary"]

    batch = spark.createDataFrame([(1, 1.0)], "k long, v double")
    iceberg_upsert_sink(w, on=["k"])(batch, 7)
    batch2 = spark.createDataFrame([(2, 2.0)], "k long, v double")
    iceberg_epoch_sink(w)(batch2, 8)
    got = sorted(
        (r["k"], r["v"]) for r in IcebergTable(p).to_df(spark).collect()
    )
    assert got == [(0, 0.0), (1, 1.0), (2, 2.0)]
    # replay of an already-committed epoch stays a no-op
    n = len(w.snapshots)
    iceberg_upsert_sink(w, on=["k"])(batch, 7)
    assert len(w.snapshots) == n


def test_streaming_multiformat_data_files(spark, tmp_path):
    """The streaming source reads AVRO/ORC data files through the same
    format-dispatched load as the batch layer (partitions carry
    ``file_format``): a mixed-format table streams every append, and
    mode=cdc streams a DV delete against an AVRO file row-exactly
    (positions = decode row order, same identity the batch scan
    tags)."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_dv_spark,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
        ],
    )
    w.append([{"k": 1}])
    w.append([{"k": 2}], file_format="avro")
    w.append([{"k": 3}], file_format="orc")
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .option("from", "start")
        .load()
        .writeStream.format("memory")
        .queryName("ice_mf")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            (r["k"], r["_change_type"])
            for r in spark.table("ice_mf").collect()
        )
        assert got == [(1, "insert"), (2, "insert"), (3, "insert")]
        # DV delete on the AVRO file streams exactly its dead row
        delete_where_dv_spark(w, spark, "k = 2")
        q.processAllAvailable()
        got2 = sorted(
            (r["k"], r["_change_type"])
            for r in spark.table("ice_mf").collect()
        )
        assert got2 == [
            (1, "insert"),
            (2, "delete"),
            (2, "insert"),
            (3, "insert"),
        ]
    finally:
        q.stop()


def test_streaming_cdc_partial_name_match_raises(spark, tmp_path):
    """Review r9: per-column name-then-positional mixing could pick the
    same physical column twice when a foreign delete file's names
    PARTIALLY overlap the pinned key names — that must be a loud
    plan-shaped failure (point at the batch changelog), never silently
    wrong delete keys."""
    import pyarrow.parquet as pq

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "a", "type": "long", "required": True},
            {"id": 2, "name": "b", "type": "long", "required": True},
            {"id": 3, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"a": i, "b": i * 10, "v": float(i)} for i in range(5)])
    w.delete_rows_equality([{"a": 2, "b": 20}])
    dels = [
        d for d in IcebergTable(p).plan_deletes() if d.get("content") == 2
    ]
    dp = dels[0]["file_path"]
    # foreign rename where names PARTIALLY overlap: (a,b) -> (b,c)
    pq.write_table(pq.read_table(dp).rename_columns(["b", "c"]), dp)

    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .option("from", "start")
        .load()
        .writeStream.format("memory")
        .queryName("ice_partial")
        .outputMode("append")
        .start()
    )
    try:
        import pytest as _pytest

        with _pytest.raises(Exception, match="partially"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_variant_table_plan_time_refusal(spark, tmp_path):
    """Streaming a v3 variant table fails at PLAN time with a pointer to
    the batch scan (the Python Data Source worker cannot ship variant
    columns as Arrow batches) — never as an opaque worker error."""
    import pytest as _pytest

    from daskberg_spark.iceberg.fixtures import ensure_variant_fixture
    from daskberg_spark.streaming.iceberg_source import register

    p = ensure_variant_fixture(spark)
    register(spark)
    q = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("from", "start")
        .load()
        .writeStream.format("memory")
        .queryName("ice_varstream")
        .outputMode("append")
        .start()
    )
    try:
        with _pytest.raises(Exception, match="batch scan"):
            q.processAllAvailable()
    finally:
        q.stop()


def test_streaming_cdc_fast_delete_mixed_commit(spark, tmp_path):
    """mode=cdc over a delete_where_fast commit — whole-file tombstones
    AND a boundary DV in ONE snapshot (a commit shape no single prior
    op produced): the stream must emit exactly the dead rows, each
    once."""
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        delete_where_fast,
    )
    from daskberg_spark.streaming.iceberg_source import register

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    w.append([{"id": i, "grp": c} for c in "ab" for i in range(5)])
    register(spark)
    stream = (
        spark.readStream.format("daskberg_iceberg")
        .option("path", p)
        .option("mode", "cdc")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("ice_cdc_fastdel")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        delete_where_fast(
            w, spark, [[("grp", "==", "a")], [("grp", "==", "b"), ("id", "<", 2)]]
        )
        q.processAllAvailable()
        got = sorted(
            (r["grp"], r["id"])
            for r in spark.table("ice_cdc_fastdel").collect()
            if r["_change_type"] == "delete"
        )
        assert got == sorted(
            [("a", i) for i in range(5)] + [("b", 0), ("b", 1)]
        )
        # no duplicate emissions across the two delete kinds
        all_deletes = [
            (r["grp"], r["id"])
            for r in spark.table("ice_cdc_fastdel").collect()
            if r["_change_type"] == "delete"
        ]
        assert len(all_deletes) == len(set(all_deletes))
    finally:
        q.stop()


def test_epoch_sink_keeps_stats_fresh(spark, tmp_path):
    """``stats_every=N``: a streamed table's NDV statistics refresh
    every N committed epochs through the INCREMENTAL path (the sink's
    commits are pure appends), so CBO inputs stay current without a
    full re-scan; epochs between refreshes leave stats untouched."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        write_table_statistics,
    )
    from daskberg_spark.streaming.events import iceberg_epoch_sink

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p,
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "double", "required": False},
        ],
    )
    w.append([{"k": i, "v": float(i)} for i in range(10)])
    write_table_statistics(w, spark)
    sink = iceberg_epoch_sink(w, stats_every=2)
    for epoch in range(4):
        lo = 10 + epoch * 5
        batch = spark.createDataFrame(
            [(i, float(i)) for i in range(lo, lo + 5)], "k long, v double"
        )
        sink(batch, epoch)
        t = IcebergTable(p)
        if (epoch + 1) % 2 == 0:
            # refresh epochs: stats cover the sink's latest snapshot
            assert t.column_ndv("k") == lo + 5
        else:
            # off epochs: stats are one refresh behind (None for the
            # HEAD snapshot — column_ndv is snapshot-exact)
            assert t.column_ndv("k") is None
    # the refresh went through the incremental path: the final stats
    # entry's snapshot parent chain holds the interleaved appends
    assert IcebergTable(p).column_theta("k").is_exact


def test_corpus_dedup_across_batches_bounded_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark dedups a replay arriving in a
    LATER micro-batch (state outlives the batch) while the plan carries
    the bounded-state operator, not the unbounded dropDuplicates."""
    import time

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    import os

    os.makedirs(src)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    batch1 = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
            (2, "one two three four five six seven eight nine ten", "en", "s", 10),
        ],
        cols,
    )
    batch1.coalesce(1).write.mode("append").parquet(src)
    time.sleep(1.1)  # distinct mtimes: file order == arrival order
    batch2 = spark.createDataFrame(
        [
            # exact replay of doc 1's text (new doc_id): must dedup
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "s", 10),
            (4, "completely fresh words live here beyond all prior texts ok", "en", "s", 10),
        ],
        cols,
    )
    batch2.coalesce(1).write.mode("append").parquet(src)

    from daskberg_spark.operators.text import _tokens

    stream = (
        spark.readStream.schema(batch1.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    fp = F.md5(
        F.encode(
            F.lower(F.regexp_replace("text", "[ \\t\\n\\f\\r]+", " ")),
            "UTF-8",
        )
    )
    ts = F.timestamp_micros((F.col("doc_id") + F.lit(86_400)) * F.lit(1_000_000))
    gated = (
        stream.withColumn("ts", ts)
        .withColumn("fp", fp)
        .filter(F.size(_tokens(F.col("text"))) >= 5)
        .withWatermark("ts", "1 hour")
    )
    deduped = gated.dropDuplicatesWithinWatermark(["lang", "fp"])
    agg = deduped.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    import uuid as _uuid

    name = f"corpus_dedup_{_uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        # bounded-state operator (not unbounded dropDuplicates) in the
        # executed plan
        ops = {
            s["operatorName"] for s in q.lastProgress["stateOperators"]
        }
        assert "dedupeWithinWatermark" in ops, ops
    finally:
        q.stop()
    out = {r["lang"]: r["n"] for r in spark.table(name).collect()}
    assert out == {"en": 3}  # 4 docs, one cross-batch replay deduped
