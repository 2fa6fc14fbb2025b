"""Incrementally-maintained materialized rollups (rollup.py): signed
changelog merge vs full recompute under appends, row-level deletes,
NULL groups/values, filters, compaction churn, and rollback."""

from __future__ import annotations


def _source(path):
    from daskberg_spark.iceberg.writer import IcebergWriter

    return IcebergWriter(
        str(path),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "int", "required": False},
        ],
    )


def _recompute(spark, src_path, where=""):
    from daskberg_spark.iceberg.metadata import IcebergTable

    IcebergTable(src_path).to_df(spark).createOrReplaceTempView("__ru_src")
    return sorted(
        map(
            tuple,
            spark.sql(
                "SELECT grp, count(*) n, cast(sum(v) AS decimal(38,0)) s, "
                f"count(v) nn FROM __ru_src {where} GROUP BY grp"
            ).collect(),
        ),
        key=lambda r: (r[0] is None, r[0] or ""),
    )


def _state(spark, ru_path):
    from daskberg_spark.iceberg.metadata import IcebergTable

    return sorted(
        (
            (r.grp, r.n, r.sum_v, r.nn_v)
            for r in IcebergTable(ru_path).to_df(spark).collect()
        ),
        key=lambda r: (r[0] is None, r[0] or ""),
    )


def test_rollup_incremental_appends_and_deletes(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append(
        [
            {"id": i, "grp": "abc"[i % 3], "v": None if i % 5 == 0 else i}
            for i in range(60)
        ]
    )
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    assert _state(spark, rw.path) == _recompute(spark, w.path)
    # append a new group + delete across groups, refresh incrementally
    w.append([{"id": i, "grp": "cd"[i % 2], "v": i} for i in range(100, 130)])
    w.delete_rows_equality([{"id": 7}, {"id": 101}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental" and rep["steps"] == 2
    assert _state(spark, rw.path) == _recompute(spark, w.path)
    # noop when the watermark is current
    assert refresh_rollup(spark, rw)["mode"] == "noop"
    # killing every row of a group removes its rollup row
    w.delete_rows_equality([{"id": i} for i in range(101, 130, 2)])
    refresh_rollup(spark, rw)
    state = _state(spark, rw.path)
    assert state == _recompute(spark, w.path)
    assert "d" not in {g for g, *_ in state}


def test_rollup_allnull_sum_stays_null_through_merge(spark, tmp_path):
    """A group whose every value is NULL must roll up sum=NULL, keep
    NULL when more NULLs arrive, turn non-NULL when a value lands, and
    return to NULL when the last value dies — a coalesce-only merge
    gets all four wrong."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": 1, "grp": "z", "v": None}, {"id": 2, "grp": "z", "v": None}])
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    assert _state(spark, rw.path) == [("z", 2, None, 0)]
    w.append([{"id": 3, "grp": "z", "v": None}])
    refresh_rollup(spark, rw)
    assert _state(spark, rw.path) == [("z", 3, None, 0)]
    w.append([{"id": 4, "grp": "z", "v": 10}])
    refresh_rollup(spark, rw)
    assert _state(spark, rw.path)[0][2:] == (10, 1)
    w.delete_rows_equality([{"id": 4}])
    refresh_rollup(spark, rw)
    assert _state(spark, rw.path) == [("z", 3, None, 0)]
    assert _state(spark, rw.path) == _recompute(spark, w.path)


def test_rollup_null_group_key(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": 1, "grp": None, "v": 3}, {"id": 2, "grp": "a", "v": 4}])
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    w.append([{"id": 3, "grp": None, "v": 5}])
    refresh_rollup(spark, rw)
    # a non-null-safe merge would mint a SECOND NULL-group row
    assert _state(spark, rw.path) == _recompute(spark, w.path)


def test_rollup_filtered_view(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(40)])
    rw = create_rollup(
        spark,
        IcebergTable(w.path),
        str(tmp_path / "ru"),
        ["grp"],
        ["v"],
        filters=[("id", ">=", 10)],
    )
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(100, 120)])
    w.delete_rows_equality([{"id": 15}, {"id": 3}])  # one in, one out
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert _state(spark, rw.path) == _recompute(
        spark, w.path, where="WHERE id >= 10"
    )


def test_rollup_compaction_churn_cancels(spark, tmp_path):
    """Compaction rewrites files (changelog delete+insert pairs with
    identical content) — the signed merge must net to zero change."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup
    from daskberg_spark.iceberg.writer import compact_files_spark

    w = _source(tmp_path / "src")
    for lo in (0, 20, 40):
        w.append(
            [{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(lo, lo + 20)]
        )
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    before = _state(spark, rw.path)
    compact_files_spark(w, spark, min_file_bytes=1 << 20)
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert _state(spark, rw.path) == before == _recompute(spark, w.path)


def test_rollup_refresh_stages_inside_table(spark, tmp_path):
    """A refresh stages its rewrite under the rollup's own ``data/``:
    files staged in the system temp dir would sit outside the table,
    where ``remove_orphan_files`` (which walks only the table directory)
    can never reclaim them once a later refresh replaces them."""
    import os

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(20)])
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    data = os.path.join(os.path.realpath(rw.path), "data") + os.sep
    for lo in (20, 40):
        w.append(
            [{"id": i, "grp": "abc"[i % 3], "v": i} for i in range(lo, lo + 10)]
        )
        assert refresh_rollup(spark, rw)["mode"] == "incremental"
        files = IcebergTable(rw.path).plan_files(None)
        assert files
        for f in files:
            assert os.path.realpath(f["file_path"]).startswith(data), f
    assert _state(spark, rw.path) == _recompute(spark, w.path)


def test_rollup_empty_at_create_then_grows(spark, tmp_path):
    """A filtered view matching NOTHING at create time materializes an
    empty rollup; the first refresh over matching appends populates it
    incrementally (the empty-old-side join corner)."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "a", "v": i} for i in range(5)])
    rw = create_rollup(
        spark,
        IcebergTable(w.path),
        str(tmp_path / "ru"),
        ["grp"],
        ["v"],
        filters=[("id", ">=", 100)],
    )
    assert _state(spark, rw.path) == []
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(100, 120)])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert _state(spark, rw.path) == _recompute(
        spark, w.path, where="WHERE id >= 100"
    )


def test_rollup_maintain_advances_watermark(spark, tmp_path):
    """maintain() on a rollup table refreshes it from the source —
    the nightly-job wiring every other statistics asset has."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup
    from daskberg_spark.iceberg.writer import maintain

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(30)])
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    w.append([{"id": i, "grp": "c", "v": i} for i in range(50, 60)])
    report = maintain(rw, spark=spark, keep_last=100)
    assert report["refresh_rollup"] == "incremental"
    assert _state(spark, rw.path) == _recompute(spark, w.path)
    # and the plain-table path stays a no-op
    report2 = maintain(w, spark=spark, keep_last=100)
    assert report2["refresh_rollup"] is None


def test_agg_via_rollup_router(spark, tmp_path):
    """The materialized-view rewrite: answers subset-grouped COUNT/SUM
    batteries from a FRESH registered rollup with zero source IO,
    refuses stale/filtered/uncovered rollups, and re-qualifies after a
    refresh."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import (
        PROP_REGISTRY,
        agg_via_rollup,
        create_rollup,
        refresh_rollup,
    )

    w = _source(tmp_path / "src")
    w.append(
        [
            {"id": i, "grp": "abc"[i % 3], "v": None if i % 5 == 0 else i}
            for i in range(90)
        ]
    )
    src = IcebergTable(w.path)
    rw = create_rollup(
        spark, src, str(tmp_path / "ru"), ["grp"], ["v"], source_writer=w
    )
    # registration landed on the source through the caller's handle
    src = IcebergTable(w.path)
    assert PROP_REGISTRY in (src.metadata.get("properties") or {})
    battery = [
        ("count", "*", "n"),
        ("sum", "v", "s_v"),
        ("count", "v", "n_v"),
    ]
    out = agg_via_rollup(src, spark, battery, group_by=["grp"])
    assert out is not None and src.last_scan["files_scanned"] == 0
    got = sorted((r.grp, r.n, r.s_v, r.n_v) for r in out.collect())
    src.to_df(spark).createOrReplaceTempView("__rar")
    truth = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT grp, count(*), cast(sum(v) as decimal(38,0)), "
                "count(v) FROM __rar GROUP BY grp"
            ).collect(),
        )
    )
    assert got == truth
    # whole-table refuses (group_by required), unknown agg refuses
    assert agg_via_rollup(src, spark, battery, group_by=[]) is None
    assert (
        agg_via_rollup(src, spark, [("min", "v", "m")], group_by=["grp"])
        is None
    )
    # a commit makes the rollup STALE: router must refuse, not lie
    w.append([{"id": 1000, "grp": "a", "v": 7}])
    src = IcebergTable(w.path)
    assert agg_via_rollup(src, spark, battery, group_by=["grp"]) is None
    # refresh re-qualifies it
    refresh_rollup(spark, rw)
    src = IcebergTable(w.path)
    out2 = agg_via_rollup(src, spark, battery, group_by=["grp"])
    assert out2 is not None
    src.to_df(spark).createOrReplaceTempView("__rar2")
    truth2 = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT grp, count(*), cast(sum(v) as decimal(38,0)), "
                "count(v) FROM __rar2 GROUP BY grp"
            ).collect(),
        )
    )
    assert sorted((r.grp, r.n, r.s_v, r.n_v) for r in out2.collect()) == truth2
    # an uncovered sum column refuses
    assert (
        agg_via_rollup(src, spark, [("sum", "id", "s")], group_by=["grp"])
        is None
    )


def test_agg_via_rollup_subset_grouping(spark, tmp_path):
    """A rollup keyed on (grp, k) answers GROUP BY grp by
    re-aggregation — including NULL-sum subgroups collapsing right."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import agg_via_rollup, create_rollup
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "src"),
        [
            {"id": 1, "name": "grp", "type": "string", "required": False},
            {"id": 2, "name": "k", "type": "int", "required": False},
            {"id": 3, "name": "v", "type": "int", "required": False},
        ],
    )
    w.append(
        [
            {"grp": "a", "k": 0, "v": None},  # all-NULL subgroup
            {"grp": "a", "k": 1, "v": 10},
            {"grp": "b", "k": 0, "v": None},
            {"grp": "b", "k": 1, "v": None},  # all-NULL GROUP after subset
        ]
    )
    src = IcebergTable(w.path)
    create_rollup(
        spark, src, str(tmp_path / "ru"), ["grp", "k"], ["v"], source_writer=w
    )
    src = IcebergTable(w.path)
    out = agg_via_rollup(
        src, spark, [("count", "*", "n"), ("sum", "v", "s")], group_by=["grp"]
    )
    got = {r.grp: (r.n, r.s) for r in out.collect()}
    assert got == {"a": (2, 10), "b": (2, None)}


def test_rollup_minmax_inserts_merge_deletes_recompute(spark, tmp_path):
    """MIN/MAX maintenance: inserts merge via least/greatest with zero
    source IO; a delete dirties ONLY its group, and the targeted
    recompute reads just that group's files (identity partitioning
    prunes the rest)."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(tmp_path / "src"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "int", "required": False},
        ],
        [{"name": "grp", "transform": "identity", "source": "grp"}],
    )
    rows = [
        {"id": i, "grp": "abc"[i % 3], "v": None if i % 7 == 0 else i * 3}
        for i in range(90)
    ]
    for g in "abc":
        w.append([r for r in rows if r["grp"] == g])
    src = IcebergTable(w.path)
    rw = create_rollup(
        spark,
        src,
        str(tmp_path / "ru"),
        ["grp"],
        ["v"],
        minmax_cols=["v", "id"],
    )

    def truth():
        IcebergTable(w.path).to_df(spark).createOrReplaceTempView("__mm")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT grp, count(*), cast(sum(v) as decimal(38,0)),"
                    " count(v), min(v), max(v), min(id), max(id) "
                    "FROM __mm GROUP BY grp"
                ).collect(),
            )
        )

    def state():
        return sorted(
            (
                r.grp,
                r.n,
                r.sum_v,
                r.nn_v,
                r.min_v,
                r.max_v,
                r.min_id,
                r.max_id,
            )
            for r in IcebergTable(rw.path).to_df(spark).collect()
        )

    assert state() == truth()
    # insert-only window: no dirty groups, no recompute scan
    w.append([{"id": 500, "grp": "a", "v": 1}, {"id": 501, "grp": "b", "v": 999}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental" and rep["dirty_minmax_groups"] == 0
    assert state() == truth()
    # delete group a's minimum (id 500, v 1): only group a recomputes,
    # and the recompute scan prunes to group a's files
    w.delete_rows_equality([{"id": 500}])
    total_files = len(IcebergTable(w.path).plan_files(None))
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental" and rep["dirty_minmax_groups"] == 1
    assert rep["source_files_read"] < total_files, rep
    assert state() == truth()


def test_rollup_minmax_null_group_key_falls_back(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append(
        [
            {"id": 1, "grp": None, "v": 3},
            {"id": 2, "grp": None, "v": 9},
            {"id": 3, "grp": "a", "v": 4},
        ]
    )
    src = IcebergTable(w.path)
    rw = create_rollup(
        spark, src, str(tmp_path / "ru"), ["grp"], ["v"], minmax_cols=["v"]
    )
    w.delete_rows_equality([{"id": 2}])  # kills the NULL group's max
    rep = refresh_rollup(spark, rw)
    assert rep["dirty_minmax_groups"] == 1
    got = sorted(
        ((r.grp, r.min_v, r.max_v) for r in IcebergTable(rw.path).to_df(spark).collect()),
        key=lambda r: (r[0] is None, r[0] or ""),
    )
    assert got == [("a", 4, 4), (None, 3, 3)]


def test_rollup_minmax_router_and_float_refusal(spark, tmp_path):
    import pytest as _pytest

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import agg_via_rollup, create_rollup

    from daskberg_spark.iceberg.writer import IcebergWriter

    fw = IcebergWriter(
        str(tmp_path / "fsrc"),
        [
            {"id": 1, "name": "grp", "type": "string", "required": False},
            {"id": 2, "name": "d", "type": "double", "required": False},
        ],
    )
    fw.append([{"grp": "a", "d": 1.5}])
    with _pytest.raises(ValueError, match="NaN ordering"):
        create_rollup(
            spark,
            IcebergTable(fw.path),
            str(tmp_path / "bad"),
            ["grp"],
            [],
            minmax_cols=["d"],
        )

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "ab"[i % 2], "v": i} for i in range(40)])
    src = IcebergTable(w.path)
    rw = create_rollup(
        spark,
        src,
        str(tmp_path / "ru"),
        ["grp"],
        ["v"],
        minmax_cols=["v"],
        source_writer=w,
    )
    src = IcebergTable(w.path)
    out = agg_via_rollup(
        src,
        spark,
        [("min", "v", "mn"), ("max", "v", "mx"), ("count", "*", "n")],
        group_by=["grp"],
    )
    assert out is not None and src.last_scan["files_scanned"] == 0
    got = {r.grp: (r.mn, r.mx, r.n) for r in out.collect()}
    assert got == {"a": (0, 38, 20), "b": (1, 39, 20)}
    # min/max over a column the rollup doesn't cover refuses
    assert (
        agg_via_rollup(src, spark, [("min", "id", "m")], group_by=["grp"])
        is None
    )


def test_agg_via_rollup_group_filters_and_exact_count(spark, tmp_path):
    """Group-column filters apply to the rollup's own rows; non-group
    predicates refuse.  rollup_eq_count serves the cost model an EXACT
    per-group cardinality driver-side (no Spark job), and
    cbo.estimated_rows prefers it over 1/NDV."""
    from daskberg_spark.iceberg.cbo import estimated_rows
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import (
        agg_via_rollup,
        create_rollup,
        rollup_eq_count,
    )

    w = _source(tmp_path / "src")
    w.append(
        [
            {"id": i, "grp": "abc"[i % 3], "v": None if i % 5 == 0 else i}
            for i in range(90)
        ]
    )
    src = IcebergTable(w.path)
    create_rollup(
        spark, src, str(tmp_path / "ru"), ["grp"], ["v"], source_writer=w
    )
    src = IcebergTable(w.path)
    battery = [("count", "*", "n"), ("sum", "v", "s")]
    out = agg_via_rollup(
        src, spark, battery, group_by=["grp"], filters=[("grp", "==", "a")]
    )
    assert out is not None
    src.to_df(spark).createOrReplaceTempView("__gf")
    truth = spark.sql(
        "SELECT grp, count(*) n, cast(sum(v) as decimal(38,0)) s "
        "FROM __gf WHERE grp = 'a' GROUP BY grp"
    ).collect()
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, truth))
    # a non-group predicate needs source rows: refuse
    assert (
        agg_via_rollup(
            src, spark, battery, group_by=["grp"], filters=[("id", ">=", 10)]
        )
        is None
    )
    # exact cardinality for the cost model, and its staleness gate
    assert rollup_eq_count(src, "grp", "a") == 30
    assert rollup_eq_count(src, "id", 5) is None  # not a group column
    est = estimated_rows(src, [("grp", "==", "a")])
    assert est == 30.0, est
    w.append([{"id": 1000, "grp": "a", "v": 1}])
    src = IcebergTable(w.path)
    assert rollup_eq_count(src, "grp", "a") is None  # stale → never lie


def _dim(path):
    from daskberg_spark.iceberg.writer import IcebergWriter

    w = IcebergWriter(
        str(path),
        [
            {"id": 1, "name": "dk", "type": "long", "required": False},
            {"id": 2, "name": "seg", "type": "string", "required": False},
        ],
    )
    w.append([{"dk": i, "seg": "XYZ"[i % 3]} for i in range(10)])
    return w


def test_join_rollup_incremental_fact_and_dim(spark, tmp_path):
    """fact ⋈ dim rollup: appends and deletes on the fact refresh
    through ΔF ⋈ D_new; dim commits refresh through the F_old ⋈ ΔD
    leg (key-pruned base-snapshot fact read) — both incremental; the
    router never answers from a join rollup."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import (
        agg_via_rollup,
        create_join_rollup,
        refresh_rollup,
    )

    fw = _source(tmp_path / "fact")  # id, grp, v — id % 10 joins dk
    fw.append(
        [
            {"id": i, "grp": "f", "v": None if i % 6 == 0 else i}
            for i in range(50)
        ]
    )
    # fact_key must be a real fact column: use v? join on id%10 needs a
    # column — re-shape: fact key = id mod 10 stored as its own column
    dw = _dim(tmp_path / "dim")
    fact = IcebergTable(fw.path)
    dim = IcebergTable(dw.path)
    # join on id (0..49) vs dk (0..9): only ids 0..9 match — inner join
    rw = create_join_rollup(
        spark,
        fact,
        dim,
        str(tmp_path / "ru"),
        "id",
        "dk",
        ["seg"],
        ["v"],
        source_writer=fw,
    )

    def truth():
        IcebergTable(fw.path).to_df(spark).createOrReplaceTempView("__jf")
        IcebergTable(dw.path).to_df(spark).createOrReplaceTempView("__jd")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT seg, count(*) n, cast(sum(v) as decimal(38,0))"
                    " s, count(v) nn FROM __jf JOIN __jd ON id = dk "
                    "GROUP BY seg"
                ).collect(),
            )
        )

    def state():
        return sorted(
            (r.seg, r.n, r.sum_v, r.nn_v)
            for r in IcebergTable(rw.path).to_df(spark).collect()
        )

    assert state() == truth()
    # fact append (two new matching rows via new ids? ids 50+ don't
    # match dk 0..9 — append LOW ids again: duplicates are fine)
    fw.append([{"id": 3, "grp": "f", "v": 100}, {"id": 7, "grp": "f", "v": None}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert state() == truth()
    # fact delete (kills one matching row)
    fw.delete_rows_equality([{"id": 5}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert state() == truth()
    # the router refuses join rollups even when fresh
    src = IcebergTable(fw.path)
    assert (
        agg_via_rollup(
            src, spark, [("count", "*", "n")], group_by=["seg"]
        )
        is None
    )
    # a dim commit refreshes INCREMENTALLY too (the F_old ⋈ ΔD leg):
    # a brand-new key matches no fact rows — the key-pruned base-fact
    # read plans zero files and the rollup is unchanged
    dw.append([{"dk": 50, "seg": "X"}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental", rep
    assert rep["dim_changed_keys"] == 1, rep
    assert state() == truth()
    # and the fact-side incremental path is undisturbed afterwards
    fw.append([{"id": 2, "grp": "f", "v": 7}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental"
    assert state() == truth()


def test_join_rollup_minmax_dirty_recompute_via_dim_keys(spark, tmp_path):
    """Join-rollup MIN/MAX: insert-only windows merge with zero extra
    IO; a fact delete dirties its JOINED group, whose recompute routes
    through the dim keys (fact_key IN ...) and prunes the fact scan."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_join_rollup, refresh_rollup

    fw = _source(tmp_path / "fact")
    # three id bands in three files so the IN-filter has something to prune
    for lo in (0, 100, 200):
        fw.append(
            [
                {"id": lo + i, "grp": "f", "v": lo + i}
                for i in range(10)
                if (lo + i) % 10 < 10
            ]
        )
    dw = _dim(tmp_path / "dim")  # dk 0..9 → only the 0-band joins
    rw = create_join_rollup(
        spark,
        IcebergTable(fw.path),
        IcebergTable(dw.path),
        str(tmp_path / "ru"),
        "id",
        "dk",
        ["seg"],
        ["v"],
        minmax_cols=["v"],
    )

    def truth():
        IcebergTable(fw.path).to_df(spark).createOrReplaceTempView("__jm_f")
        IcebergTable(dw.path).to_df(spark).createOrReplaceTempView("__jm_d")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT seg, count(*) n, min(v), max(v) FROM __jm_f "
                    "JOIN __jm_d ON id = dk GROUP BY seg"
                ).collect(),
            )
        )

    def state():
        return sorted(
            (r.seg, r.n, r.min_v, r.max_v)
            for r in IcebergTable(rw.path).to_df(spark).collect()
        )

    assert state() == truth()
    # insert-only: duplicate low ids with wider values — no dirty groups
    fw.append([{"id": 0, "grp": "f", "v": -50}, {"id": 1, "grp": "f", "v": 999}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental" and rep["dirty_minmax_groups"] == 0
    assert state() == truth()
    # delete seg-X's new minimum: one dirty group, pruned fact recompute
    fw.delete_rows_equality([{"id": 0}])  # kills v=-50 AND v=0 (both id 0)
    total = len(IcebergTable(fw.path).plan_files(None))
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental" and rep["dirty_minmax_groups"] == 1
    # the RECOMPUTE leg prunes via fact_key IN (dirty dim keys): the
    # 100- and 200-band files' bounds exclude dk 0..9
    assert rep["minmax_recompute_files"] < total, rep
    assert state() == truth()


def test_rollup_randomized_lifecycle_differential(spark, tmp_path):
    """Seeded random commit sequences (append / eq-delete / positional
    delete / compaction) with a refresh after every step — the rollup
    (counts, SQL-exact NULL sums, min/max with delete-targeted
    recompute) must equal the full recompute at EVERY watermark."""
    import random

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files_spark,
    )

    rng = random.Random(1113)
    w = IcebergWriter(
        str(tmp_path / "src"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "int", "required": False},
        ],
    )
    next_id = [0]

    def batch(n):
        rows = [
            {
                "id": next_id[0] + i,
                "grp": rng.choice(["a", "b", "c", None]),
                "v": None if rng.random() < 0.25 else rng.randrange(-99, 100),
            }
            for i in range(n)
        ]
        next_id[0] += n
        return rows

    w.append(batch(40))
    rw = create_rollup(
        spark,
        IcebergTable(w.path),
        str(tmp_path / "ru"),
        ["grp"],
        ["v"],
        minmax_cols=["v", "id"],
    )

    def truth():
        IcebergTable(w.path).to_df(spark).createOrReplaceTempView("__rl")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT grp, count(*), cast(sum(v) as decimal(38,0)), "
                    "count(v), min(v), max(v), min(id), max(id) "
                    "FROM __rl GROUP BY grp"
                ).collect(),
            ),
            key=lambda r: (r[0] is None, r[0] or ""),
        )

    def state():
        return sorted(
            (
                (
                    r.grp,
                    r.n,
                    r.sum_v,
                    r.nn_v,
                    r.min_v,
                    r.max_v,
                    r.min_id,
                    r.max_id,
                )
                for r in IcebergTable(rw.path).to_df(spark).collect()
            ),
            key=lambda r: (r[0] is None, r[0] or ""),
        )

    for step in range(8):
        op = rng.choice(["append", "eq_delete", "pos_delete", "compact"])
        if op == "append":
            w.append(batch(rng.randrange(5, 30)))
        elif op == "eq_delete":
            ids = rng.sample(range(next_id[0]), k=min(5, next_id[0]))
            w.delete_rows_equality([{"id": i} for i in ids])
        elif op == "pos_delete":
            t = IcebergTable(w.path)
            files = [f for f in t.plan_files(None) if f["record_count"]]
            if files:
                f = rng.choice(files)
                k = min(3, int(f["record_count"]))
                w.delete_rows_position(
                    [(f["file_path"], p) for p in range(k)]
                )
        else:
            compact_files_spark(w, spark, min_file_bytes=1 << 20)
        rep = refresh_rollup(spark, rw)
        assert rep["mode"] in ("incremental", "noop"), (step, op, rep)
        assert state() == truth(), (step, op, rep)


def test_join_rollup_randomized_lifecycle_differential(spark, tmp_path):
    """Seeded random fact commits (append / eq-delete / pos-delete)
    interleaved with DIM commits (new-key appends, SCD updates, and
    combined fact+dim windows — all incremental via Δ(F⋈D) =
    ΔF⋈D_new + F_old⋈ΔD), refresh after every step — the join rollup
    (counts, NULL-exact sums, minmax with dim-key-routed recompute)
    must equal the full joined recompute at every watermark."""
    import random

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_join_rollup, refresh_rollup

    rng = random.Random(2026)
    fw = _source(tmp_path / "fact")
    dw = _dim(tmp_path / "dim")  # dk 0..9
    next_id = [0]

    def batch(n):
        rows = [
            {
                "id": rng.randrange(30),  # dense keys: 0..9 join
                "grp": "f",
                "v": None if rng.random() < 0.25 else rng.randrange(-99, 99),
            }
            for _ in range(n)
        ]
        next_id[0] += n
        return rows

    fw.append(batch(30))
    rw = create_join_rollup(
        spark,
        IcebergTable(fw.path),
        IcebergTable(dw.path),
        str(tmp_path / "ru"),
        "id",
        "dk",
        ["seg"],
        ["v"],
        minmax_cols=["v"],
    )

    def truth():
        IcebergTable(fw.path).to_df(spark).createOrReplaceTempView("__jr_f")
        IcebergTable(dw.path).to_df(spark).createOrReplaceTempView("__jr_d")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT seg, count(*), cast(sum(v) as decimal(38,0)), "
                    "count(v), min(v), max(v) FROM __jr_f JOIN __jr_d "
                    "ON id = dk GROUP BY seg"
                ).collect(),
            )
        )

    def state():
        return sorted(
            (r.seg, r.n, r.sum_v, r.nn_v, r.min_v, r.max_v)
            for r in IcebergTable(rw.path).to_df(spark).collect()
        )

    dim_next = [100]
    for step in range(9):
        op = rng.choice(
            [
                "append",
                "append",
                "eq_delete",
                "pos_delete",
                "dim_append",
                "dim_update",
                "both",
            ]
        )
        if op == "append":
            fw.append(batch(rng.randrange(5, 20)))
        elif op == "eq_delete":
            fw.delete_rows_equality(
                [{"id": rng.randrange(30)} for _ in range(3)]
            )
        elif op == "pos_delete":
            files = [
                f
                for f in IcebergTable(fw.path).plan_files(None)
                if f["record_count"]
            ]
            if files:
                f = rng.choice(files)
                fw.delete_rows_position(
                    [
                        (f["file_path"], p)
                        for p in range(min(3, int(f["record_count"])))
                    ]
                )
        elif op == "dim_append":
            dw.append([{"dk": dim_next[0], "seg": "Z"}])
            dim_next[0] += 1
        elif op == "dim_update":
            # SCD re-attribution of a live join key
            k = rng.randrange(10)
            dw.delete_rows_equality([{"dk": k}])
            dw.append([{"dk": k, "seg": rng.choice("XYZQ")}])
        else:
            # a combined window exercises BOTH identity legs at once
            fw.append(batch(rng.randrange(3, 10)))
            k = rng.randrange(10)
            dw.delete_rows_equality([{"dk": k}])
            dw.append([{"dk": k, "seg": rng.choice("XYZQ")}])
        rep = refresh_rollup(spark, rw)
        assert rep["mode"] in ("incremental", "noop"), (step, op, rep)
        assert state() == truth(), (step, op, rep)


def test_join_rollup_dim_update_incremental(spark, tmp_path):
    """The r11 frozen-dim gate is gone: a dim UPDATE (SCD
    re-attribution) refreshes INCREMENTALLY through the F_old ⋈ ΔD
    leg — the base-snapshot fact read prunes on ``fact_key IN
    (changed dim keys)``, so only the fact files whose key bounds may
    hold those keys are read, never the table.  A combined fact+dim
    window exercises both legs of Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD; a
    dim ROLLBACK still rebuilds."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_join_rollup, refresh_rollup

    fw = _source(tmp_path / "fact")
    # three id bands in three files: dk 0..9 lives only in the 0-band
    for lo in (0, 100, 200):
        fw.append(
            [{"id": lo + i, "grp": "f", "v": lo + i} for i in range(10)]
        )
    dw = _dim(tmp_path / "dim")  # dk 0..9, seg cycling X/Y/Z
    rw = create_join_rollup(
        spark,
        IcebergTable(fw.path),
        IcebergTable(dw.path),
        str(tmp_path / "ru"),
        "id",
        "dk",
        ["seg"],
        ["v"],
        minmax_cols=["v"],
    )

    def truth():
        IcebergTable(fw.path).to_df(spark).createOrReplaceTempView("__du_f")
        IcebergTable(dw.path).to_df(spark).createOrReplaceTempView("__du_d")
        return sorted(
            map(
                tuple,
                spark.sql(
                    "SELECT seg, count(*) n, cast(sum(v) as decimal(38,0))"
                    " s, count(v) nn, min(v), max(v) FROM __du_f "
                    "JOIN __du_d ON id = dk GROUP BY seg"
                ).collect(),
            )
        )

    def state():
        return sorted(
            (r.seg, r.n, r.sum_v, r.nn_v, r.min_v, r.max_v)
            for r in IcebergTable(rw.path).to_df(spark).collect()
        )

    assert state() == truth()
    total = len(IcebergTable(fw.path).plan_files(None))
    dim_anchor = dw.head_snapshot["snapshot-id"]
    # SCD update: dk=3 moves from seg 'X' to brand-new seg 'Q'
    dw.delete_rows_equality([{"dk": 3}])
    dw.append([{"dk": 3, "seg": "Q"}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental", rep
    assert rep["dim_steps"] == 2 and rep["dim_changed_keys"] == 1, rep
    # the 100- and 200-band files' id bounds exclude dk 0..9: the
    # F_old leg (and the dirty-group minmax recompute) stay pruned
    assert rep["source_files_read"] < total, rep
    assert state() == truth()
    # combined window: a fact append AND a dim update before one
    # refresh — ΔF⋈D_new must see the NEW dim, F_old⋈ΔD the OLD fact
    fw.append([{"id": 3, "grp": "f", "v": -7}])
    dw.delete_rows_equality([{"dk": 7}])
    dw.append([{"dk": 7, "seg": "Q"}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "incremental", rep
    assert rep["dim_changed_keys"] == 1, rep
    assert state() == truth()
    # a dim rollback strands the dim watermark: full rebuild
    from daskberg_spark.iceberg.writer import rollback_to

    rollback_to(dw, dim_anchor)
    dw.append([{"dk": 3, "seg": "R"}])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "full", rep
    assert state() == truth()


def test_rollup_rollback_falls_back_to_full(spark, tmp_path):
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import create_rollup, refresh_rollup

    w = _source(tmp_path / "src")
    w.append([{"id": i, "grp": "a", "v": i} for i in range(10)])
    base_sid = w.head_snapshot["snapshot-id"]
    w.append([{"id": i, "grp": "b", "v": i} for i in range(10, 20)])
    rw = create_rollup(
        spark, IcebergTable(w.path), str(tmp_path / "ru"), ["grp"], ["v"]
    )
    # rollback strands the watermark (head is no longer a descendant),
    # then diverge with a new commit
    from daskberg_spark.iceberg.writer import rollback_to

    rollback_to(w, base_sid)
    w.append([{"id": i, "grp": "c", "v": i} for i in range(30, 35)])
    rep = refresh_rollup(spark, rw)
    assert rep["mode"] == "full"
    assert _state(spark, rw.path) == _recompute(spark, w.path)


def test_router_prefers_smallest_qualifying_rollup(spark, tmp_path):
    """With a fine (grp, k) rollup registered BEFORE a coarse (grp)
    one, a GROUP BY grp battery answers from the coarse (smaller)
    rollup — registration order must not decide re-aggregation cost."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.rollup import agg_via_rollup, create_rollup

    w = _source(tmp_path / "src")
    w.append(
        [
            {"id": i, "grp": "abc"[i % 3], "v": i % 7}
            for i in range(300)
        ]
    )
    src = IcebergTable(w.path)
    # fine rollup first: (grp, v) — up to 21 groups
    create_rollup(
        spark, src, str(tmp_path / "fine"), ["grp", "v"], ["id"],
        source_writer=w,
    )
    # coarse rollup second: (grp) — 3 groups
    src = IcebergTable(w.path)
    create_rollup(
        spark, src, str(tmp_path / "coarse"), ["grp"], ["id"],
        source_writer=w,
    )
    src = IcebergTable(w.path)
    out = agg_via_rollup(
        src,
        spark,
        [("count", "*", "n"), ("sum", "id", "s")],
        group_by=["grp"],
    )
    assert out is not None
    assert src.last_agg_rollup["rollup"].endswith("coarse"), (
        src.last_agg_rollup
    )
    truth = sorted(
        map(
            tuple,
            src.to_df(spark)
            .groupBy("grp")
            .agg(
                __import__("pyspark.sql.functions", fromlist=["x"])
                .count("*")
                .alias("n"),
                __import__("pyspark.sql.functions", fromlist=["x"])
                .sum("id")
                .cast("decimal(38,0)")
                .alias("s"),
            )
            .collect(),
        )
    )
    assert sorted(map(tuple, out.collect())) == truth
    # a (grp, v) battery can only use the FINE rollup
    out2 = agg_via_rollup(
        src, spark, [("count", "*", "n")], group_by=["grp", "v"]
    )
    assert out2 is not None
    assert src.last_agg_rollup["rollup"].endswith("fine")
