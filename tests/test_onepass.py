"""One-scan nightly statistics maintenance (r14, ``onepass.py``).

The contract under test: one ``maintain()`` reads each new file ONCE
(one shared raw pass), each dirty file ONCE (one shared delete-aware
pass), serves EVERY active statistics family from those cached frames
(zero fallback reads), and the refreshed blobs are exactly what the
per-family direct-read paths would have produced.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from daskberg_spark.iceberg.writer import IcebergWriter


def _all_families_table(spark, tmp_path):
    """A table opted into all six statistics families over two files:
    value blooms on u, column sums on v, global theta partials +
    published NDV stats, global quantile histogram on v (with per-file
    CDF partials), grouped quantiles on (seg -> v), grouped NDV on
    (seg -> u)."""
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
    from daskberg_spark.iceberg.writer import refresh_table_statistics

    w = IcebergWriter(
        str(tmp_path / "op"),
        [
            {"id": 1, "name": "seg", "type": "string", "required": False},
            {"id": 2, "name": "u", "type": "long", "required": False},
            {"id": 3, "name": "v", "type": "long", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {"seg": f"s{i % 4}", "u": i % 37, "v": (i * 13) % 211}
            for i in range(lo, hi)
        ]

    w.append(rows(0, 150))
    w.append(rows(150, 300))
    write_file_blooms(w, spark, ["u"])
    write_sum_statistics(w, spark, ["v"])
    write_file_theta_partials(w, spark)
    refresh_table_statistics(w, spark)  # publishes the NDV entry
    refresh_quantile_statistics(w, spark, columns=["v"])  # bootstraps
    write_grouped_quantile_statistics(w, spark, ["seg"], ["v"])
    refresh_grouped_quantile_statistics(w, spark)  # grouped partials
    write_grouped_theta_statistics(w, spark, ["seg"], ["u"])
    refresh_grouped_theta_statistics(w, spark)
    return w, rows


def test_maintain_one_scan_statistics(spark, tmp_path, monkeypatch):
    """THE r14 IO-shape contract: after a delete (dirties the two old
    files) and an append (one new uncovered file), one ``maintain()``
    issues exactly ONE raw read (the new file) and ONE delete-aware
    read (the dirty files) — not one per family — serves all six
    families from the cache with zero fallbacks, and every family's
    blob lands on the new head with exact contents."""
    import daskberg_spark.iceberg.scan as scan_mod
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.quantiles import _norm
    from daskberg_spark.iceberg.sumstats import column_filesums
    from daskberg_spark.iceberg.writer import maintain

    w, rows = _all_families_table(spark, tmp_path)
    # delete FIRST (dirties the two existing files), THEN append — the
    # new file postdates the delete, so it stays clean and uncovered
    w.delete_rows_equality([{"u": i} for i in range(5)])
    w.append(rows(300, 400))

    raw_calls: list[set] = []
    dirty_calls: list[set] = []
    real_rfg = scan_mod._read_file_groups
    real_to_df = scan_mod.to_df
    in_to_df = [0]  # to_df's own internal _read_file_groups isn't a
    # second pass — it IS the delete-aware read being counted

    def counting_rfg(t, spark_, files, *a, **kw):
        if not in_to_df[0]:
            raw_calls.append({_norm(f["file_path"]) for f in files})
        return real_rfg(t, spark_, files, *a, **kw)

    def counting_to_df(t, spark_, *a, **kw):
        subset = kw.get("file_subset")
        if subset is not None:
            dirty_calls.append({_norm(p) for p in subset})
        in_to_df[0] += 1
        try:
            return real_to_df(t, spark_, *a, **kw)
        finally:
            in_to_df[0] -= 1

    monkeypatch.setattr(scan_mod, "_read_file_groups", counting_rfg)
    monkeypatch.setattr(scan_mod, "to_df", counting_to_df)

    rep = maintain(
        w, spark, min_file_bytes=1, keep_last=100, compact_dead_fraction=None
    )

    # --- IO shape: each new file read once per maintain(), per KIND of
    # read, not once per family ---
    ss = rep["stats_scan"]
    assert ss is not None, rep
    assert ss["raw_fallback"] == 0 and ss["dirty_fallback"] == 0, ss
    # all six families served raw; the four delete-sensitive families
    # (global/grouped NDV, global/grouped quantiles) served dirty
    assert ss["raw_served"] >= 5, ss
    assert ss["dirty_served"] >= 4, ss
    assert len(raw_calls) == 1, raw_calls  # the shared raw pass only
    assert len(dirty_calls) == 1, dirty_calls  # the shared dirty pass
    assert ss["raw_files"] == 1 and ss["dirty_files"] == 2, ss
    # the raw pass covered exactly the new file, once
    t = IcebergTable(w.path)

    # --- every family refreshed AND exact ---
    assert rep["refresh_statistics"] == "partials", rep
    assert rep["refresh_quantiles"] == ["v"], rep
    assert rep["refresh_grouped_quantiles"] == "refreshed" or rep[
        "refresh_grouped_quantiles"
    ] is not None, rep
    truth_df = t.to_df(spark)
    ndv_truth = truth_df.agg(
        F.count_distinct("u").alias("u"), F.count_distinct("v").alias("v")
    ).collect()[0]
    assert t.column_ndv("u") == ndv_truth["u"]
    assert t.column_ndv("v") == ndv_truth["v"]
    gndv = {
        r.seg: r.ndv for r in t.ndv_groupby(spark, "u", ["seg"]).collect()
    }
    assert t.last_ndv_groupby["route"] == "stats"
    gtruth = {
        r.seg: r.ndv
        for r in truth_df.groupBy("seg")
        .agg(F.count_distinct("u").alias("ndv"))
        .collect()
    }
    assert gndv == gtruth
    # grouped quantile blob: exact per-group row censuses
    hist = t.grouped_column_quantiles("v", ["seg"])
    grows = {g["key"][0]: g["rows"] for g in hist["groups"]}
    rtruth = {
        r.seg: r.n
        for r in truth_df.groupBy("seg").agg(F.count("*").alias("n")).collect()
    }
    assert grows == rtruth
    # sums + blooms: coverage complete for every live file
    live = {_norm(f["file_path"]) for f in t.plan_files(None)}
    assert live <= set(column_filesums(t, "v") or {})

    # --- steady state: a second maintain() performs ZERO data IO ---
    raw_calls.clear()
    dirty_calls.clear()
    rep2 = maintain(
        w, spark, min_file_bytes=1, keep_last=100, compact_dead_fraction=None
    )
    assert rep2["stats_scan"] is None, rep2
    assert raw_calls == [] and dirty_calls == [], (raw_calls, dirty_calls)


def test_shared_scan_fallback_never_breaks(spark, tmp_path):
    """A scan source that cannot serve (empty cache) must leave every
    refresh correct via its direct-read fallback — planning is
    advisory, correctness never depends on the cache."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.onepass import SharedStatsScan
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
    )

    w, rows = _all_families_table(spark, tmp_path)
    w.append(rows(300, 350))
    t = IcebergTable(w.path)
    empty = SharedStatsScan(t, spark, [], set(), set(), set())
    rep = refresh_grouped_theta_statistics(w, spark, scan_source=empty)
    assert rep["partials_computed"] == 1, rep
    assert empty.raw_fallback >= 1, empty.report()
    t = IcebergTable(w.path)
    got = {
        r.seg: r.ndv for r in t.ndv_groupby(spark, "u", ["seg"]).collect()
    }
    truth = {
        r.seg: r.ndv
        for r in t.to_df(spark)
        .groupBy("seg")
        .agg(F.count_distinct("u").alias("ndv"))
        .collect()
    }
    assert got == truth
    empty.unpersist()


def test_one_scan_composes_with_multi_config(spark, tmp_path, monkeypatch):
    """r14 composition: TWO grouped-NDV configs + a grouped quantile
    config on one table still fuse into ONE raw read per
    refresh_all_statistics() — the planner unions every config's
    needs, and each config's refresh serves from the same cached
    frame with zero fallbacks."""
    import daskberg_spark.iceberg.scan as scan_mod
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.quantiles import (
        _norm,
        refresh_grouped_quantile_statistics,
        write_grouped_quantile_statistics,
    )
    from daskberg_spark.iceberg.theta import (
        refresh_grouped_theta_statistics,
        write_grouped_theta_statistics,
    )
    from daskberg_spark.iceberg.writer import refresh_all_statistics

    w = IcebergWriter(
        str(tmp_path / "mcp"),
        [
            {"id": 1, "name": "seg", "type": "string", "required": False},
            {"id": 2, "name": "src", "type": "string", "required": False},
            {"id": 3, "name": "u", "type": "long", "required": False},
            {"id": 4, "name": "v", "type": "long", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {
                "seg": f"s{i % 3}",
                "src": f"w{i % 4}",
                "u": i % 29,
                "v": (i * 7) % 211,
            }
            for i in range(lo, hi)
        ]

    w.append(rows(0, 200))
    w.append(rows(200, 400))
    write_grouped_theta_statistics(w, spark, ["seg"], ["u"])
    write_grouped_theta_statistics(w, spark, ["src"], ["u"])
    refresh_grouped_theta_statistics(w, spark)
    write_grouped_quantile_statistics(w, spark, ["seg"], ["v"])
    refresh_grouped_quantile_statistics(w, spark)
    w.append(rows(400, 500))

    raw_calls: list[set] = []
    real_rfg = scan_mod._read_file_groups

    def counting_rfg(t, spark_, files, *a, **kw):
        raw_calls.append({_norm(f["file_path"]) for f in files})
        return real_rfg(t, spark_, files, *a, **kw)

    monkeypatch.setattr(scan_mod, "_read_file_groups", counting_rfg)
    rep = refresh_all_statistics(w, spark)
    ss = rep["stats_scan"]
    assert ss is not None and ss["raw_fallback"] == 0, rep
    assert ss["raw_files"] == 1, ss
    # 2 theta configs + 1 grouped quantile config, all served raw
    assert ss["raw_served"] >= 3, ss
    assert len(raw_calls) == 1, raw_calls
    # values exact for every config
    t = IcebergTable(w.path)
    truth_df = t.to_df(spark)
    for gcol in ("seg", "src"):
        got = {
            r[gcol]: r.ndv
            for r in t.ndv_groupby(spark, "u", [gcol]).collect()
        }
        assert t.last_ndv_groupby["route"] == "stats", gcol
        truth = {
            r[gcol]: r.ndv
            for r in truth_df.groupBy(gcol)
            .agg(F.count_distinct("u").alias("ndv"))
            .collect()
        }
        assert got == truth, gcol
    # idempotent: a second call performs zero data IO
    raw_calls.clear()
    rep2 = refresh_all_statistics(w, spark)
    assert rep2["stats_scan"] is None and raw_calls == [], rep2


def test_refresh_all_statistics_randomized_differential(spark, tmp_path):
    """Seeded lifecycle differential for the one-scan refresh: after
    EVERY commit window — mixed appends (new groups included),
    eq-deletes, and a compaction — ONE ``refresh_all_statistics()``
    advances all opted-in families with zero cache fallbacks, and
    every published statistic equals the exact recomputation: global
    NDVs, per-group NDVs, per-group row censuses, per-file sum
    coverage."""
    import random

    import daskberg_spark.iceberg.agg  # noqa: F401  (attaches)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.quantiles import _norm
    from daskberg_spark.iceberg.sumstats import column_filesums
    from daskberg_spark.iceberg.writer import (
        compact_files_spark,
        refresh_all_statistics,
    )

    rng = random.Random(1402)
    w, rows = _all_families_table(spark, tmp_path)
    hi = 300
    for step in range(6):
        action = rng.choice(["append", "append", "delete", "compact"])
        if action == "append":
            n = rng.randrange(40, 120)
            w.append(rows(hi, hi + n))
            hi += n
        elif action == "delete":
            w.delete_rows_equality(
                [{"u": rng.randrange(37)} for _ in range(3)]
            )
        else:
            compact_files_spark(w, spark, min_file_bytes=1 << 20)
        rep = refresh_all_statistics(w, spark)
        ss = rep["stats_scan"]
        if ss is not None:
            assert ss["raw_fallback"] == 0, (step, action, ss)
            assert ss["dirty_fallback"] == 0, (step, action, ss)
        t = IcebergTable(w.path)
        truth_df = t.to_df(spark)
        nt = truth_df.agg(
            F.count_distinct("u").alias("u"),
            F.count_distinct("v").alias("v"),
        ).collect()[0]
        assert t.column_ndv("u") == nt["u"], (step, action)
        assert t.column_ndv("v") == nt["v"], (step, action)
        got = {
            r.seg: r.ndv
            for r in t.ndv_groupby(spark, "u", ["seg"]).collect()
        }
        assert t.last_ndv_groupby["route"] == "stats", (step, action)
        truth = {
            r.seg: r.ndv
            for r in truth_df.groupBy("seg")
            .agg(F.count_distinct("u").alias("ndv"))
            .collect()
        }
        assert got == truth, (step, action, got, truth)
        hist = t.grouped_column_quantiles("v", ["seg"])
        grows = {g["key"][0]: g["rows"] for g in hist["groups"]}
        rtruth = {
            r.seg: r.n
            for r in truth_df.groupBy("seg")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        assert grows == rtruth, (step, action)
        live = {_norm(f["file_path"]) for f in t.plan_files(None)}
        assert live <= set(column_filesums(t, "v") or {}), (step, action)


def test_cache_budget_zero_skips_persist_not_results(spark, tmp_path):
    """r15 (brief #3): with ``stats_cache_budget_bytes=0`` the shared
    scan serves NOTHING — zero servings, every family on its direct
    read — the census says ``skipped-budget`` with the planned bytes,
    and the published blobs are IDENTICAL to an unbudgeted run on the
    same table state."""
    import copy

    from daskberg_spark.iceberg.writer import refresh_all_statistics

    def blob_fingerprint(w):
        """(type, fields, blob bytes) for every entry, with the
        table-specific path spellings (tmp dir + write uuid) rewritten
        to stable ids so two independently-written tables compare."""
        from daskberg_spark.iceberg.metadata import IcebergTable
        from daskberg_spark.iceberg.puffin import read_blob

        t = IcebergTable(w.path)
        data_files, _ = t.scan_all()
        norm = {
            path.encode(): b"file%d" % i
            for i, path in enumerate(sorted(data_files))
        }
        out = []
        for e in sorted(
            w.statistics, key=lambda e: str(e["statistics-path"])
        ):
            for b in e.get("blob-metadata", []):
                blob = read_blob(t._relocate(e["statistics-path"]), b)
                for raw, stable in norm.items():
                    blob = blob.replace(raw, stable)
                out.append((b.get("type"), tuple(b.get("fields") or ()), blob))
        return sorted(out)

    # two identical tables, refreshed with and without the budget
    wa, rows_a = _all_families_table(spark, tmp_path / "a")
    wb, rows_b = _all_families_table(spark, tmp_path / "b")
    for w, rows in ((wa, rows_a), (wb, rows_b)):
        w.delete_rows_equality([{"u": i} for i in range(5)])
        w.append(rows(300, 420))
    rep_a = refresh_all_statistics(wa, spark)  # default budget: persisted
    rep_b = refresh_all_statistics(
        wb, spark, stats_cache_budget_bytes=0
    )
    assert rep_a["stats_scan"]["cache"] == "persisted", rep_a["stats_scan"]
    sb = rep_b["stats_scan"]
    assert sb["cache"] == "skipped-budget", sb
    assert sb["planned_bytes"] > 0, sb
    assert sb["raw_served"] == 0 and sb["dirty_served"] == 0, sb
    assert sb["raw_fallback"] > 0, sb
    # every family still refreshed, bit-identically
    fa = blob_fingerprint(wa)
    fb = blob_fingerprint(wb)
    assert fa == fb, (
        [t for t, _f, _b in fa],
        [t for t, _f, _b in fb],
    )
    # steady state stays a no-op under a budget too
    rep2 = refresh_all_statistics(wb, spark, stats_cache_budget_bytes=0)
    assert rep2["stats_scan"] is None, rep2["stats_scan"]


def test_maintain_parallel_matches_sequential(spark, tmp_path, monkeypatch):
    """r15 parallel family chains (``_maintain_statistics`` thread
    pool): the pooled schedule must publish bit-identical blobs, the
    same per-family report, the same one-scan census, and the same
    metadata version as the sequential schedule — chain order is an
    implementation detail, never a result."""
    import os

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.puffin import read_blob
    from daskberg_spark.iceberg.writer import maintain

    def blob_fingerprint(w):
        t = IcebergTable(w.path)
        data_files, _ = t.scan_all()
        norm = {
            path.encode(): b"file%d" % i
            for i, path in enumerate(sorted(data_files))
        }
        out = []
        for e in w.statistics:
            for b in e.get("blob-metadata", []):
                blob = read_blob(t._relocate(e["statistics-path"]), b)
                for raw, stable in norm.items():
                    blob = blob.replace(raw, stable)
                out.append(
                    (b.get("type"), tuple(b.get("fields") or ()), blob)
                )
        return sorted(out)

    def run(mode, par):
        monkeypatch.setenv("SPARK_GRAFT_STATS_PARALLELISM", str(par))
        w, rows = _all_families_table(spark, tmp_path / mode)
        w.delete_rows_equality([{"u": i} for i in range(5)])
        w.append(rows(300, 400))
        rep = maintain(
            w,
            spark,
            min_file_bytes=1,
            keep_last=100,
            compact_dead_fraction=None,
        )
        return w, rep

    w_seq, rep_seq = run("seq", 1)
    w_par, rep_par = run("par", 4)

    # same one-scan census: both schedules plan the same shared scan
    # and serve every family from it
    assert rep_par["stats_scan"] == rep_seq["stats_scan"], (
        rep_seq["stats_scan"],
        rep_par["stats_scan"],
    )
    assert rep_par["stats_scan"]["raw_fallback"] == 0, rep_par
    # same per-family outcomes (path-valued entries compare by kind:
    # written vs None — the absolute path embeds the tmp dir)
    for key in (
        "refresh_blooms",
        "refresh_statistics",
        "refresh_quantiles",
        "refresh_grouped_quantiles",
        "refresh_grouped_ndv",
        "refresh_sums",
        "refresh_rollup",
    ):
        a, b = rep_seq[key], rep_par[key]
        if isinstance(a, str) and os.path.sep in a:
            assert isinstance(b, str) and os.path.sep in b, (key, a, b)
        else:
            assert a == b, (key, a, b)
    # same commit count (the version counter advances once per family
    # commit regardless of schedule) and bit-identical published blobs
    assert w_par.version == w_seq.version
    assert blob_fingerprint(w_par) == blob_fingerprint(w_seq)


def test_bootstrap_scan_delete_state_gate(spark, tmp_path):
    """The r16 delete-state gate: ``current_frame`` serves a grouped
    full-table write from the raw cache ONLY while no delete applies
    to any requested file; after a delete it must fall back (raw rows
    would be stale) — and in both states the published blobs equal the
    direct-read path's bit-for-bit."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.onepass import plan_bootstrap_stats_scan
    from daskberg_spark.iceberg.puffin import read_blob
    from daskberg_spark.iceberg.theta import write_grouped_theta_statistics

    def payloads(w):
        t = IcebergTable(w.path)
        out = []
        for e in w.statistics:
            for b in e.get("blob-metadata", []):
                if b["type"] == "daskberg-theta-grouped-v1":
                    out.append(
                        read_blob(t._relocate(e["statistics-path"]), b)
                    )
        return out

    def mk(name):
        w = IcebergWriter(
            str(tmp_path / name),
            [
                {"id": 1, "name": "seg", "type": "string", "required": False},
                {"id": 2, "name": "u", "type": "long", "required": False},
            ],
        )
        w.append(
            [{"seg": f"s{i % 3}", "u": i % 17} for i in range(200)]
        )
        w.append(
            [{"seg": f"s{i % 3}", "u": i % 23} for i in range(200, 400)]
        )
        return w

    # clean table: the gate serves, blobs match the direct-read twin
    w_cached, w_direct = mk("cached"), mk("direct")
    boot = plan_bootstrap_stats_scan(w_cached, spark)
    assert boot is not None
    write_grouped_theta_statistics(
        w_cached, spark, ["seg"], ["u"], scan_source=boot
    )
    rep = boot.report()
    assert rep["current_served"] == 1 and rep["current_fallback"] == 0, rep
    boot.unpersist()
    write_grouped_theta_statistics(w_direct, spark, ["seg"], ["u"])
    assert payloads(w_cached) == payloads(w_direct)

    # dirty table: a live equality delete makes raw != current — the
    # gate must refuse and the fallback read must produce the same
    # blobs as a direct delete-aware write
    w_dirty, w_dirty2 = mk("dirty"), mk("dirty2")
    for w in (w_dirty, w_dirty2):
        w.delete_rows_equality([{"u": 5}])
    boot2 = plan_bootstrap_stats_scan(w_dirty, spark)
    assert boot2 is not None
    write_grouped_theta_statistics(
        w_dirty, spark, ["seg"], ["u"], scan_source=boot2
    )
    rep2 = boot2.report()
    assert rep2["current_served"] == 0 and rep2["current_fallback"] == 1, rep2
    boot2.unpersist()
    write_grouped_theta_statistics(w_dirty2, spark, ["seg"], ["u"])
    assert payloads(w_dirty) == payloads(w_dirty2)
    # the dirty-table blobs really reflect the delete (u=5 removed)
    t = IcebergTable(w_dirty.path)
    assert t.to_df(spark).where(F.col("u") == 5).count() == 0


def test_shared_scan_skips_head_covered_grouping(spark, tmp_path):
    """The grouped-NDV scan plan must skip EVERY grouping whose own
    entry already covers the head, not just the ones listed before the
    first runnable grouping: an uncovered grouping first, then one made
    head-covered by a manual write — the shared raw read carries only
    the uncovered grouping's columns."""
    from daskberg_spark.iceberg.theta import write_grouped_theta_statistics
    from daskberg_spark.iceberg.writer import refresh_all_statistics

    w = IcebergWriter(
        str(tmp_path / "cov"),
        [
            {"id": 1, "name": "seg", "type": "string", "required": False},
            {"id": 2, "name": "src", "type": "string", "required": False},
            {"id": 3, "name": "u", "type": "long", "required": False},
            {"id": 4, "name": "v", "type": "long", "required": False},
        ],
    )

    def rows(lo, hi):
        return [
            {"seg": f"s{i % 3}", "src": f"w{i % 4}", "u": i % 29, "v": i % 31}
            for i in range(lo, hi)
        ]

    w.append(rows(0, 200))
    write_grouped_theta_statistics(w, spark, ["seg"], ["u"])
    write_grouped_theta_statistics(w, spark, ["src"], ["v"])
    w.append(rows(200, 300))
    # "src" now covers the new head; "seg" does not
    write_grouped_theta_statistics(w, spark, ["src"], ["v"])
    rep = refresh_all_statistics(w, spark)
    ss = rep["stats_scan"]
    assert ss is not None, rep
    assert set(ss["raw_columns"]) == {"seg", "u"}, ss
    assert ss["raw_fallback"] == 0, ss


def test_bootstrap_scan_keyed_on_snapshot(spark, tmp_path):
    """A delete committed AFTER ``plan_bootstrap_stats_scan`` must not be
    served stale raw rows: the scan records its plan-time snapshot and
    ``current_frame`` falls back when the caller's head differs, so the
    grouped blob equals a direct delete-aware write's."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.onepass import plan_bootstrap_stats_scan
    from daskberg_spark.iceberg.puffin import read_blob
    from daskberg_spark.iceberg.theta import write_grouped_theta_statistics

    def payloads(w):
        t = IcebergTable(w.path)
        return [
            read_blob(t._relocate(e["statistics-path"]), b)
            for e in w.statistics
            for b in e.get("blob-metadata", [])
            if b["type"] == "daskberg-theta-grouped-v1"
        ]

    def mk(name):
        w = IcebergWriter(
            str(tmp_path / name),
            [
                {"id": 1, "name": "seg", "type": "string", "required": False},
                {"id": 2, "name": "u", "type": "long", "required": False},
            ],
        )
        # unique u per row: every deleted row removes a distinct value
        w.append([{"seg": f"s{i % 3}", "u": i} for i in range(60)])
        w.append([{"seg": f"s{i % 3}", "u": i} for i in range(60, 120)])
        return w

    def dv_delete(w):
        t = IcebergTable(w.path)
        first = sorted(f["file_path"] for f in t.plan_files(None))[0]
        w.delete_positions_dv({first: [0, 1, 2, 4]})

    w_cached, w_direct = mk("cached"), mk("direct")
    boot = plan_bootstrap_stats_scan(w_cached, spark)
    assert boot is not None
    for w in (w_cached, w_direct):
        dv_delete(w)
    write_grouped_theta_statistics(
        w_cached, spark, ["seg"], ["u"], scan_source=boot
    )
    rep = boot.report()
    boot.unpersist()
    assert rep["current_served"] == 0 and rep["current_fallback"] == 1, rep
    write_grouped_theta_statistics(w_direct, spark, ["seg"], ["u"])
    assert payloads(w_cached) == payloads(w_direct)


def test_bootstrap_columns_are_top_level(spark, tmp_path):
    """The bootstrap scan's default columns are the schema's TOP-LEVEL
    names (never dotted struct-leaf paths), so what the cache serves has
    the direct read's schema."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.onepass import plan_bootstrap_stats_scan

    w = IcebergWriter(
        str(tmp_path / "st"),
        [
            {"id": 1, "name": "id", "type": "long", "required": False},
            {
                "id": 2,
                "name": "meta",
                "type": {
                    "type": "struct",
                    "fields": [
                        {"id": 4, "name": "score", "type": "double", "required": False},
                        {"id": 5, "name": "tag", "type": "string", "required": False},
                    ],
                },
                "required": False,
            },
            {"id": 3, "name": "u", "type": "long", "required": False},
        ],
    )
    w.append(
        [
            {"id": i, "meta": {"score": i / 2, "tag": f"t{i % 3}"}, "u": i % 7}
            for i in range(50)
        ]
    )
    t = IcebergTable(w.path)
    top = sorted(f["name"] for f in t.schema["fields"])
    boot = plan_bootstrap_stats_scan(w, spark)
    assert boot is not None
    try:
        assert boot.report()["raw_columns"] == top
        files = t.plan_files(None)
        direct = {
            f.name: f.dataType for f in t.to_df(spark, columns=top).schema
        }
        cur = boot.current_frame(files, top, w.head_snapshot["snapshot-id"])
        raw = boot.raw_frame(files, top)
        assert cur is not None and raw is not None
        assert {f.name: f.dataType for f in cur.schema} == direct
        assert {
            f.name: f.dataType for f in raw.schema if f.name != "__file"
        } == direct
    finally:
        boot.unpersist()


def test_shared_scan_dirty_frame_keyed_on_snapshot(spark, tmp_path):
    """The shared delete-aware dirty frame is keyed on the planned
    snapshot too: a delete committed after planning that dirties no NEW
    file leaves the dirty path set unchanged, yet the cached frame still
    holds the rows it killed — the refresh must fall back and publish
    the current row census."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.onepass import plan_shared_stats_scan
    from daskberg_spark.iceberg.quantiles import refresh_quantile_statistics

    w, rows = _all_families_table(spark, tmp_path)
    w.delete_rows_equality([{"u": i} for i in range(5)])
    scan = plan_shared_stats_scan(w, spark)
    assert scan is not None and scan.report()["dirty_files"] == 2
    w.delete_rows_equality([{"u": 7}])  # the same two files stay dirty
    try:
        refresh_quantile_statistics(w, spark, scan_source=scan)
        rep = scan.report()
    finally:
        scan.unpersist()
    assert rep["dirty_served"] == 0 and rep["dirty_fallback"] == 1, rep
    t = IcebergTable(w.path)
    assert t.column_quantiles("v")["rows"] == t.to_df(spark).count()
