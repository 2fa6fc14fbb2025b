"""Incrementally-maintained materialized rollups — aggregate tables
whose refresh cost scales with the CHANGED data, not the table.

A 100 TB fact table's dashboard aggregate (``GROUP BY day, status``)
cannot be recomputed per refresh; the textbook answer is incremental
view maintenance over additive aggregates.  This module materializes
``COUNT(*)`` + exact ``SUM``s (int/long/decimal — the same
order-independence rule as ``sumstats``; AVG derives as sum/count)
into a regular Iceberg table, and ``refresh_rollup`` advances it by
reading ONLY the source's row-level changelog since the snapshot the
rollup last saw (``scan.changelog_rows_df`` — metadata-delta planning,
so an append-plus-delete window reads the commit's delta files, never
the table twice).  Deltas aggregate with a ±1 sign, merge into the
existing rollup by a group-key full outer join, and groups whose count
reaches zero disappear — insert/delete carry-over pairs (compaction
churn) cancel arithmetically, so no net-changes pass is needed.

NULL semantics are SQL-exact: per sum column the rollup stores the
non-null count too (``nn_<col>``), and the merged sum is NULL iff no
non-null value remains — a plain ``coalesce`` merge would silently
turn an all-NULL group's sum into 0.

The merge rewrites the ROLLUP table (one overwrite snapshot, cost
O(groups)); the source is only ever read at changelog granularity.  A
rollback that strands the recorded snapshot (no longer an ancestor)
degrades to a full rebuild — never a wrong answer from an unreachable
base.  An optional filter predicate (stored in the rollup's table
properties) makes it a filtered materialized view: the same DNF filter
applies to the initial build and to every changelog read.

Relationship to ``scan.refresh_aggregate`` (r8): that is the ad-hoc
DataFrame-level primitive — caller holds the materialized DataFrame
and the watermark.  This module is the MANAGED form: the rollup is a
persisted Iceberg table carrying its own watermark/column properties,
survives sessions, supports MIN/MAX and filtered views, registers
with the source for the aggregate router, and refreshes from
``maintain()``.

Reference parity: the reference (daskberg) is read-only and has no
materialization; its closest shape is re-running the aggregate per
query (``/root/reference/daskberg/ice.py:220-264``).
"""

from __future__ import annotations

import json
import os
from functools import reduce
from typing import Any

PROP_SOURCE = "daskberg.rollup.source-path"
PROP_SNAPSHOT = "daskberg.rollup.source-snapshot-id"
PROP_GROUPS = "daskberg.rollup.group-cols"
PROP_SUMS = "daskberg.rollup.sum-cols"
PROP_FILTERS = "daskberg.rollup.filters"
PROP_MINMAX = "daskberg.rollup.minmax-cols"
# join rollups (create_join_rollup): the broadcastable dimension side
PROP_DIM = "daskberg.rollup.dim-path"
PROP_DIM_SNAPSHOT = "daskberg.rollup.dim-snapshot-id"
PROP_FACT_KEY = "daskberg.rollup.fact-key"
PROP_DIM_KEY = "daskberg.rollup.dim-key"
# on the SOURCE table: JSON list of rollup table paths registered
# against it (the aggregate router's candidate set)
PROP_REGISTRY = "daskberg.rollups"

# above this many delete-dirtied groups the min/max recompute stops
# building a pruning filter (a 10k-conjunction DNF costs more to plan
# than it saves) and takes one unpruned grouped scan instead
DIRTY_GROUP_CAP = 1000


def _mm_ok(ice_type: str) -> bool:
    # float/double excluded: Spark and SQL engines disagree on NaN
    # ordering, so a stored extremum could not promise engine-exact
    # equality with a recompute
    return ice_type not in ("float", "double")


def _sum_type(ice_type: str) -> str:
    from daskberg_spark.iceberg.sumstats import is_summable, type_scale

    if not is_summable(ice_type):
        raise ValueError(
            f"type {ice_type!r} has no exact decomposable sum "
            "(int/long/decimal only — float sums are order-dependent)"
        )
    return f"decimal(38,{type_scale(ice_type)})"


def _aggregate(
    df,
    group_cols: list[str],
    sum_cols: list[str],
    types,
    minmax_cols: list[str] | None = None,
):
    """The rollup aggregate: COUNT(*) + per-column decimal(38, s) SUM
    and non-null count (+ MIN/MAX per ``minmax_cols``) — shared by the
    initial build and the full rebuild so both produce the identical
    shape."""
    from pyspark.sql import functions as F

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in sum_cols:
        aggs.append(F.sum(F.col(c).cast(_sum_type(types[c]))).alias(f"sum_{c}"))
        aggs.append(F.count(F.col(c)).alias(f"nn_{c}"))
    for c in minmax_cols or []:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(*group_cols).agg(*aggs)


def create_rollup(
    spark,
    source,
    path: str,
    group_cols: list[str],
    sum_cols: list[str],
    filters: Any = None,
    source_writer=None,
    minmax_cols: list[str] | None = None,
):
    """Materialize the rollup table at ``path`` from the source's
    CURRENT snapshot (one distributed aggregate over the delete-aware
    read) and record the watermark snapshot in the rollup's table
    properties.  Returns the rollup's ``IcebergWriter``.

    ``source_writer`` (the caller's live ``IcebergWriter`` on the
    source) opts into REGISTRATION: the rollup's path is appended to
    the source's ``daskberg.rollups`` property so ``agg_via_rollup``
    can find it.  Registration goes through the caller's handle — a
    behind-the-back metadata write from a reader would strand every
    live writer at a stale version (optimistic-concurrency conflict
    on their next commit)."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.writer import IcebergWriter, write_df

    minmax_cols = list(minmax_cols or [])
    types = {n: i.type for n, i in source.fields.items()}
    for c in group_cols + sum_cols + minmax_cols:
        if c not in types:
            raise ValueError(f"unknown column {c!r}")
    for c in minmax_cols:
        if not _mm_ok(types[c]):
            raise ValueError(
                f"min/max({c}): {types[c]!r} has engine-dependent NaN "
                "ordering — not maintainable exactly"
            )
    fields = []
    fid = 0
    for g in group_cols:
        fid += 1
        fields.append(
            {"id": fid, "name": g, "type": types[g], "required": False}
        )
    fid += 1
    fields.append({"id": fid, "name": "n", "type": "long", "required": False})
    for c in sum_cols:
        fid += 1
        fields.append(
            {
                "id": fid,
                "name": f"sum_{c}",
                "type": _sum_type(types[c]),
                "required": False,
            }
        )
        fid += 1
        fields.append(
            {"id": fid, "name": f"nn_{c}", "type": "long", "required": False}
        )
    for c in minmax_cols:
        for side in ("min", "max"):
            fid += 1
            fields.append(
                {
                    "id": fid,
                    "name": f"{side}_{c}",
                    "type": types[c],
                    "required": False,
                }
            )
    base_sid = source.current_snapshot["snapshot-id"]
    df = source.to_df(
        spark,
        columns=sorted(set(group_cols + sum_cols + minmax_cols)),
        filters=filters,
    )
    out = _aggregate(df, group_cols, sum_cols, types, minmax_cols)
    writer = IcebergWriter(os.path.abspath(path), fields)
    writer.properties.update(
        {
            PROP_SOURCE: os.path.abspath(source.url),
            PROP_SNAPSHOT: str(base_sid),
            PROP_GROUPS: json.dumps(group_cols),
            PROP_SUMS: json.dumps(sum_cols),
            **(
                {PROP_MINMAX: json.dumps(minmax_cols)}
                if minmax_cols
                else {}
            ),
            **(
                {PROP_FILTERS: json.dumps(filters)}
                if filters is not None
                else {}
            ),
        }
    )
    write_df(writer, out, mode="none")
    if source_writer is not None:
        reg = json.loads(
            (source_writer.properties or {}).get(PROP_REGISTRY, "[]")
        )
        if writer.path not in reg:
            source_writer.set_properties(
                {PROP_REGISTRY: json.dumps(reg + [writer.path])}
            )
    return writer


def rollup_eq_count(
    source, col: str, value: Any, max_groups: int = 100_000
) -> int | None:
    """EXACT live-row count for ``col == value`` from a registered
    FRESH rollup keyed on ``col`` — the top rung of the cost model's
    selectivity ladder (exact count > histogram CDF > 1/NDV > 1/3).

    Driver-side and Spark-free: the rollup's files read through
    pyarrow projected to (col, n), gated by its manifest record counts
    (> ``max_groups`` group rows → None; a planner must never pay data
    IO for an estimate).  Stale or filtered rollups never answer.
    int/str/bool probe values only — anything else returns None rather
    than risking a cross-type comparison."""
    if not isinstance(value, (int, str, bool)) or isinstance(value, float):
        return None
    from daskberg_spark.iceberg.metadata import IcebergTable

    reg = json.loads(
        (source.metadata.get("properties") or {}).get(PROP_REGISTRY, "[]")
    )
    cur = source.current_snapshot["snapshot-id"]
    for path in reg:
        try:
            rt = IcebergTable(path)
        except Exception:
            continue
        props = rt.metadata.get("properties") or {}
        if PROP_FILTERS in props or PROP_DIM in props:
            continue  # filtered/join rollups answer a different relation
        if int(props.get(PROP_SNAPSHOT, -1)) != cur:
            continue
        if col not in json.loads(props.get(PROP_GROUPS, "[]")):
            continue
        # Python's bool is an int: True == 1 would silently count the
        # 1-group of an integer column — probe kind must match the type
        if isinstance(value, bool) != (rt.fields[col].type == "boolean"):
            continue
        files = rt.plan_files([(col, "==", value)])
        total = sum(int(f.get("record_count") or 0) for f in rt.plan_files(None))
        if total > max_groups:
            continue
        import pyarrow.parquet as _pq

        n = 0
        try:
            for f in files:
                tbl = _pq.read_table(
                    rt._relocate(f["file_path"]), columns=[col, "n"]
                )
                for g, cnt in zip(
                    tbl.column(col).to_pylist(), tbl.column("n").to_pylist()
                ):
                    if g == value:
                        n += int(cnt)
        except OSError:
            continue
        return n
    return None


def _join_dim(spark, fact_df, props):
    """``fact_df`` inner-joined to the rollup's (broadcast) dimension
    on the recorded keys — the shared leg of the join rollup's build,
    rebuild, and delta paths."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable

    dim = IcebergTable(props[PROP_DIM]).to_df(spark)
    fk, dk = props[PROP_FACT_KEY], props[PROP_DIM_KEY]
    joined = fact_df.join(
        F.broadcast(dim), fact_df[fk] == dim[dk], "inner"
    )
    return joined.drop(dim[dk])


def create_join_rollup(
    spark,
    fact,
    dim,
    path: str,
    fact_key: str,
    dim_key: str,
    group_cols: list[str],
    sum_cols: list[str],
    source_writer=None,
    minmax_cols: list[str] | None = None,
):
    """Materialize an aggregate over ``fact INNER JOIN dim`` — the
    star-join dashboard shape — maintained incrementally on BOTH
    sides via the exact bilinear identity
    ``Δ(F ⋈ D) = ΔF ⋈ D_new + F_old ⋈ ΔD`` (signed deltas distribute
    over the inner join).  A fact-only window reads the fact's commit
    delta plus the broadcast-small dim and never the fact table; a dim
    commit adds the second leg, which reads the BASE-snapshot fact
    pruned to ``fact_key IN (changed dim keys)`` — a dim row only
    re-attributes fact rows carrying its join key, so an SCD-style
    dim UPDATE costs O(affected fact files), not a rebuild.  Only a
    rollback on either side, or a dim delta touching more than
    ``DIRTY_GROUP_CAP`` join keys, degrades to the full rebuild.

    ``group_cols``/``sum_cols`` may reference either side (dim group
    columns are the POINT — "revenue by market segment" where the
    segment lives on the dimension).  ``minmax_cols`` must be FACT
    columns: insert-only windows merge like the plain rollup's, and a
    delete-dirtied group recomputes through its DIM KEYS — the dirty
    group values resolve to their dim-key lists (dim is
    broadcast-small by contract), and a ``fact_key IN keys`` filter
    prunes the fact scan (``_fix_dirty_minmax_join``).  Filtered views
    stay plain-rollup features (v1 scope).  The router never answers
    from a join rollup: its groups describe the JOIN, not the fact
    table."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.writer import IcebergWriter

    minmax_cols = list(minmax_cols or [])
    fact_types = {n: i.type for n, i in fact.fields.items()}
    dim_types = {n: i.type for n, i in dim.fields.items()}
    types = {**dim_types, **fact_types}
    for c in group_cols + sum_cols + minmax_cols + [fact_key]:
        if c not in types:
            raise ValueError(f"unknown column {c!r}")
    for c in minmax_cols:
        if c not in fact_types:
            raise ValueError(
                f"min/max({c}): join-rollup extrema cover FACT columns "
                "(a dim column's extremum is dim-static anyway)"
            )
        if not _mm_ok(types[c]):
            raise ValueError(
                f"min/max({c}): {types[c]!r} has engine-dependent NaN "
                "ordering — not maintainable exactly"
            )
    if dim_key not in dim_types:
        raise ValueError(f"unknown dim column {dim_key!r}")
    props = {
        PROP_DIM: os.path.abspath(dim.url),
        PROP_DIM_SNAPSHOT: str(dim.current_snapshot["snapshot-id"]),
        PROP_FACT_KEY: fact_key,
        PROP_DIM_KEY: dim_key,
    }
    fact_cols = sorted(
        {fact_key}
        | {
            c
            for c in group_cols + sum_cols + minmax_cols
            if c in fact_types
        }
    )
    df = _join_dim(
        spark, fact.to_df(spark, columns=fact_cols), props
    )
    out = _aggregate(df, group_cols, sum_cols, types, minmax_cols)
    base_sid = fact.current_snapshot["snapshot-id"]
    fields = []
    fid = 0
    for g in group_cols:
        fid += 1
        fields.append(
            {"id": fid, "name": g, "type": types[g], "required": False}
        )
    fid += 1
    fields.append({"id": fid, "name": "n", "type": "long", "required": False})
    for c in sum_cols:
        fid += 1
        fields.append(
            {
                "id": fid,
                "name": f"sum_{c}",
                "type": _sum_type(types[c]),
                "required": False,
            }
        )
        fid += 1
        fields.append(
            {"id": fid, "name": f"nn_{c}", "type": "long", "required": False}
        )
    for c in minmax_cols:
        for side in ("min", "max"):
            fid += 1
            fields.append(
                {
                    "id": fid,
                    "name": f"{side}_{c}",
                    "type": types[c],
                    "required": False,
                }
            )
    from daskberg_spark.iceberg.writer import write_df

    writer = IcebergWriter(os.path.abspath(path), fields)
    writer.properties.update(
        {
            PROP_SOURCE: os.path.abspath(fact.url),
            PROP_SNAPSHOT: str(base_sid),
            PROP_GROUPS: json.dumps(group_cols),
            PROP_SUMS: json.dumps(sum_cols),
            **(
                {PROP_MINMAX: json.dumps(minmax_cols)}
                if minmax_cols
                else {}
            ),
            **props,
        }
    )
    write_df(writer, out, mode="none")
    if source_writer is not None:
        reg = json.loads(
            (source_writer.properties or {}).get(PROP_REGISTRY, "[]")
        )
        if writer.path not in reg:
            source_writer.set_properties(
                {PROP_REGISTRY: json.dumps(reg + [writer.path])}
            )
    return writer


def _steps_back(source, base_sid: int) -> int | None:
    """Snapshots from head back to ``base_sid`` along the parent chain,
    or None when it is not an ancestor (rollback) — full rebuild."""
    snap = source.current_snapshot
    steps = 0
    while True:
        if snap["snapshot-id"] == base_sid:
            return steps
        parent = snap.get("parent-snapshot-id")
        if parent is None or parent not in source.snapshots:
            return None
        snap = source.snapshots[parent]
        steps += 1


def _signed_merge(old, delta, group_cols, sum_cols, minmax_cols, types):
    """Merge a row-level change set (``_change_type`` insert/delete)
    into the existing rollup: per-group signed deltas, null-safe
    full-outer join on the group keys, SQL-exact NULL sums, emptied
    groups dropped.  With ``minmax_cols`` the output carries the
    PROVISIONAL extrema plus a ``__dirty`` flag — the caller fixes
    delete-dirtied groups (``_fix_dirty_minmax``)."""
    from pyspark.sql import functions as F

    sign = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    is_ins = F.col("_change_type") == "insert"
    d_aggs = [F.sum(sign).alias("__dn")]
    for c in sum_cols:
        st = _sum_type(types[c])
        d_aggs.append(
            F.sum(
                F.when(
                    F.col(c).isNotNull(), sign * F.col(c).cast(st)
                ).cast(st)
            ).alias(f"__ds_{c}")
        )
        d_aggs.append(
            F.sum(F.when(F.col(c).isNotNull(), sign)).alias(f"__dnn_{c}")
        )
    for c in minmax_cols:
        # inserts can only WIDEN an extremum (least/greatest merge);
        # any delete in a group invalidates it → targeted recompute
        d_aggs.append(F.min(F.when(is_ins, F.col(c))).alias(f"__imn_{c}"))
        d_aggs.append(F.max(F.when(is_ins, F.col(c))).alias(f"__imx_{c}"))
    if minmax_cols:
        d_aggs.append(
            F.max(F.when(~is_ins, F.lit(1)).otherwise(F.lit(0))).alias(
                "__del"
            )
        )
    d = delta.groupBy(*group_cols).agg(*d_aggs)
    # group keys can be NULL → null-safe join keys
    cond = reduce(
        lambda a, b: a & b,
        [old[g].eqNullSafe(d[g]) for g in group_cols],
    )
    joined = old.join(d, cond, "full_outer")
    sel = [F.coalesce(old[g], d[g]).alias(g) for g in group_cols]
    n_col = F.coalesce(old["n"], F.lit(0)) + F.coalesce(
        F.col("__dn"), F.lit(0)
    )
    sel.append(n_col.alias("n"))
    for c in sum_cols:
        st = _sum_type(types[c])
        nn = F.coalesce(old[f"nn_{c}"], F.lit(0)) + F.coalesce(
            F.col(f"__dnn_{c}"), F.lit(0)
        )
        s = F.when(
            nn > 0,
            F.coalesce(old[f"sum_{c}"], F.lit(0).cast(st))
            + F.coalesce(F.col(f"__ds_{c}"), F.lit(0).cast(st)),
        ).cast(st)
        sel.append(s.alias(f"sum_{c}"))
        sel.append(nn.alias(f"nn_{c}"))
    for c in minmax_cols:
        # provisional: exact for insert-only groups (least/greatest
        # skip NULL sides); delete-dirtied groups are fixed by caller
        sel.append(
            F.least(old[f"min_{c}"], F.col(f"__imn_{c}")).alias(f"min_{c}")
        )
        sel.append(
            F.greatest(old[f"max_{c}"], F.col(f"__imx_{c}")).alias(
                f"max_{c}"
            )
        )
    if minmax_cols:
        sel.append(F.coalesce(F.col("__del"), F.lit(0)).alias("__dirty"))
    return joined.select(*sel).where(F.col("n") > 0)


def _fix_dirty_minmax(
    spark, source, merged, group_cols, minmax_cols, filters
):
    """Replace the provisional min/max of delete-dirtied groups with a
    recompute over ONLY those groups' source rows.

    A delete may have removed the stored extremum, so least/greatest
    merging is unsound for any group the window deleted from.  The
    recompute scan carries a group-key filter (a DNF of the dirty
    keys), so file pruning keeps it at O(dirty groups' files) — above
    ``DIRTY_GROUP_CAP`` keys (or when a key contains NULL, which the
    filter language's three-valued ``==`` can't name) it degrades to
    one unpruned grouped scan, still a single pass.  Returns
    ``(merged_df, dirty_count, files_read)``."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    # the merged plan is consumed twice (dirty-key collect + final
    # write) and feeds a self-referencing overwrite — pin it
    merged = merged.localCheckpoint(eager=True)
    dirty_keys = [
        tuple(r[g] for g in group_cols)
        for r in merged.where(F.col("__dirty") == 1)
        .select(*group_cols)
        .limit(DIRTY_GROUP_CAP + 1)
        .collect()
    ]
    if not dirty_keys:
        return merged.drop("__dirty"), 0, 0
    if (
        filters is not None  # a filtered view must recompute within
        # its own filter; keeping the two filter trees composable is
        # not worth the DNF product — take the filtered unpruned scan
        or len(dirty_keys) > DIRTY_GROUP_CAP
        or any(v is None for k in dirty_keys for v in k)
        # (three-valued `==` can't name a NULL key)
    ):
        read_filters = filters
    elif len(group_cols) == 1:
        read_filters = [(group_cols[0], "in", [k[0] for k in dirty_keys])]
    else:
        read_filters = [
            [(g, "==", v) for g, v in zip(group_cols, key)]
            for key in dirty_keys
        ]
    rec = (
        source.to_df(
            spark,
            columns=sorted(set(group_cols + minmax_cols)),
            filters=read_filters,
        )
        .groupBy(*group_cols)
        .agg(
            *[F.min(c).alias(f"__rmn_{c}") for c in minmax_cols],
            *[F.max(c).alias(f"__rmx_{c}") for c in minmax_cols],
        )
    )
    files_read = source.last_scan["files_scanned"]
    return (
        _apply_recomputed_minmax(merged, rec, group_cols, minmax_cols),
        len(dirty_keys),
        files_read,
    )


def _apply_recomputed_minmax(merged, rec, group_cols, minmax_cols):
    """Left-join per-group recomputed extrema (``__rmn_*``/``__rmx_*``)
    into the merged rollup and take them for ``__dirty`` groups only —
    shared by the plain and join dirty-recompute paths."""
    from functools import reduce as _reduce

    from pyspark.sql import functions as F

    cond = _reduce(
        lambda a, b: a & b,
        [merged[g].eqNullSafe(rec[g]) for g in group_cols],
    )
    joined = merged.join(rec, cond, "left_outer")
    sel = [merged[g].alias(g) for g in group_cols]
    passthrough = [
        c
        for c in merged.columns
        if c not in group_cols
        and c != "__dirty"
        and not c.startswith(("min_", "max_"))
    ]
    sel += [merged[c] for c in passthrough]
    dirty = F.col("__dirty") == 1
    for c in minmax_cols:
        sel.append(
            F.when(dirty, F.col(f"__rmn_{c}"))
            .otherwise(merged[f"min_{c}"])
            .alias(f"min_{c}")
        )
        sel.append(
            F.when(dirty, F.col(f"__rmx_{c}"))
            .otherwise(merged[f"max_{c}"])
            .alias(f"max_{c}")
        )
    return joined.select(*sel)


def _fix_dirty_minmax_join(
    spark, fact, merged, group_cols, minmax_cols, props
):
    """Join-rollup twin of ``_fix_dirty_minmax``: a dirty group's rows
    live behind the JOIN, so group-column filters can't prune the fact
    scan directly — instead the dirty groups' DIM-side components
    resolve to their dim keys (the dim is broadcast-small by the join
    rollup's contract) and a ``fact_key IN keys`` filter prunes the
    fact read through ordinary stats/bloom planning; the recompute
    then re-joins and re-aggregates ONLY that superset.  Above
    ``DIRTY_GROUP_CAP`` dirty groups or dim keys (or with no dim-side
    group component) it degrades to one unpruned fact scan — still a
    single pass.  Returns ``(merged_df, dirty_count, files_read)``."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable

    merged = merged.localCheckpoint(eager=True)
    dirty_rows = (
        merged.where(F.col("__dirty") == 1)
        .select(*group_cols)
        .limit(DIRTY_GROUP_CAP + 1)
        .collect()
    )
    if not dirty_rows:
        return merged.drop("__dirty"), 0, 0
    dim = IcebergTable(props[PROP_DIM])
    dim_group = [g for g in group_cols if g in dim.fields]
    fk = props[PROP_FACT_KEY]
    read_filters = None
    if (
        len(dirty_rows) <= DIRTY_GROUP_CAP
        and dim_group
        and not any(r[g] is None for r in dirty_rows for g in dim_group)
    ):
        ddf = dim.to_df(spark, columns=sorted({props[PROP_DIM_KEY], *dim_group}))
        seen = {tuple(r[g] for g in dim_group) for r in dirty_rows}
        if len(dim_group) == 1:
            ddf = ddf.where(
                F.col(dim_group[0]).isin([k[0] for k in seen])
            )
        else:
            cond = None
            for key in seen:
                c = None
                for g, v in zip(dim_group, key):
                    e = F.col(g) == F.lit(v)
                    c = e if c is None else (c & e)
                cond = c if cond is None else (cond | c)
            ddf = ddf.where(cond)
        keys = [
            r[props[PROP_DIM_KEY]]
            for r in ddf.select(props[PROP_DIM_KEY])
            .limit(DIRTY_GROUP_CAP + 1)
            .collect()
        ]
        if 0 < len(keys) <= DIRTY_GROUP_CAP and None not in keys:
            read_filters = [(fk, "in", keys)]
    fact_types = {n for n in fact.fields}
    cols = sorted(
        {fk}
        | {c for c in group_cols if c in fact_types}
        | set(minmax_cols)
    )
    rec_src = _join_dim(
        spark, fact.to_df(spark, columns=cols, filters=read_filters), props
    )
    files_read = fact.last_scan["files_scanned"]
    rec = rec_src.groupBy(*group_cols).agg(
        *[F.min(c).alias(f"__rmn_{c}") for c in minmax_cols],
        *[F.max(c).alias(f"__rmx_{c}") for c in minmax_cols],
    )
    return (
        _apply_recomputed_minmax(merged, rec, group_cols, minmax_cols),
        len(dirty_rows),
        files_read,
    )


def refresh_rollup(spark, writer) -> dict[str, Any]:
    """Advance the rollup to the source's current snapshot.  Reads the
    source's row-level changelog from the recorded watermark snapshot
    (delta-file planning), merges signed per-group deltas into the
    rollup with SQL-exact NULL handling, rewrites the rollup in one
    overwrite snapshot, and moves the watermark.  Join rollups also
    absorb DIM commits incrementally (``F_old ⋈ ΔD`` with a
    key-pruned base-snapshot fact read — see ``create_join_rollup``).
    Falls back to a full rebuild when a watermark is unreachable
    (rollback) or a dim delta exceeds ``DIRTY_GROUP_CAP`` join keys.
    Returns ``{"mode", "steps", "dim_steps", "dim_changed_keys",
    "source_files_read", "groups", ...}``."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.scan import (
        _changelog_plan,
        changelog_rows_df,
    )
    from daskberg_spark.iceberg.writer import _stage_dir, commit_spark_overwrite

    props = writer.properties
    source = IcebergTable(props[PROP_SOURCE])
    group_cols = json.loads(props[PROP_GROUPS])
    sum_cols = json.loads(props[PROP_SUMS])
    minmax_cols = json.loads(props.get(PROP_MINMAX, "[]"))
    filters = (
        json.loads(props[PROP_FILTERS]) if PROP_FILTERS in props else None
    )
    # JSON turns filter tuples into lists; the planner accepts both
    types = {n: i.type for n, i in source.fields.items()}
    dim_sid = None
    if PROP_DIM in props:
        dim_table = IcebergTable(props[PROP_DIM])
        types = {
            **{n: i.type for n, i in dim_table.fields.items()},
            **types,
        }
        dim_sid = dim_table.current_snapshot["snapshot-id"]
    base_sid = int(props[PROP_SNAPSHOT])
    head_sid = source.current_snapshot["snapshot-id"]
    dim_moved = (
        PROP_DIM in props
        and str(dim_sid) != props.get(PROP_DIM_SNAPSHOT)
    )
    if head_sid == base_sid and not dim_moved:
        return {"mode": "noop", "steps": 0, "source_files_read": 0}
    steps = _steps_back(source, base_sid)
    # Dim commits maintain incrementally too, via the exact identity
    #   Δ(F ⋈ D) = ΔF ⋈ D_new  +  F_old ⋈ ΔD
    # (signed multisets; F_new = F_old + ΔF distributes over the inner
    # join).  The F_old leg never reads the whole fact: a changed dim
    # row only re-attributes fact rows carrying its JOIN KEY, so the
    # base-snapshot fact read prunes on ``fact_key IN changed_keys``
    # through ordinary stats/bloom planning.  NULL-key dim changes
    # join nothing and drop out up front.  Above ``DIRTY_GROUP_CAP``
    # changed keys the window re-attributes so much joined history
    # that a rebuild is the honest cost — degrade, like the min/max
    # dirty path does.  A dim ROLLBACK (unreachable dim watermark)
    # also rebuilds: the delta is unplannable.
    dim_steps = 0
    dim_delta = None
    dim_keys: list | None = None
    if dim_moved and steps is not None:
        # a missing/garbled dim watermark walks to "not an ancestor"
        # and rebuilds — never a KeyError on a foreign-written rollup
        try:
            dim_base = int(props.get(PROP_DIM_SNAPSHOT, -1))
        except (TypeError, ValueError):
            dim_base = -1
        dim_steps = _steps_back(dim_table, dim_base)
        if dim_steps is None or dim_steps == 0:
            steps = None  # rollback (or same-id mismatch): rebuild
        else:
            try:
                dim_delta = changelog_rows_df(
                    dim_table, spark, from_rel=-dim_steps, net_changes=True
                )
            except Exception:
                # net-changes needs group-able columns; plain pairs are
                # exact too (compaction churn cancels arithmetically)
                dim_delta = changelog_rows_df(
                    dim_table, spark, from_rel=-dim_steps
                )
            dk_col = props[PROP_DIM_KEY]
            # lazy: the distinct-keys collect right below is the first
            # action and materializes the checkpoint inside its own job
            # — eager=True ran the whole dim-changelog DAG as a
            # SEPARATE job first (one extra multi-stage job per dim
            # refresh, ~0.3-1 s of AQE micro-stages at any scale where
            # the delta is small)
            dim_delta = dim_delta.where(
                F.col(dk_col).isNotNull()
            ).localCheckpoint(eager=False)
            dim_keys = [
                r[dk_col]
                for r in dim_delta.select(dk_col)
                .distinct()
                .limit(DIRTY_GROUP_CAP + 1)
                .collect()
            ]
            if len(dim_keys) > DIRTY_GROUP_CAP:
                steps = None
            elif steps == 0 and not dim_keys:
                # dim moved but every changed row carries a NULL join
                # key — joins nothing; advance the dim watermark only
                writer.set_properties({PROP_DIM_SNAPSHOT: str(dim_sid)})
                return {"mode": "noop", "steps": 0, "source_files_read": 0}

    rollup = IcebergTable(writer.path)
    old = rollup.to_df(spark)
    old_paths = [f["file_path"] for f in rollup.plan_files(None)]

    dirty_groups = 0
    recompute_read = 0
    if steps is None:
        # watermark unreachable (rollback on either side) or the dim
        # delta re-attributes too many join keys: rebuild
        fact_fields = {n for n in source.fields}
        cols = sorted(
            ({props[PROP_FACT_KEY]} if PROP_DIM in props else set())
            | {
                c
                for c in set(group_cols + sum_cols + minmax_cols)
                if c in fact_fields
            }
        )
        df = source.to_df(spark, columns=cols, filters=filters)
        if PROP_DIM in props:
            df = _join_dim(spark, df, props)
        merged = _aggregate(df, group_cols, sum_cols, types, minmax_cols)
        mode = "full"
        files_read = source.last_scan["files_scanned"]
    else:
        need_cols = sorted(set(group_cols + sum_cols + minmax_cols))
        legs = []
        files_read = 0
        if steps > 0:
            head_subset, base_subset, *_ = _changelog_plan(
                source, -steps, filters
            )
            files_read += len(head_subset) + len(base_subset)
            delta = changelog_rows_df(
                source, spark, from_rel=-steps, filters=filters
            )
            if PROP_DIM in props:
                # the ΔF ⋈ D_new leg: under a frozen dim this is the
                # whole changelog; with a concurrent dim delta it is
                # the first term of Δ(F⋈D) = ΔF⋈D_new + F_old⋈ΔD
                delta = _join_dim(spark, delta, props)
            legs.append(delta.select(*need_cols, "_change_type"))
        if dim_delta is not None and dim_keys:
            # the F_old ⋈ ΔD leg: fact AT THE BASE SNAPSHOT (time
            # travel — F_new here would double-count the cross term
            # ΔF⋈ΔD already inside ΔF⋈D_new), pruned to the changed
            # join keys; the joined row's sign is the dim change's
            fk, dk_col = props[PROP_FACT_KEY], props[PROP_DIM_KEY]
            fact_old = IcebergTable(props[PROP_SOURCE])
            fact_old.open_snapshot(snapshot_id=base_sid)
            fact_fields = {n for n in fact_old.fields}
            fcols = sorted(
                {fk} | {c for c in need_cols if c in fact_fields}
            )
            fdf = fact_old.to_df(
                spark, columns=fcols, filters=[(fk, "in", dim_keys)]
            )
            files_read += fact_old.last_scan["files_scanned"]
            joined = fdf.join(
                F.broadcast(dim_delta), fdf[fk] == dim_delta[dk_col], "inner"
            ).drop(dim_delta[dk_col])
            legs.append(joined.select(*need_cols, "_change_type"))
        # legs is non-empty by construction: steps > 0 gives the fact
        # leg, and the steps == 0 ∧ no-keys window returned above
        delta = reduce(lambda a, b: a.unionByName(b), legs)
        merged = _signed_merge(
            old, delta, group_cols, sum_cols, minmax_cols, types
        )
        mode = "incremental"
        if minmax_cols:
            if PROP_DIM in props:
                merged, dirty_groups, recompute_read = _fix_dirty_minmax_join(
                    spark, source, merged, group_cols, minmax_cols, props
                )
            else:
                merged, dirty_groups, recompute_read = _fix_dirty_minmax(
                    spark, source, merged, group_cols, minmax_cols, filters
                )
            files_read += recompute_read

    # materialize BEFORE the metadata swap (merged reads the old files)
    stage = _stage_dir(writer, "rollup_")
    merged.write.mode("overwrite").parquet(stage)
    commit_spark_overwrite(writer, stage, old_paths)
    new_props = {PROP_SNAPSHOT: str(head_sid)}
    if dim_sid is not None:
        new_props[PROP_DIM_SNAPSHOT] = str(dim_sid)
    writer.set_properties(new_props)
    t = IcebergTable(writer.path)
    return {
        "mode": mode,
        "steps": 0 if steps is None else steps,
        "dim_steps": dim_steps or 0,
        "dim_changed_keys": len(dim_keys or []),
        "source_files_read": files_read,
        "minmax_recompute_files": recompute_read,
        "dirty_minmax_groups": dirty_groups,
        "groups": sum(
            int(f.get("record_count") or 0) for f in t.plan_files(None)
        ),
    }


def agg_via_rollup(
    source,
    spark,
    aggs: list[tuple[str, str, str]],
    group_by: list[str],
    filters: Any = None,
) -> Any | None:
    """Answer a grouped aggregate battery from a registered FRESH
    rollup instead of the source — the materialized-view rewrite.

    ``aggs`` uses ``agg_pushdown``'s [(fn, col, alias)] shape with fn ∈
    {count (col or "*"), sum, min, max} (min/max only over the
    rollup's ``minmax_cols`` — min over subgroup minima is the min,
    the same additivity count/sum enjoy).  A rollup qualifies when its
    watermark
    IS the source's current snapshot (stale → never used: results must
    not depend on how recently maintenance ran), it was built without a
    filter, its group columns are a SUPERSET of ``group_by`` (rollup
    re-aggregation: COUNT(*) = SUM(n), COUNT(col) = SUM(nn_col),
    SUM(col) = SUM(sum_col) — all additive), and it carries every
    requested sum/count column.  When SEVERAL rollups qualify the
    SMALLEST (fewest group rows by manifest record counts — zero IO)
    answers: a coarser rollup re-aggregates less, and registration
    order must not decide cost (r12).  Cost is O(chosen rollup's
    groups), zero source IO; the source's scan counters record a
    zero-file scan like the metadata pushdown does.  Returns None when
    no registered rollup qualifies — the caller falls back to
    ``agg_pushdown`` or the scan.

    ``filters`` referencing ONLY group columns qualify too — selecting
    whole groups is a row filter on the rollup itself (stats-pruned +
    exact residual through its own scan); any predicate touching a
    non-group column refuses (it would need source rows).

    This is exactly the shape ``agg_pushdown`` CANNOT serve: grouping
    by non-partition columns (per-file stats cannot split a file
    across groups) — a fresh rollup keyed on them can."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.agg import _record_zero_scan
    from daskberg_spark.iceberg.metadata import IcebergTable

    if not group_by:
        return None
    for fn, col, _alias in aggs:
        if fn == "count" and col == "*":
            continue
        if fn not in ("count", "sum", "min", "max"):
            return None
    # a filter referencing only GROUP columns selects whole groups —
    # it applies to the rollup's rows directly.  Anything touching a
    # non-group column would need source rows: refuse.
    filter_cols: set[str] = set()
    if filters:
        from daskberg_spark.iceberg.planner import is_dnf

        for conj in filters if is_dnf(filters) else [filters]:
            for col, _op, _v in conj:
                filter_cols.add(col)
    reg = json.loads(
        (source.metadata.get("properties") or {}).get(PROP_REGISTRY, "[]")
    )
    cur = source.current_snapshot["snapshot-id"]
    # among QUALIFYING rollups, answer from the one with the fewest
    # group rows (manifest record counts — zero IO): a coarser rollup
    # re-aggregates less.  Registration order must not decide cost.
    candidates: list[tuple[int, int, Any, list]] = []
    for order, path in enumerate(reg):
        try:
            rt = IcebergTable(path)
        except Exception:
            continue
        props = rt.metadata.get("properties") or {}
        if PROP_FILTERS in props or PROP_DIM in props:
            # a filtered view answers a different question; a join
            # rollup's groups describe the JOIN, not the fact table
            continue
        if int(props.get(PROP_SNAPSHOT, -1)) != cur:
            continue  # stale watermark: using it could be WRONG
        groups = json.loads(props.get(PROP_GROUPS, "[]"))
        sums = set(json.loads(props.get(PROP_SUMS, "[]")))
        mms = set(json.loads(props.get(PROP_MINMAX, "[]")))
        if not set(group_by) <= set(groups):
            continue
        if filter_cols and not filter_cols <= set(groups):
            continue
        need_sum = {c for fn, c, _ in aggs if fn in ("count", "sum") and c != "*"}
        need_mm = {c for fn, c, _ in aggs if fn in ("min", "max")}
        if not (need_sum <= sums and need_mm <= mms):
            continue
        size = sum(
            int(f.get("record_count") or 0) for f in rt.plan_files(None)
        )
        candidates.append((size, order, rt, groups))
    for _size, _order, rt, groups in sorted(candidates, key=lambda c: c[:2]):
        exprs = []
        need_cols = set(group_by)
        for fn, col, alias in aggs:
            if fn == "count" and col == "*":
                exprs.append(F.sum("n").cast("long").alias(alias))
                need_cols.add("n")
            elif fn == "count":
                exprs.append(F.sum(f"nn_{col}").cast("long").alias(alias))
                need_cols.add(f"nn_{col}")
            elif fn == "min":
                # min over subgroup minima IS the min (same for max)
                exprs.append(F.min(f"min_{col}").alias(alias))
                need_cols.add(f"min_{col}")
            elif fn == "max":
                exprs.append(F.max(f"max_{col}").alias(alias))
                need_cols.add(f"max_{col}")
            else:
                exprs.append(F.sum(f"sum_{col}").alias(alias))
                need_cols.add(f"sum_{col}")
        # filters ride through the rollup's OWN scan (stats-pruned +
        # exact residual) — selecting whole groups is just a row filter
        # on the rollup table
        rdf = rt.to_df(
            spark,
            columns=sorted(need_cols | filter_cols),
            filters=filters,
        )
        out = rdf.groupBy(*group_by).agg(*exprs)
        _record_zero_scan(source, filters)
        source.last_agg_rollup = {"rollup": rt.url, "groups_over": groups}
        return out
    return None
