"""Equi-depth quantile histograms as engine-extension table statistics
— the range-selectivity half of the cost model.

Theta NDV blobs (``theta.py``) answer "how selective is ``col == v``";
they say nothing about ``col >= v``.  The textbook fallback — 1/3 per
range predicate (System R) — is off by orders of magnitude on skewed
or time-ordered data: ``ts >= now() - 1 day`` on a year of logs is
~0.3% selective, not 33%.  This module stores, per numeric/temporal
column, the ``B+1`` equi-depth bucket boundaries of the CURRENT
snapshot (one distributed ``percentile_approx`` aggregate — Spark's
mergeable Greenwald-Khanna sketch, bounded executor state, exact below
the accuracy parameter) as a ``daskberg-quantiles-v1`` Puffin blob in
the spec ``statistics`` list, and ``range_selectivity`` interpolates a
CDF from them at plan time.  ``cbo.estimated_rows`` consults the
histogram before falling back to 1/3, so star-join ordering reacts to
WHERE-clause ranges the way it already reacts to equality NDVs.

Engine extension: foreign readers skip unknown Puffin blob types per
the spec, exactly like the bloom-index blobs.  Estimates only — plan
choice, never results; every consumer re-applies exact predicates.

Exact equi-depth boundaries are not mergeable (they need the raw
ranks), but a PER-FILE compressed CDF is (r12): each data file's
``K+1`` equi-depth knots with its row/non-null census define a
piecewise-linear rank function whose sum across files approximates the
global CDF within ``Σ n_f/K = N/K`` ranks — the same error class as
the one-pass GK sketch at ε = 1/K.  ``write_file_quantile_partials``
stores those per-file CDFs as raw-file-content
``daskberg-quantiles-files-v1`` blobs (snapshot-independent, like the
sum blobs), and ``refresh_quantile_statistics`` advances the global
histogram by reading ONLY files no partial covers plus files with
possibly-applicable deletes (one delete-aware restricted scan), then
merging driver-side — refresh cost O(new + dirty files), not
O(table).  Merged blobs carry ``"merged": true``: estimates-grade
(CBO, range selectivity) and the documented-approximate
``percentile_pushdown`` both serve them; only the write-time
exact-mode knot guarantee is specific to the one-pass
``write_quantile_statistics``.
"""

from __future__ import annotations

import datetime
import json
from typing import Any

# the shared file classifier, re-exported for existing importers
from daskberg_spark.iceberg.statsblobs import _dirty_split, _norm  # noqa: F401

QUANTILE_BLOB_TYPE = "daskberg-quantiles-v1"
GROUPED_QUANTILE_BLOB_TYPE = "daskberg-quantiles-grouped-v1"
FILE_QUANTILE_BLOB_TYPE = "daskberg-quantiles-files-v1"
# per-(file × group) CDF partials (r13): the mergeable substrate that
# makes the GROUPED refresh O(new + dirty files) for ANY grouping —
# identity partitioning stops being a requirement because the partials
# carry the group key explicitly instead of inferring it from the
# file's partition tuple.  RAW file content, snapshot-independent,
# later-entries-win per file, exactly like the global partials.
GROUPED_FILE_QUANTILE_BLOB_TYPE = "daskberg-quantiles-files-grouped-v1"
DEFAULT_BUCKETS = 64
# grouped blobs refuse above this many groups: a blob is metadata, not
# a second copy of the table (per group ≈ (buckets+1) doubles/column)
MAX_BLOB_GROUPS = 10_000
# GK accuracy: exact histograms below this many non-null values — keeps
# small-table tests deterministic while bounding executor state
DEFAULT_ACCURACY = 10000

# column types a histogram covers, with their numeric encodings
_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_DT = datetime.datetime(1970, 1, 1)
_NUMERIC_TYPES = {
    "int",
    "long",
    "float",
    "double",
    "date",
    "timestamp",
    "timestamptz",
    "timestampz",
}


def _numeric_expr(name: str, ice_type: str):
    """The column as a DOUBLE rank domain: dates → epoch days,
    timestamps → epoch micros (matching ``value_to_number``)."""
    from pyspark.sql import functions as F

    c = F.col(name)
    if ice_type == "date":
        return F.unix_date(c).cast("double")
    if ice_type in ("timestamp", "timestamptz", "timestampz"):
        return F.unix_micros(c.cast("timestamp")).cast("double")
    return c.cast("double")


def value_to_number(value: Any, ice_type: str) -> float | None:
    """A normalized predicate value on the histogram's rank domain, or
    None when it can't be placed (→ caller falls back to 1/3)."""
    from daskberg_spark.iceberg.planner import normalize_value

    v = normalize_value(value, ice_type)
    if v is None:
        return None
    if isinstance(v, bool):
        return None
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return (v - _EPOCH_DT).total_seconds() * 1e6
    if isinstance(v, datetime.date):
        return float((v - _EPOCH_DATE).days)
    if isinstance(v, (int, float)):
        return float(v)
    try:
        return float(v)  # Decimal and numeric strings
    except (TypeError, ValueError):
        return None


def _check_columns(columns, types, unknown: bool = True) -> None:
    for c in columns:
        if unknown and c not in types:
            raise ValueError(f"unknown column {c!r}")
        if types.get(c) not in _NUMERIC_TYPES:
            raise ValueError(
                f"column {c!r} has type {types.get(c)!r} — histograms "
                "cover numeric/temporal columns only"
            )


def _cdf_aggs(columns, types, buckets: int, accuracy: int) -> list:
    """The one CDF aggregate: the row count plus, per column, its
    ``buckets+1`` equi-depth knots (Spark's mergeable GK sketch,
    ``percentile_approx``) and its non-null count."""
    from pyspark.sql import functions as F

    probs = [i / buckets for i in range(buckets + 1)]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in columns:
        e = _numeric_expr(c, types[c])
        aggs.append(
            F.percentile_approx(
                e, F.array(*[F.lit(p) for p in probs]), F.lit(accuracy)
            ).alias(f"q {c}")
        )
        aggs.append(F.count(e).alias(f"n {c}"))
    return aggs


def _cdf_part(r, c: str) -> list:
    """``[rows, nonnull, bounds]`` of column ``c`` from a ``_cdf_aggs``
    row — the per-part CDF every partial and merge consumes."""
    bounds = r[f"q {c}"]
    return [
        int(r["__rows"]),
        int(r[f"n {c}"]),
        [float(b) for b in bounds] if bounds else [],
    ]


def _hist_blob(writer, c, part, buckets, snapshot_id, merged) -> dict:
    from daskberg_spark.iceberg.statsblobs import json_blob

    rows, nonnull, bounds = part
    payload = {
        "buckets": buckets,
        "rows": rows,
        "nonnull": nonnull,
        "bounds": bounds,
    }
    if merged:
        payload["merged"] = True
    return json_blob(
        QUANTILE_BLOB_TYPE,
        writer,
        c,
        payload,
        snapshot_id,
        writer._last_sequence_number,
    )


def _publish_hist(writer, discr, snapshot_id, blobs) -> str:
    from daskberg_spark.iceberg.statsblobs import (
        publish_blobs,
        same_snapshot_type,
    )

    return publish_blobs(
        writer,
        "quantiles",
        snapshot_id,
        discr,
        blobs,
        same_snapshot_type(snapshot_id, QUANTILE_BLOB_TYPE),
    )


def _publish_grouped(writer, t, tag, snapshot_id, columns, group_cols, blobs):
    """Publish a grouped histogram entry, replacement CONFIG-scoped
    (r14): writing "p95 by source" never clobbers a same-snapshot "p95
    by day" entry."""
    from daskberg_spark.iceberg.statsblobs import publish_grouped

    return publish_grouped(
        writer,
        t,
        GROUPED_QUANTILE_BLOB_TYPE,
        "quantiles-grouped",
        f"{tag}{snapshot_id}{sorted(columns)}{group_cols}",
        snapshot_id,
        group_cols,
        blobs,
    )


def write_quantile_statistics(
    writer,
    spark,
    columns: list[str] | None = None,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
) -> str | None:
    """ONE distributed aggregate over the delete-aware read computes
    every column's ``buckets+1`` boundaries plus row/non-null censuses;
    the driver packs one JSON blob per column into a Puffin statistics
    file on the current snapshot.  Re-running for a snapshot replaces
    its quantile entry (other statistics coexist).  Returns the file
    path, or None when no column qualifies."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)

    from daskberg_spark.iceberg.metadata import IcebergTable

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    types = dict(writer.types)
    if columns is None:
        columns = [c for c, t in types.items() if t in _NUMERIC_TYPES]
    else:
        _check_columns(columns, types)
    if not columns:
        return None
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    r = (
        t.to_df(spark, columns=list(columns))
        .agg(*_cdf_aggs(columns, types, buckets, accuracy))
        .collect()[0]
    )
    blobs = [
        _hist_blob(writer, c, _cdf_part(r, c), buckets, snapshot_id, False)
        for c in columns
    ]
    return _publish_hist(
        writer, f"quant{snapshot_id}{sorted(columns)}", snapshot_id, blobs
    )


def column_filecdfs(table, name: str) -> dict[str, list] | None:
    """Merged per-file CDF partials for a column across every
    statistics entry (raw-file blobs are snapshot-independent; later
    entries win per file): ``{normalized_path: [rows, nonnull,
    bounds]}``, or None when no blob covers the column."""
    from daskberg_spark.iceberg.statsblobs import file_partials

    return file_partials(table, FILE_QUANTILE_BLOB_TYPE, name)


def write_file_quantile_partials(
    writer,
    spark,
    columns: list[str],
    file_subset=None,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
    scan_source=None,
) -> str | None:
    """Per-(file, column) compressed CDFs in ONE distributed pass —
    the mergeable substrate of the quantile family (r12), written
    through ``statsblobs.write_file_partials``.  Reads RAW file
    contents (no delete application — the blob describes the
    immutable file, so it stays valid at every snapshot) grouped by
    ``__file``; per file only ``buckets+1`` doubles and two counts
    reach the driver.  ``file_subset`` (normalized paths) restricts
    the pass — the incremental refresh — and the entry APPENDS (later
    entries win per file); without it the snapshot's partials entry is
    replaced.  Returns the Puffin path or None when nothing scans."""
    from daskberg_spark.iceberg.statsblobs import write_file_partials

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    types = dict(writer.types)
    _check_columns(columns, types)

    def kernel(df, _scan_files):
        got = (
            df.groupBy("__file")
            .agg(*_cdf_aggs(columns, types, buckets, accuracy))
            .collect()
        )
        return {c: {r["__file"]: _cdf_part(r, c) for r in got} for c in columns}

    return write_file_partials(
        writer,
        spark,
        FILE_QUANTILE_BLOB_TYPE,
        "quantiles-files",
        "fquant",
        columns,
        None,
        file_subset,
        empty=[0, 0, []],
        extras=lambda c: {"buckets": buckets},
        kernel=kernel,
        scan_source=scan_source,
    )


def _consolidate_file_partials(writer, t, columns: list[str]) -> bool:
    """Repack the accumulated ``daskberg-quantiles-files-v1`` entries as
    ONE live-files entry covering EVERY column any entry indexes — not
    just the caller's — so a grouped refresh consolidating a column
    subset never silently drops another column's coverage.  The
    caller's final metadata write persists it."""
    from daskberg_spark.iceberg.statsblobs import (
        consolidate_partials,
        indexed_columns,
    )

    covered = indexed_columns(writer, FILE_QUANTILE_BLOB_TYPE)
    cols = [c for c in sorted(set(columns) | set(covered)) if c in writer.ids]
    return consolidate_partials(
        writer,
        t,
        FILE_QUANTILE_BLOB_TYPE,
        "quantiles-files",
        lambda: [(None, c) for c in cols],
        lambda c: {"buckets": DEFAULT_BUCKETS},
        salt=str(cols),
    )


def write_file_grouped_quantile_partials(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str],
    file_subset=None,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
    max_groups: int = MAX_BLOB_GROUPS,
    scan_source=None,
) -> str | None:
    """Per-(file, group, column) compressed CDFs in ONE distributed
    pass (r13) — the grouped twin of ``write_file_quantile_partials``.
    Reads RAW file contents grouped by (``__file``, group tuple); per
    (file, group) only ``buckets+1`` doubles and two counts reach the
    driver.  ``file_subset`` restricts the pass — the incremental
    refresh — and the entry APPENDS (later entries win per file);
    without it the snapshot's entry is replaced.  Returns the Puffin
    path or None when nothing scans."""
    from daskberg_spark.iceberg.groupkeys import gate_group_key, group_key_type
    from daskberg_spark.iceberg.statsblobs import write_file_partials

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    types = dict(writer.types)
    for g in group_cols:
        gate_group_key(g, types, _GROUP_KEY_TYPES, "grouped histograms key")
    _check_columns(columns, types, unknown=False)

    def kernel(df, scan_files):
        got = (
            df.groupBy("__file", *group_cols)
            .agg(*_cdf_aggs(columns, types, buckets, accuracy))
            .limit(max_groups * len(scan_files) + 1)
            .collect()
        )
        if len({tuple(r[g] for g in group_cols) for r in got}) > max_groups:
            raise ValueError(
                f"more than {max_groups} distinct {group_cols} tuples — a "
                "grouped partials blob must stay metadata-sized"
            )
        out: dict[str, dict] = {c: {} for c in columns}
        for r in got:
            gkey = json.dumps(
                [
                    _encode_group_value(r[g], group_key_type(g, types))
                    for g in group_cols
                ]
            )
            for c in columns:
                out[c].setdefault(r["__file"], {})[gkey] = _cdf_part(r, c)
        return out

    return write_file_partials(
        writer,
        spark,
        GROUPED_FILE_QUANTILE_BLOB_TYPE,
        "quantiles-files-grouped",
        "fgquant",
        columns,
        group_cols,
        file_subset,
        empty={},
        extras=lambda c: {"buckets": buckets},
        kernel=kernel,
        scan_source=scan_source,
    )


def grouped_column_filecdfs(
    table, name: str, group_cols: list[str]
) -> dict[str, dict[str, list]] | None:
    """Merged per-(file × group) CDF partials for a column across
    every statistics entry (later entries win per file):
    ``{normalized_path: {json_group_key: [rows, nonnull, bounds]}}``,
    or None when no blob covers the column with EXACTLY these group
    columns."""
    from daskberg_spark.iceberg.statsblobs import file_partials

    return file_partials(
        table, GROUPED_FILE_QUANTILE_BLOB_TYPE, name, group_cols
    )


def _consolidate_file_grouped_partials(writer, t, group_cols, columns) -> bool:
    """Repack accumulated per-(file × group) partials entries into ONE
    live-files-only entry covering EVERY (grouping, column) pair any
    existing entry indexes, so a superseded grouping's coverage never
    silently drops (the caller's final metadata write persists it)."""
    from daskberg_spark.iceberg.statsblobs import (
        consolidate_partials,
        partial_pairs,
    )

    return consolidate_partials(
        writer,
        t,
        GROUPED_FILE_QUANTILE_BLOB_TYPE,
        "quantiles-files-grouped",
        lambda: partial_pairs(writer, t, GROUPED_FILE_QUANTILE_BLOB_TYPE),
        lambda c: {"buckets": DEFAULT_BUCKETS},
        salt=str(sorted(columns)) + str(group_cols),
    )


def merge_cdf_parts(
    parts: list[tuple[int, int, list[float]]], buckets: int
) -> tuple[int, int, list[float]]:
    """Combine per-part compressed CDFs into global ``buckets+1``
    equi-depth boundaries — EXACT over the piecewise-linear model, so
    total rank error ≤ Σ nonnull_p / K_p (up to 2× that under heavy
    duplicate values, where the per-part knot placement itself
    quantizes by a bucket — the property test pins the 2× envelope).

    Each part ``(rows, nonnull, bounds)`` contributes a
    piecewise-linear rank function (equi-depth knots: ``bounds[i]`` has
    rank ``i/K · nonnull``); duplicate/single knots contribute point
    masses.  A slope-event sweep accumulates the merged rank at every
    union knot in O(E log E), and the targets invert by linear
    interpolation (point masses clamp to their knot)."""
    rows = sum(int(p[0]) for p in parts)
    nn = sum(int(p[1]) for p in parts)
    if nn <= 0:
        return rows, 0, []
    slope_ev: dict[float, float] = {}
    jumps: dict[float, float] = {}
    for _r, nnp, b in parts:
        if not nnp or not b:
            continue
        if len(b) == 1:
            jumps[b[0]] = jumps.get(b[0], 0.0) + nnp
            continue
        k = len(b) - 1
        w = nnp / k
        for i in range(k):
            lo, hi = b[i], b[i + 1]
            if hi > lo:
                s = w / (hi - lo)
                slope_ev[lo] = slope_ev.get(lo, 0.0) + s
                slope_ev[hi] = slope_ev.get(hi, 0.0) - s
            else:
                jumps[lo] = jumps.get(lo, 0.0) + w
    knots = sorted(set(slope_ev) | set(jumps))
    if not knots:
        # nonnull > 0 but every part carries empty bounds — possible
        # only with a malformed/foreign-written partials blob; degrade
        # to "no boundaries" (callers treat it as unanswerable) instead
        # of crashing the refresh
        return rows, nn, []
    rb, ra = [], []  # merged rank just before / after each knot's mass
    acc = slope = 0.0
    prev = None
    for v in knots:
        if prev is not None:
            acc += slope * (v - prev)
        rb.append(acc)
        acc += jumps.get(v, 0.0)
        ra.append(acc)
        slope += slope_ev.get(v, 0.0)
        prev = v
    total = ra[-1]  # ≈ nn up to float rounding
    bounds: list[float] = []
    i = 0
    for j in range(buckets + 1):
        r = j / buckets * total
        while i < len(knots) - 1 and rb[i + 1] < r:
            i += 1
        if r <= ra[i] or i == len(knots) - 1:
            bounds.append(knots[i])
            continue
        lo_r, hi_r = ra[i], rb[i + 1]
        frac = (r - lo_r) / (hi_r - lo_r) if hi_r > lo_r else 1.0
        frac = min(max(frac, 0.0), 1.0)
        bounds.append(knots[i] + frac * (knots[i + 1] - knots[i]))
    return rows, nn, bounds


def _partial_columns(writer) -> list[str]:
    """The columns per-file CDF partials index — the opt-in shape of the
    global refresh (a column dropped or retyped since stops refreshing)."""
    from daskberg_spark.iceberg.statsblobs import indexed_columns

    return [
        c
        for c in indexed_columns(writer, FILE_QUANTILE_BLOB_TYPE)
        if writer.types.get(c) in _NUMERIC_TYPES
    ]


def refresh_quantile_statistics(
    writer,
    spark,
    columns: list[str] | None = None,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
    scan_source=None,
) -> dict[str, Any] | None:
    """Advance the global quantile histograms to the current snapshot
    at O(new + dirty files) cost (r12): per-file partials already on
    record are REUSED for clean files; only clean files no partial
    covers take the raw grouped pass, and files with
    possibly-applicable deletes take one delete-aware restricted scan
    (their raw-content partials can't be trusted).  The merged
    boundaries land as the snapshot's ``daskberg-quantiles-v1`` entry
    with ``"merged": true``, so every consumer (CBO range selectivity,
    ``percentile_pushdown``, ``analyze_table``) reads them unchanged.

    ``columns=None`` refreshes the columns existing partials cover —
    the ``maintain()`` opt-in shape shared with the sum blobs; None is
    returned for tables that never opted in.  Passing ``columns``
    bootstraps coverage (first call prices like the full one-pass
    build; every later call is incremental)."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import catch_up_partials, dirty_read

    types = dict(writer.types)
    if columns is None:
        columns = _partial_columns(writer)
        if not columns:
            return None
    else:
        _check_columns(columns, types, unknown=False)
    snapshot_id = writer.head_snapshot["snapshot-id"]
    cu = catch_up_partials(
        writer,
        IcebergTable(writer.path),
        columns,
        column_filecdfs,
        lambda missing: write_file_quantile_partials(
            writer,
            spark,
            columns,
            file_subset=missing,
            buckets=buckets,
            accuracy=accuracy,
            scan_source=scan_source,
        ),
    )
    _consolidate_file_partials(writer, cu.t, columns)
    parts = {
        c: [cu.maps[c][p] for p in sorted(cu.clean) if p in cu.maps[c]]
        for c in columns
    }
    if cu.dirty:
        r = (
            dirty_read(cu.t, spark, cu.dirty, columns, scan_source)
            .agg(*_cdf_aggs(columns, types, buckets, accuracy))
            .collect()[0]
        )
        for c in columns:
            parts[c].append(_cdf_part(r, c))
    blobs = [
        _hist_blob(
            writer, c, merge_cdf_parts(parts[c], buckets), buckets,
            snapshot_id, True,
        )
        for c in columns
    ]
    path = _publish_hist(
        writer, f"mquant{snapshot_id}{sorted(columns)}", snapshot_id, blobs
    )
    return {
        "path": path,
        "columns": list(columns),
        "files_total": len(cu.files),
        "partials_computed": len(cu.missing),
        "dirty_files": len(cu.dirty),
    }


def catch_up_quantile_statistics(writer, spark, scan_source=None):
    """``maintain()``'s global-histogram step for an opted-in table whose
    head lacks one: incremental from per-file CDF partials when they
    exist, else the full one-pass re-run.  Returns the refreshed
    columns, or None when no histogram column is still numeric — a
    column dropped or retyped since the last run must not crash the
    nightly job, it simply stops being refreshed."""
    from daskberg_spark.iceberg.statsblobs import indexed_columns

    q_cols = [
        c
        for c in indexed_columns(writer, QUANTILE_BLOB_TYPE)
        if writer.types.get(c) in _NUMERIC_TYPES
    ]
    if not q_cols:
        return None
    if refresh_quantile_statistics(writer, spark, scan_source=scan_source) is None:
        write_quantile_statistics(writer, spark, q_cols)
    return q_cols


def _quantile_runnable(writer, gc: tuple, cfg: dict):
    cols = [c for c in cfg["columns"] if writer.types.get(c) in _NUMERIC_TYPES]
    return (list(gc), cols) if gc and cols else None


def refresh_grouped_quantile_statistics(
    writer,
    spark,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
    scan_source=None,
    skip_head_covered: bool = False,
) -> dict[str, Any] | None:
    """Advance the GROUPED quantile blobs to the current snapshot at
    O(new + dirty files) cost for ANY grouping (r13; identity-only in
    r12).  Two incremental strategies, both reported in the result:

    - ``identity-partials``: when every group column is an identity
      partition source in every live file's spec (and none is a date —
      manifest partition encoding differs from the blob's ISO keys), a
      file belongs to exactly ONE group tuple, so the per-file CDF
      partials the GLOBAL refresh already maintains ARE per-group
      partials — zero extra storage, shared scan passes.
    - ``file-grouped-partials``: any other grouping (dates included)
      uses per-(file × group) CDF partials
      (``write_file_grouped_quantile_partials``) that carry the group
      key explicitly — the r12 full-re-run degrade is gone.

    Clean files stay metadata-only; new clean files take one raw
    grouped pass; delete-dirtied files take one delete-aware
    restricted scan grouped by the group columns.  EVERY grouping any
    blob ever defined refreshes (multi-config, r14) — drop one with
    ``drop_grouped_quantile_statistics``; ``skip_head_covered``
    (maintain()) skips a grouping whose own entry already covers the
    head (r15).  None on tables that never wrote a grouped blob.
    Returns ``{"mode", "strategy", "files_total", "partials_computed",
    "dirty_files", "groups"}`` (merged with a ``"configs"`` list over
    several groupings)."""
    from daskberg_spark.iceberg.statsblobs import refresh_configs

    return refresh_configs(
        writer,
        GROUPED_QUANTILE_BLOB_TYPE,
        skip_head_covered,
        lambda gc, cfg: _quantile_runnable(writer, gc, cfg),
        lambda gc, cols: _refresh_grouped_quantile_config(
            writer, spark, gc, cols, buckets, accuracy, scan_source
        ),
        lambda reports: {
            "mode": "incremental",
            "strategy": "+".join(sorted({r["strategy"] for r in reports})),
        },
    )


def _identity_keys(writer, t, group_cols, files) -> dict[str, tuple] | None:
    """``{normalized path: group tuple}`` when every group column is an
    identity partition source in every file's spec (the identity
    strategy: a file is exactly one group); None otherwise.  Dates are
    excluded — manifest partition encoding differs from the blob's ISO
    keys."""
    if any(
        writer.types.get(g) not in ("int", "long", "string", "boolean")
        for g in group_cols
    ):
        return None
    keys: dict[str, tuple] = {}
    for f in files:
        by_source = {
            sf["source-id"]: sf
            for sf in t._spec_fields(f.get("_spec_id", 0))
            if sf.get("transform") == "identity"
        }
        names = []
        for g in group_cols:
            sf = by_source.get(t.fields[g].field_id)
            if sf is None:
                return None
            names.append(sf["name"])
        part = f.get("partition") or {}
        keys[_norm(f["file_path"])] = tuple(part.get(n) for n in names)
    return keys


def _refresh_grouped_quantile_config(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str],
    buckets: int,
    accuracy: int,
    scan_source,
) -> dict[str, Any]:
    """One grouping's incremental refresh."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)

    from daskberg_spark.iceberg.groupkeys import (
        apply_group_keys,
        group_key_base,
        group_key_type,
    )
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import (
        catch_up_partials,
        dirty_read,
        json_blob,
    )

    t = IcebergTable(writer.path)
    types = dict(writer.types)
    snapshot_id = writer.head_snapshot["snapshot-id"]
    split = _dirty_split(t)
    keys = _identity_keys(writer, t, group_cols, split[0])
    opts = {"buckets": buckets, "accuracy": accuracy, "scan_source": scan_source}
    if keys is not None:
        strategy, read_map = "identity-partials", column_filecdfs

        def write_missing(missing):
            write_file_quantile_partials(
                writer, spark, columns, file_subset=missing, **opts
            )

    else:
        strategy = "file-grouped-partials"

        def read_map(t_, c):
            return grouped_column_filecdfs(t_, c, group_cols)

        def write_missing(missing):
            write_file_grouped_quantile_partials(
                writer, spark, group_cols, columns, file_subset=missing, **opts
            )

    cu = catch_up_partials(writer, t, columns, read_map, write_missing, split)
    parts: dict[str, dict[tuple, list]] = {c: {} for c in columns}
    if keys is not None:
        _consolidate_file_partials(writer, cu.t, columns)
    else:
        _consolidate_file_grouped_partials(writer, cu.t, group_cols, columns)
    for p in sorted(cu.clean):
        for c in columns:
            if keys is not None:
                # the clean file's identity partition tuple is its
                # only group
                groups = {keys[p]: cu.maps[c][p]} if p in cu.maps[c] else {}
            else:
                groups = {
                    tuple(json.loads(g)): part
                    for g, part in (cu.maps[c].get(p) or {}).items()
                }
            for key, part in groups.items():
                parts[c].setdefault(key, []).append(part)
    if cu.dirty:
        dirty_cols = sorted(
            {group_key_base(g, types) for g in group_cols} | set(columns)
        )
        df = apply_group_keys(
            dirty_read(cu.t, spark, cu.dirty, dirty_cols, scan_source),
            list(group_cols),
            types,
        )
        # limit+check mirrors the build path — bounded today only
        # transitively (deletes can't ADD groups; new files take the
        # guarded partials path), so guard here defensively: a future
        # refresh path classifying appends as "dirty" must refuse
        # rather than silently lift the blob's group bound
        dirty_rows = (
            df.groupBy(*group_cols)
            .agg(*_cdf_aggs(columns, types, buckets, accuracy))
            .limit(MAX_BLOB_GROUPS + 1)
            .collect()
        )
        if len(dirty_rows) > MAX_BLOB_GROUPS:
            raise ValueError(
                f"more than {MAX_BLOB_GROUPS} distinct {group_cols} "
                "tuples in the dirty-file scan — a grouped quantile "
                "blob must stay metadata-sized"
            )
        for r in dirty_rows:
            # encode (dates → ISO) so dirty-scan keys collate with the
            # json-round-tripped partial keys; a no-op for the
            # identity strategy's int/long/string/boolean keys
            key = tuple(
                _encode_group_value(r[g], group_key_type(g, types))
                for g in group_cols
            )
            for c in columns:
                parts[c].setdefault(key, []).append(_cdf_part(r, c))
    blobs = []
    seq = writer._last_sequence_number
    n_groups = 0
    for c in columns:
        groups = []
        for key, plist in sorted(
            parts[c].items(),
            key=lambda kv: tuple((v is None, v) for v in kv[0]),
        ):
            rows, nonnull, bounds = merge_cdf_parts(plist, buckets)
            if rows == 0:
                continue
            groups.append(
                {
                    "key": [_encode_group_value(v) for v in key],
                    "rows": rows,
                    "nonnull": nonnull,
                    "bounds": bounds,
                }
            )
        n_groups = max(n_groups, len(groups))
        payload = {
            "group_cols": list(group_cols),
            "buckets": buckets,
            "groups": groups,
            "merged": True,
        }
        blobs.append(
            json_blob(GROUPED_QUANTILE_BLOB_TYPE, writer, c, payload, snapshot_id, seq)
        )
    _publish_grouped(
        writer, cu.t, "mgquant", snapshot_id, columns, group_cols, blobs
    )
    return {
        "mode": "incremental",
        "strategy": strategy,
        "group_cols": list(group_cols),
        "files_total": len(cu.files),
        "partials_computed": len(cu.missing),
        "dirty_files": len(cu.dirty),
        "groups": n_groups,
    }


# group-key types a grouped blob can round-trip through JSON exactly
# + timestamps (r14): ISO-micros key codec, mirroring the theta side;
# raw timestamp keys usually trip max_groups first — the useful form is
# a derived day()/hour() key (groupkeys.py)
_GROUP_KEY_TYPES = {
    "int",
    "long",
    "string",
    "boolean",
    "date",
    "timestamp",
    "timestamptz",
    "timestampz",
}


def _encode_group_value(v: Any, ice_type: str | None = None) -> Any:
    # one codec for both families (r15) — see groupkeys.py; pass the
    # key's iceberg type so collect()-path LTZ instants (rendered
    # driver-system-local naive by PySpark) normalize to UTC while
    # NTZ walls encode verbatim
    from daskberg_spark.iceberg.groupkeys import encode_group_value

    return encode_group_value(v, ice_type)


def decode_group_value(v: Any, ice_type: str) -> Any:
    # kept as the historical import site; the implementation (and the
    # aware-UTC timestamp convention) lives in groupkeys.py (r15)
    from daskberg_spark.iceberg.groupkeys import (
        decode_group_value as _decode,
    )

    return _decode(v, ice_type)


def write_grouped_quantile_statistics(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str] | None = None,
    buckets: int = DEFAULT_BUCKETS,
    accuracy: int = DEFAULT_ACCURACY,
    max_groups: int = MAX_BLOB_GROUPS,
    scan_source=None,
) -> str | None:
    """PER-GROUP equi-depth boundaries — the grouped twin of
    ``write_quantile_statistics`` (r12): ONE distributed grouped
    aggregate computes every value column's ``buckets+1`` boundaries
    plus row/non-null censuses for each distinct ``group_cols`` tuple
    (typically the table's identity partition columns — "p95 latency
    by day"), packed as one ``daskberg-quantiles-grouped-v1`` Puffin
    blob per value column on the current snapshot.
    ``agg.percentile_groupby`` then serves grouped percentile
    batteries metadata-only.  Refuses above ``max_groups`` distinct
    tuples — a statistics blob must stay metadata-sized — and
    restricts group columns to JSON-round-trippable types
    (int/long/string/boolean/date).  Returns the Puffin path, or None
    when no value column qualifies."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import json_blob

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    from daskberg_spark.iceberg.groupkeys import (
        apply_group_keys,
        gate_group_key,
        group_key_base,
        group_key_type,
    )

    types = dict(writer.types)
    for g in group_cols:
        gate_group_key(g, types, _GROUP_KEY_TYPES, "grouped histograms key")
    if columns is None:
        columns = [
            c
            for c, t in types.items()
            if t in _NUMERIC_TYPES and c not in group_cols
        ]
    else:
        _check_columns(columns, types)
    if not columns:
        return None
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    bases = {group_key_base(g, types) for g in group_cols}
    need = sorted(bases | set(columns))
    # one-scan bootstrap (r16): current content may serve from a shared
    # cache only through the delete-state gate (raw == current exactly
    # when no delete applies at the scan's planned snapshot); else the
    # delete-aware direct read
    src = (
        scan_source.current_frame(t.plan_files(None), need, snapshot_id)
        if scan_source is not None
        else None
    )
    if src is None:
        src = t.to_df(spark, columns=need)
    df = apply_group_keys(src, group_cols, types)
    rows = (
        df.groupBy(*group_cols)
        .agg(*_cdf_aggs(columns, types, buckets, accuracy))
        .limit(max_groups + 1)
        .collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"more than {max_groups} distinct {group_cols} tuples — a "
            "grouped histogram blob must stay metadata-sized; roll the "
            "groups up or raise max_groups deliberately"
        )
    seq = writer._last_sequence_number
    blobs = []
    for c in columns:
        groups = []
        for r in rows:
            n_rows, nonnull, bounds = _cdf_part(r, c)
            groups.append(
                {
                    "key": [
                        _encode_group_value(r[g], group_key_type(g, types))
                        for g in group_cols
                    ],
                    "rows": n_rows,
                    "nonnull": nonnull,
                    "bounds": bounds,
                }
            )
        payload = {
            "group_cols": list(group_cols),
            "buckets": buckets,
            "groups": groups,
        }
        blobs.append(
            json_blob(GROUPED_QUANTILE_BLOB_TYPE, writer, c, payload, snapshot_id, seq)
        )
    return _publish_grouped(
        writer, t, "gquant", snapshot_id, columns, group_cols, blobs
    )


def drop_grouped_quantile_statistics(
    writer, group_cols: list[str], drop_unreadable: bool = False
) -> int:
    """Stop maintaining one grouping (r14 multi-config complement):
    removes every statistics entry whose grouped quantile blob keys on
    EXACTLY ``group_cols`` — at any snapshot, so the refresh registry
    forgets it — and returns the removed entry count.  Unreadable
    entries are KEPT unless ``drop_unreadable=True`` (r15): a
    transient IO error must not delete a different grouping."""
    from daskberg_spark.iceberg.statsblobs import drop_grouped

    return drop_grouped(
        writer, GROUPED_QUANTILE_BLOB_TYPE, group_cols, drop_unreadable
    )


def range_selectivity(hist: dict, op: str, value: float) -> float | None:
    """Fraction of the table's rows an ``<op> value`` range predicate
    keeps, from the equi-depth boundaries (linear interpolation within
    a bucket), scaled by the non-null fraction — NULLs never satisfy a
    range predicate.  None when the histogram can't answer (empty)."""
    bounds = hist.get("bounds") or []
    rows = int(hist.get("rows") or 0)
    nonnull = int(hist.get("nonnull") or 0)
    if len(bounds) < 2 or rows <= 0 or nonnull <= 0:
        return None

    def cdf(v: float) -> float:
        if v < bounds[0]:
            return 0.0
        if v >= bounds[-1]:
            return 1.0
        n = len(bounds) - 1
        # binary search for the bucket containing v
        lo, hi = 0, n - 1
        while lo < hi:
            mid = (lo + hi + 1) // 2
            if bounds[mid] <= v:
                lo = mid
            else:
                hi = mid - 1
        b0, b1 = bounds[lo], bounds[lo + 1]
        frac = 0.0 if b1 <= b0 else (v - b0) / (b1 - b0)
        return (lo + min(max(frac, 0.0), 1.0)) / n

    if op in ("<", "<="):
        s = cdf(value)
    elif op in (">", ">="):
        s = 1.0 - cdf(value)
    else:
        return None
    return min(1.0, max(0.0, s)) * (nonnull / rows)


def plan_quantile_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT global quantile refresh:
    ``(raw_norm_paths, raw_columns, dirty_columns)`` — the quantile row
    of the ``statsblobs.stats_families`` table that
    ``onepass.plan_shared_stats_scan`` composes.  Empty sets when the
    table never opted into per-file CDF partials.  Advisory only: a
    stale plan changes shared-cache membership, never answers —
    builders fall back to direct reads for anything the cache can't
    serve."""
    from daskberg_spark.iceberg.statsblobs import plan_missing

    columns = _partial_columns(writer)
    if not columns:
        return set(), set(), set()
    return plan_missing(t, columns, column_filecdfs)


def plan_grouped_quantile_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT grouped quantile refresh:
    ``(raw_norm_paths, raw_columns, dirty_columns)`` over exactly the
    groupings the refresh would run.  Mirrors the refresh's strategy
    split: identity groupings reuse the GLOBAL per-file CDF partials
    (value columns only — the group is the file's partition tuple),
    any other grouping uses the per-(file x group) partials and reads
    the group columns too; the dirty scan always groups by them."""
    from daskberg_spark.iceberg.groupkeys import group_key_base
    from daskberg_spark.iceberg.statsblobs import (
        clean_paths,
        runnable_configs,
        uncovered,
    )

    runnable = runnable_configs(
        writer,
        t,
        GROUPED_QUANTILE_BLOB_TYPE,
        lambda gc, cfg: _quantile_runnable(writer, gc, cfg),
    )
    if not runnable:
        return set(), set(), set()
    files, dirty = _dirty_split(t)
    clean = clean_paths(files, dirty)
    types = dict(writer.types)
    missing: set[str] = set()
    raw_cols: set[str] = set()
    dirty_cols: set[str] = set()
    for group_cols, columns in runnable:
        bases = {group_key_base(g, types) for g in group_cols}
        if _identity_keys(writer, t, group_cols, files) is not None:
            maps = [column_filecdfs(t, c) or {} for c in columns]
            raw_cols |= set(columns)
        else:
            maps = [
                grouped_column_filecdfs(t, c, group_cols) or {}
                for c in columns
            ]
            raw_cols |= bases | set(columns)
        missing |= uncovered(clean, maps)
        if dirty:
            dirty_cols |= bases | set(columns)
    return missing, raw_cols, dirty_cols
