"""Per-file column SUM statistics as engine-extension Puffin blobs —
the additive third leg of the statistics family (theta = NDV,
quantiles = ranks, this = totals).

Iceberg manifests carry per-file counts and bounds but no sums, so a
``SUM(col)`` / ``AVG(col)`` is a full scan even on a table whose every
other aggregate answers from metadata (``agg.py``).  This module
stores, per indexed column, the EXACT per-file sum and non-null count
of every data file's RAW contents in a ``daskberg-colsum-v1`` blob,
and ``agg_pushdown`` gains ``sum`` on top of it: a clean (delete-free)
whole-matching file contributes its stored sum, everything else joins
the one residual scan.  On a 100 TB table ``SUM(qty) GROUP BY day``
becomes a blob read — per-file sums ARE per-group sums under identity
partitioning, the same argument the grouped count/min/max pushdown
makes.

Soundness is exactness, not estimation:

- **Integral and decimal columns only.**  Sums accumulate as
  ``decimal(38, s)`` inside Spark (a single file cannot overflow it:
  |sum| ≤ 2³¹ rows × 2⁶³ < 10³⁸) and as arbitrary-precision Python
  ints across files — never a silent wrap.  float/double are REFUSED:
  their sums are order-dependent in IEEE arithmetic, so no stored
  per-file value could promise bit-exact equality with a direct scan.
- **Raw-file semantics** (same design as the Bloom index): a blob
  describes the immutable file's FULL contents, so it stays valid at
  every snapshot — time travel and rollback included — and any file
  with a possibly-applicable delete simply falls back to the scan
  (a DV's exact cardinality helps ``count(*)`` but says nothing about
  WHICH values died, so sums always need clean files).
- **Missing coverage degrades, never lies**: a file absent from every
  blob (appended after the last refresh) routes to the residual scan;
  ``refresh_sum_statistics`` indexes only the uncovered files and
  ``maintain()`` runs it for opted-in tables.

Engine extension: foreign readers skip unknown Puffin blob types per
the spec, exactly like the bloom/quantile blobs.

Reference parity: the reference (daskberg) has no statistics writing
at all (``/root/reference/README.md`` "Missing": any writing); sums
are its full-scan path like every aggregate.
"""

from __future__ import annotations

import decimal
from typing import Any

SUM_BLOB_TYPE = "daskberg-colsum-v1"

_INT64_MAX = (1 << 63) - 1


def is_summable(type_str: str) -> bool:
    return type_str in ("int", "long") or type_str.startswith("decimal")


def type_scale(type_str: str) -> int:
    """Decimal scale of the column (0 for int/long)."""
    if type_str.startswith("decimal"):
        return int(type_str.rstrip(")").split(",")[1])
    return 0


def write_sum_statistics(
    writer,
    spark,
    columns: list[str] | None = None,
    file_subset: dict[str, set] | None = None,
    scan_source=None,
) -> str | None:
    """Build per-(file, column) exact sums in ONE distributed pass and
    commit them as a Puffin statistics file on the current snapshot
    (``statsblobs.write_file_partials``).  Returns the statistics file
    path (None when nothing qualifies).

    The pass reads RAW file contents (``_read_file_groups``, no delete
    application) grouped by ``__file``: one ``decimal(38, s)`` sum and
    one non-null count per (file, column) reach the driver — O(files),
    never values or rows.  Zero-row and all-NULL files are recorded
    explicitly (sum NULL, count 0) so the probe can SKIP them instead
    of scanning.

    ``file_subset`` (per-column sets of file paths) restricts the build
    to those files — the incremental ``refresh_sum_statistics`` path —
    and the entry is APPENDED (prior blobs stay live, later entries
    win per file) instead of replacing the snapshot's colsum entry.
    """
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.statsblobs import write_file_partials

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    types = dict(writer.types)
    if columns is None:
        columns = sorted(c for c, t in types.items() if is_summable(t))
    else:
        for c in columns:
            if c not in types:
                raise ValueError(f"unknown column {c!r}")
            if not is_summable(types[c]):
                raise ValueError(
                    f"column {c!r} has type {types[c]!r} — exact sum "
                    "statistics cover int/long/decimal only (float "
                    "sums are order-dependent)"
                )
    scales = {c: type_scale(types[c]) for c in columns}

    def kernel(df, _scan_files):
        aggs = []
        for c in columns:
            aggs.append(
                F.sum(F.col(c).cast(f"decimal(38,{scales[c]})")).alias(f"s {c}")
            )
            aggs.append(F.count(F.col(c)).alias(f"n {c}"))
        got = df.groupBy("__file").agg(*aggs).collect()
        out: dict[str, dict] = {c: {} for c in columns}
        for r in got:
            for c in columns:
                v = r[f"s {c}"]
                unscaled = (
                    None
                    if v is None
                    else str(
                        int(
                            v.scaleb(scales[c]).to_integral_value(
                                rounding=decimal.ROUND_HALF_EVEN
                            )
                        )
                    )
                )
                out[c][r["__file"]] = [unscaled, int(r[f"n {c}"])]
        return out

    return write_file_partials(
        writer,
        spark,
        SUM_BLOB_TYPE,
        "colsums",
        "colsum",
        columns,
        None,
        file_subset,
        empty=[None, 0],
        extras=lambda c: {"scale": scales[c]},
        kernel=kernel,
        scan_source=scan_source,
    )


def column_filesums(table, name: str) -> dict[str, tuple[int | None, int]] | None:
    """Merged per-file sums for a column across EVERY statistics entry
    (raw-file blobs are snapshot-independent; later entries win per
    file): ``{normalized_path: (unscaled_sum | None, nonnull)}``, or
    None when no blob covers the column at all."""
    from daskberg_spark.iceberg.statsblobs import file_partials

    m = file_partials(table, SUM_BLOB_TYPE, name)
    if m is None:
        return None
    return {
        p: (None if s is None else int(s), int(n)) for p, (s, n) in m.items()
    }


def _summable_columns(writer) -> list[str]:
    """The columns colsum blobs index (a column dropped or retyped since
    the last run stops refreshing)."""
    from daskberg_spark.iceberg.statsblobs import indexed_columns

    return [
        c
        for c in indexed_columns(writer, SUM_BLOB_TYPE)
        if is_summable(writer.types.get(c, ""))
    ]


def refresh_sum_statistics(writer, spark, scan_source=None) -> str | None:
    """Incremental catch-up: index only the LIVE planned files not yet
    covered by any colsum blob, per already-indexed column.  A no-op
    (None) on tables that never ran ``write_sum_statistics`` — the
    ``maintain()`` opt-in shape shared with the Bloom index.  Past
    ``statsblobs.CONSOLIDATE_AFTER`` accumulated entries the refresh
    first rewrites one consolidated live-files entry (committed)."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import consolidate_partials

    cols = _summable_columns(writer)
    if not cols:
        return None
    t = IcebergTable(writer.path)
    types = dict(writer.types)
    consolidate_partials(
        writer,
        t,
        SUM_BLOB_TYPE,
        "colsums",
        lambda: [(None, c) for c in cols],
        lambda c: {"scale": type_scale(types[c])},
        salt=str(sorted(cols)),
        commit=True,
    )
    subset = _uncovered_live(t, cols)
    if not subset:
        return None
    return write_sum_statistics(
        writer, spark, sorted(subset), file_subset=subset,
        scan_source=scan_source,
    )


def _uncovered_live(t, cols: list[str]) -> dict[str, set]:
    """Per column, the live files no colsum blob covers yet."""
    from daskberg_spark.iceberg.statsblobs import _norm

    live = {_norm(f["file_path"]) for f in t.plan_files(None)}
    subset: dict[str, set] = {}
    for c in cols:
        missing = live - set(column_filesums(t, c) or {})
        if missing:
            subset[c] = missing
    return subset


def plan_sum_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT ``refresh_sum_statistics``:
    ``(raw_norm_paths, raw_columns, dirty_columns)`` — the colsum row of
    the ``statsblobs.stats_families`` table.  Sum blobs describe RAW
    file contents, so the dirty set is always empty.  Advisory only."""
    cols = _summable_columns(writer)
    subset = _uncovered_live(t, cols) if cols else {}
    if not subset:
        return set(), set(), set()
    # the plan carries ALL indexed columns once anything is missing
    return set().union(*subset.values()), set(cols), set()
