"""The statistics lifecycle, once, for every Puffin statistics family.

The engine maintains six statistics families: per-file Bloom indexes
(``bloomindex.py``), global theta NDV and grouped NDV (``theta.py``),
global and grouped quantile histograms (``quantiles.py``) and exact
per-file column sums (``sumstats.py``).  Every incremental family runs
the same lifecycle, and this module owns it:

- **classify**: ``_dirty_split`` splits the live files into clean ones
  and ones a delete might apply to (a raw-content partial of a dirty
  file cannot be trusted, so it is re-read delete-aware);
- **read partials**: ``file_partials`` merges the per-file partial blobs
  of one (blob type, column, grouping) across every statistics entry —
  raw-file blobs are snapshot-independent, later entries win per file;
- **write partials**: ``write_file_partials`` selects target files,
  reads them raw (from the shared scan or directly), records zero-row
  files as covered, assembles one JSON blob per column, names the
  Puffin file deterministically and publishes it.  A family supplies
  only its validation, its aggregation kernel and its payload extras;
- **plan / catch up**: ``missing = clean - covered`` (``uncovered``,
  ``catch_up_partials``, ``plan_missing``);
- **consolidate**: an incremental refresh APPENDS one entry per run, so
  past ``CONSOLIDATE_AFTER`` entries of a type ``consolidate_entries``
  repacks them into one live-files-only entry (``consolidate_partials``
  discovers every (grouping, column) pair a type holds);
- **grouped configs**: every grouping a grouped blob defines refreshes,
  gated per grouping on head coverage, replaced config-scoped, dropped
  with ``drop_grouped``;
- **publish**: ``publish`` / ``publish_entry`` are the one commit tail
  (under ``STATS_COMMIT_LOCK``);
- **gate**: ``stats_families`` is the family table — opt-in blob type,
  head-gate kind, scan-plan and refresh functions — that both
  ``onepass.plan_shared_stats_scan`` and ``writer._maintain_statistics``
  iterate, so the decision which family runs lives here only.

The families keep what is theirs: sketch/CDF/sum math, blob encodings
and their public entry points.

Reference parity: none — the reference (``daskberg/ice.py``) reads
only data manifests and carries no statistics machinery at all.
"""

from __future__ import annotations

import json
import os
import threading
import uuid
from typing import Any, Callable, Iterable, Iterator, NamedTuple

# every incremental family consolidates past this many accumulated
# entries of its blob type: late enough that steady-state refreshes stay
# append-only, early enough that the footer walk stays O(live files)
CONSOLIDATE_AFTER = 8

# Serializes every statistics commit tail (the read-modify-write of
# ``writer.statistics`` + ``writer.version`` + ``_write_metadata()``)
# so ``_maintain_statistics`` can overlap the independent family
# chains' Spark jobs (r15, guide §2.6) without lost-update races.  A
# single module-level lock rather than a per-writer attribute: commits
# are driver-side and millisecond-cheap (contention is irrelevant),
# and IcebergWriter stays pickle-clean.  Table DATA commits (append/
# delete/compact) never run concurrently with statistics refreshes —
# only the statistics families overlap — so they stay unlocked.
STATS_COMMIT_LOCK = threading.RLock()


# -- file classification -------------------------------------------------------


def _norm(p: str) -> str:
    from daskberg_spark.iceberg.scan import _norm_scan_path

    return _norm_scan_path(p)


def _dirty_split(table) -> tuple[list[dict], set[str]]:
    """(live planned files, RELOCATED paths of files a delete might
    apply to) — the same over-approximate metadata-level classifier
    ``agg_pushdown`` uses: eq deletes hit strictly-older files in
    scope, path-free position deletes hit ≤-sequence files in scope,
    DV/position references name their file.  "Might apply" → dirty;
    a dirty file's stored raw-content partial describes rows that may
    no longer be live, so a refresh re-reads it delete-aware."""
    from daskberg_spark.iceberg.scan import _norm_scan_path, _scope_tuple

    files = table.plan_files(None)
    deletes = table.plan_deletes()
    use_seq = table.metadata.get("format-version", 1) >= 2

    def okey(rec):
        if use_seq:
            seq = rec.get("_sequence_number")
            return 0 if seq is None else seq
        return rec.get("_snapshot_id") or 0

    eq_scopes, pos_scopes, refs = [], [], set()
    for d in deletes:
        if d.get("content") == 2:
            eq_scopes.append((okey(d), _scope_tuple(table, d)))
        elif d.get("content") == 1:
            ref = d.get("referenced_data_file")
            if ref:
                refs.add(_norm_scan_path(ref))
            else:
                pos_scopes.append((okey(d), _scope_tuple(table, d)))
    dirty: set[str] = set()
    for f in files:
        fkey, fscope = okey(f), _scope_tuple(table, f)
        if (
            _norm_scan_path(f["file_path"]) in refs
            or any(
                fkey < dk and (ds is None or ds == fscope)
                for dk, ds in eq_scopes
            )
            or any(
                fkey <= dk and (ds is None or ds == fscope)
                for dk, ds in pos_scopes
            )
        ):
            dirty.add(f["file_path"])
    return files, dirty


def clean_paths(files: list[dict], dirty: set[str]) -> set[str]:
    """Normalized paths of the live files no delete can apply to."""
    return {_norm(f["file_path"]) for f in files if f["file_path"] not in dirty}


def uncovered(clean: set[str], maps: Iterable[dict]) -> set[str]:
    """``missing = clean - covered``: clean files some column's per-file
    partials map lacks."""
    missing: set[str] = set()
    for m in maps:
        missing |= clean - set(m)
    return missing


# -- entries and the commit tail -----------------------------------------------


def stats_entry(path: str, metas: list[dict], snapshot_id: int) -> dict:
    """The spec-shaped ``statistics`` list entry for a written Puffin
    file (size/footer-size bookkeeping identical across families)."""
    size = os.path.getsize(path)
    return {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": size,
        "file-footer-size-in-bytes": size
        - 4
        - sum(m["length"] for m in metas),
        "blob-metadata": metas,
    }


def publish(
    writer,
    entries: list[dict],
    replaces: Callable[[dict], bool] | None = None,
    commit: bool = True,
) -> None:
    """THE statistics commit tail: drop the entries ``replaces`` matches,
    append ``entries`` and (``commit``) write new table metadata.  The
    list is re-read inside the lock — another family's concurrent
    commit may have replaced it."""
    with STATS_COMMIT_LOCK:
        keep = writer.statistics
        if replaces is not None:
            keep = [e for e in keep if not replaces(e)]
        writer.statistics = keep + entries
        if commit:
            writer.version += 1
            writer._write_metadata()


def publish_entry(
    writer,
    path: str,
    metas: list[dict],
    snapshot_id: int,
    replaces: Callable[[dict], bool] | None = None,
) -> str:
    """Publish one written Puffin file as a statistics entry; returns
    its path."""
    publish(writer, [stats_entry(path, metas, snapshot_id)], replaces)
    return path


def puffin_path(writer, prefix: str, snapshot_id: int, discr: str) -> str:
    """The deterministic statistics-file path every family names its
    Puffin files by: ``<prefix>-<snapshot>-<uuid5(discr)[:8]>.puffin``."""
    tag = uuid.uuid5(uuid.NAMESPACE_URL, discr).hex[:8]
    return f"{writer.path}/metadata/{prefix}-{snapshot_id}-{tag}.puffin"


def publish_blobs(
    writer,
    prefix: str,
    snapshot_id: int,
    discr: str,
    blobs: list[dict],
    replaces: Callable[[dict], bool] | None = None,
) -> str:
    """Write ``blobs`` as the ``puffin_path`` file and publish it."""
    from daskberg_spark.iceberg.puffin import write_puffin

    path = puffin_path(writer, prefix, snapshot_id, discr)
    return publish_entry(
        writer, path, write_puffin(path, blobs), snapshot_id, replaces
    )


def entry_has_type(e: dict, blob_type: str) -> bool:
    return any(b.get("type") == blob_type for b in e.get("blob-metadata", []))


def same_snapshot_type(snapshot_id: int, blob_type: str) -> Callable:
    """``replaces`` predicate of a full rebuild: the snapshot's previous
    entry of the same blob type."""
    return lambda e: e["snapshot-id"] == snapshot_id and entry_has_type(
        e, blob_type
    )


def indexed_columns(writer, blob_type: str) -> list[str]:
    """Sorted columns the ``blob_type`` blobs name in their properties —
    the opt-in column set of the refreshes that reuse it."""
    return sorted(
        {
            (b.get("properties") or {}).get("column")
            for e in writer.statistics
            for b in e.get("blob-metadata", [])
            if b.get("type") == blob_type
        }
        - {None}
    )


def json_blob(
    blob_type: str, writer, column: str, payload: dict, snapshot_id: int, seq: int
) -> dict[str, Any]:
    """One JSON-encoded per-column blob, as every JSON family writes it."""
    return {
        "type": blob_type,
        "fields": [writer.ids[column]],
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "properties": {"column": column, "encoding": "json"},
        "data": json.dumps(payload, sort_keys=True).encode(),
    }


# -- reading stored blobs ------------------------------------------------------


def blob_payloads(
    t, entries: Iterable[dict], blob_type: str, fid: int | None = None
) -> Iterator[tuple[dict, dict, dict]]:
    """``(entry, blob metadata, parsed JSON payload)`` for every readable
    ``blob_type`` blob (restricted to field ``fid`` when given), in
    entry order.  Unreadable blobs are skipped — a missing payload only
    ever means "re-read that file"."""
    from daskberg_spark.iceberg.puffin import read_blob

    for e in entries:
        for b in e.get("blob-metadata", []):
            if b.get("type") != blob_type:
                continue
            if fid is not None and b.get("fields") != [fid]:
                continue
            try:
                payload = json.loads(
                    read_blob(t._relocate(e["statistics-path"]), b)
                )
            except (ValueError, OSError):
                continue
            yield e, b, payload


def file_partials(
    table, blob_type: str, name: str, group_cols=None
) -> dict[str, Any] | None:
    """Merged per-file partials of ``blob_type`` for column ``name``
    across every statistics entry (later entries win per file):
    ``{normalized_path: partial}``, or None when no blob covers the
    column — with EXACTLY ``group_cols`` when given."""
    merged: dict[str, Any] = {}
    found = False
    for _e, _b, payload in blob_payloads(
        table,
        table.metadata.get("statistics", []),
        blob_type,
        table.fields[name].field_id,
    ):
        if group_cols is not None and payload.get("group_cols") != list(
            group_cols
        ):
            continue
        found = True
        merged.update(payload.get("files") or {})
    return merged if found else None


def partial_pairs(writer, t, blob_type: str) -> list[tuple[tuple, str]]:
    """Every (group_cols, column) pair any grouped per-file partials
    entry of ``blob_type`` covers, in first-seen order."""
    fid_to_name = {i.field_id: n for n, i in t.fields.items()}
    pairs: list[tuple[tuple, str]] = []
    for _e, b, payload in blob_payloads(t, writer.statistics, blob_type):
        col = fid_to_name.get((b.get("fields") or [None])[0])
        gc = payload.get("group_cols")
        if col is None or gc is None:
            continue
        if (tuple(gc), col) not in pairs:
            pairs.append((tuple(gc), col))
    return pairs


# -- per-file partials: read, write, catch up, plan ----------------------------


def raw_read(t, spark, scan_files: list[dict], columns, scan_source=None):
    """RAW contents (no delete application) of ``scan_files``, tagged by
    ``__file``: served from the shared scan when it covers the request,
    else one direct read — correctness never depends on the cache."""
    df = (
        scan_source.raw_frame(scan_files, columns)
        if scan_source is not None
        else None
    )
    if df is None:
        from pyspark.sql import types as T

        from daskberg_spark.iceberg.conversions import schema_to_struct
        from daskberg_spark.iceberg.scan import _read_file_groups

        struct = T.StructType(
            [
                f
                for f in schema_to_struct(t.schema).fields
                if f.name in columns
            ]
        )
        # only __file is consumed — file-tagging alone keeps ORC on the
        # native vectorized reader (no per-row positions here)
        df = _read_file_groups(
            t, spark, scan_files, struct, tag_position=False, tag_file=True
        )
    return df


def dirty_read(t, spark, dirty: set[str], columns, scan_source=None):
    """Delete-aware CURRENT contents of the dirty files at ``t``'s
    snapshot: the shared scan's dirty frame when it matches, else one
    restricted read."""
    df = (
        scan_source.dirty_frame(
            sorted(dirty), columns, t.current_snapshot["snapshot-id"]
        )
        if scan_source is not None
        else None
    )
    if df is None:
        from daskberg_spark.iceberg.scan import to_df

        df = to_df(t, spark, columns=list(columns), file_subset=sorted(dirty))
    return df


def write_file_partials(
    writer,
    spark,
    blob_type: str,
    prefix: str,
    tag: str,
    columns: list[str],
    group_cols,
    file_subset,
    empty: Any,
    extras: Callable[[str], dict],
    kernel: Callable,
    scan_source=None,
) -> str | None:
    """Per-(file, column) partials of one family in ONE raw pass, as one
    JSON blob per column; returns the Puffin path or None when nothing
    scans.

    ``file_subset`` — None (every live file), paths, or per-column path
    sets — restricts the pass: the incremental refresh, whose entry
    APPENDS (later entries win per file); without it the snapshot's
    entry of ``blob_type`` is replaced.  ``group_cols`` (None for
    ungrouped families) adds the group key bases to the read, the
    payload's ``group_cols`` and the name.  ``kernel(df, scan_files)``
    aggregates the ``__file``-tagged frame to ``{column: {path:
    partial}}``; files it leaves out (zero rows) record ``empty``.
    ``extras(column)`` is the family's payload fields."""
    from daskberg_spark.iceberg.groupkeys import apply_group_keys, group_key_base
    from daskberg_spark.iceberg.metadata import IcebergTable

    if not columns:
        return None
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    live = t.plan_files(None)
    if isinstance(file_subset, dict):
        targets = {
            c: {_norm(p) for p in file_subset.get(c, ())} for c in columns
        }
    else:
        every = {
            _norm(p)
            for p in (
                [f["file_path"] for f in live]
                if file_subset is None
                else file_subset
            )
        }
        targets = {c: every for c in columns}
    scan_paths = set().union(*targets.values())
    scan_files = [f for f in live if _norm(f["file_path"]) in scan_paths]
    if not scan_files:
        return None
    types = dict(writer.types)
    wanted = set(columns) | {group_key_base(g, types) for g in group_cols or ()}
    df = raw_read(t, spark, scan_files, wanted, scan_source)
    if group_cols:
        df = apply_group_keys(df, list(group_cols), types)
    per_col: dict[str, dict[str, Any]] = {c: {} for c in columns}
    for f in scan_files:  # zero-row files record empty coverage too
        p = _norm(f["file_path"])
        for c in columns:
            if p in targets[c]:
                per_col[c][p] = empty
    for c, parts in kernel(df, scan_files).items():
        for p, part in parts.items():
            if p in targets[c]:
                per_col[c][p] = part
    seq = writer._last_sequence_number
    blobs = []
    for c in columns:
        if not per_col[c]:
            continue
        payload = dict(extras(c), files=per_col[c])
        if group_cols is not None:
            payload["group_cols"] = list(group_cols)
        blobs.append(json_blob(blob_type, writer, c, payload, snapshot_id, seq))
    if not blobs:
        return None
    discr = f"{tag}{snapshot_id}{sorted(scan_paths)}{sorted(columns)}"
    if group_cols is not None:
        discr += str(group_cols)
    return publish_blobs(
        writer,
        prefix,
        snapshot_id,
        discr,
        blobs,
        replaces=(
            None
            if file_subset is not None
            else same_snapshot_type(snapshot_id, blob_type)
        ),
    )


class CatchUp(NamedTuple):
    t: Any  # the table, reopened when partials were written
    files: list[dict]
    dirty: set[str]
    clean: set[str]
    maps: dict[str, dict]  # column -> {path: partial}
    missing: set[str]


def catch_up_partials(
    writer,
    t,
    columns: list[str],
    read_map: Callable,
    write_missing: Callable,
    split: tuple[list[dict], set[str]] | None = None,
) -> CatchUp:
    """The incremental refresh's partials step: classify the live files
    (``split``: an already computed ``_dirty_split(t)``), write partials
    for the clean files no column's map covers (``write_missing(paths)``),
    and re-read the maps."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    files, dirty = split if split is not None else _dirty_split(t)
    clean = clean_paths(files, dirty)
    maps = {c: read_map(t, c) or {} for c in columns}
    missing = uncovered(clean, maps.values())
    if missing:
        write_missing(missing)
        t = IcebergTable(writer.path)
        maps = {c: read_map(t, c) or {} for c in columns}
    return CatchUp(t, files, dirty, clean, maps, missing)


def plan_missing(t, columns: list[str], read_map: Callable):
    """Metadata-only scan plan of an ungrouped partials refresh:
    ``(raw_norm_paths, raw_columns, dirty_columns)``."""
    files, dirty = _dirty_split(t)
    missing = uncovered(
        clean_paths(files, dirty), [read_map(t, c) or {} for c in columns]
    )
    return missing, set(columns), (set(columns) if dirty else set())


# -- consolidation -------------------------------------------------------------


def consolidate_entries(
    writer,
    blob_types: Iterable[str],
    build_blobs: Callable[[int, int], list[dict[str, Any]]],
    name_prefix: str,
    salt: str = "",
    commit: bool = True,
) -> bool:
    """Repack ALL statistics entries carrying any of ``blob_types``
    into ONE entry on the head snapshot when more than
    ``CONSOLIDATE_AFTER`` have accumulated.
    ``build_blobs(snapshot_id, sequence_number)`` returns the family's
    consolidated blob dicts (the family applies its own later-entry-wins
    merge and live-file restriction there — this pass never interprets
    payloads).  ``commit=False`` leaves the metadata write to the
    caller's own final commit (the partials refreshes batch it with
    their published entry).  Returns True when a rewrite happened;
    False when under threshold or the family produced no blobs (nothing
    is dropped then)."""
    from daskberg_spark.iceberg.puffin import write_puffin

    types = set(blob_types)
    entries = [
        e
        for e in writer.statistics
        if any(b.get("type") in types for b in e.get("blob-metadata", []))
    ]
    if len(entries) <= CONSOLIDATE_AFTER:
        return False
    snapshot_id = writer.head_snapshot["snapshot-id"]
    blobs = build_blobs(snapshot_id, writer._last_sequence_number)
    if not blobs:
        return False
    path = puffin_path(
        writer,
        f"{name_prefix}-consolidated",
        snapshot_id,
        f"{name_prefix}{snapshot_id}{salt}{len(entries)}{len(blobs)}",
    )
    metas = write_puffin(path, blobs)
    # the drop set is keyed by id(): a concurrent commit of another
    # family only adds entries of different types
    drop = {id(e) for e in entries}
    publish(
        writer,
        [stats_entry(path, metas, snapshot_id)],
        replaces=lambda e: id(e) in drop,
        commit=commit,
    )
    return True


def consolidate_partials(
    writer,
    t,
    blob_type: str,
    name_prefix: str,
    pairs: Callable[[], list[tuple[Any, str]]],
    extras: Callable[[str], dict],
    salt: str,
    commit: bool = False,
) -> bool:
    """Consolidate a per-file partials type: one live-files-only blob per
    ``(group_cols | None, column)`` pair ``pairs()`` lists — every pair
    the type holds, not just the caller's, so repacking one flavor
    never drops another's coverage."""

    def build(snapshot_id: int, seq: int) -> list[dict]:
        live = {_norm(f["file_path"]) for f in t.plan_files(None)}
        blobs = []
        for gc, c in pairs():
            if c not in writer.ids:
                continue
            m = file_partials(t, blob_type, c, gc) or {}
            payload = dict(
                extras(c), files={p: v for p, v in m.items() if p in live}
            )
            if gc is not None:
                payload["group_cols"] = list(gc)
            blobs.append(
                json_blob(blob_type, writer, c, payload, snapshot_id, seq)
            )
        return blobs

    return consolidate_entries(
        writer, (blob_type,), build, name_prefix, salt=salt, commit=commit
    )


# -- grouped configs -----------------------------------------------------------


def entry_group_cols(t, e: dict, blob_type: str):
    """The ``group_cols`` an entry's first ``blob_type`` blob carries;
    ``"__none__"`` when the entry has no such blob, None when the blob
    is unreadable (config-scoped replacement then drops it — an
    unreadable blob can't serve reads anyway)."""
    from daskberg_spark.iceberg.puffin import read_blob

    for b in e.get("blob-metadata", []):
        if b.get("type") != blob_type:
            continue
        try:
            payload = json.loads(read_blob(t._relocate(e["statistics-path"]), b))
        except (ValueError, OSError):
            return None
        return payload.get("group_cols")
    return "__none__"


def grouped_configs(writer, t, blob_type: str) -> dict[tuple, dict]:
    """Every grouping any ``blob_type`` blob defines: ``{group_cols:
    {"columns": [...], "payload": latest payload}}`` — the multi-config
    registry a grouped refresh iterates (r14)."""
    fid_to_name = {i.field_id: n for n, i in t.fields.items()}
    configs: dict[tuple, dict] = {}
    for _e, b, payload in blob_payloads(t, writer.statistics, blob_type):
        col = fid_to_name.get((b.get("fields") or [None])[0])
        if col is None:
            continue
        gc = tuple(payload.get("group_cols") or ())
        cfg = configs.setdefault(gc, {"columns": []})
        cfg["payload"] = payload
        if col not in cfg["columns"]:
            cfg["columns"].append(col)
    return configs


def covered_configs(writer, t, blob_type: str) -> set[tuple]:
    """The groupings whose OWN entry already covers the head snapshot
    (r15) — the per-config head gate: one manually refreshed grouping
    must not starve the others until the next append."""
    head_id = writer.head_snapshot["snapshot-id"]
    covered: set[tuple] = set()
    for e in writer.statistics:
        if e["snapshot-id"] == head_id:
            gc = entry_group_cols(t, e, blob_type)
            if isinstance(gc, list):
                covered.add(tuple(gc))
    return covered


def runnable_configs(
    writer, t, blob_type: str, runnable_of: Callable, skip_covered: bool = True
) -> list:
    """``runnable_of(group_cols, config)`` for every registered grouping
    (None drops it), skipping head-covered ones when ``skip_covered`` —
    the one loop both the refresh and its scan plan run."""
    covered = covered_configs(writer, t, blob_type) if skip_covered else set()
    out = []
    for gc, cfg in grouped_configs(writer, t, blob_type).items():
        if gc not in covered:
            r = runnable_of(gc, cfg)
            if r is not None:
                out.append(r)
    return out


def refresh_configs(
    writer,
    blob_type: str,
    skip_head_covered: bool,
    runnable_of: Callable,
    refresh_one: Callable,
    merge_extra: Callable[[list], dict],
) -> dict[str, Any] | None:
    """Refresh every runnable grouping (``refresh_one(*runnable)``) and
    merge the per-config reports; None when nothing is runnable."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    runnable = runnable_configs(
        writer,
        IcebergTable(writer.path),
        blob_type,
        runnable_of,
        skip_head_covered,
    )
    if not runnable:
        return None
    reports = [refresh_one(*r) for r in runnable]
    if len(reports) == 1:
        return reports[0]
    return {
        "configs": reports,
        **merge_extra(reports),
        "files_total": reports[0]["files_total"],
        "partials_computed": sum(r["partials_computed"] for r in reports),
        "dirty_files": max(r["dirty_files"] for r in reports),
        "groups": max(r["groups"] for r in reports),
    }


def publish_grouped(
    writer,
    t,
    blob_type: str,
    prefix: str,
    discr: str,
    snapshot_id: int,
    group_cols,
    blobs: list[dict],
) -> str:
    """Publish a grouped ``blob_type`` entry.  Replacement is
    CONFIG-scoped (r14): a same-snapshot entry keyed on a DIFFERENT
    grouping survives, so multiple groupings coexist."""

    def replaces(e: dict) -> bool:
        if e["snapshot-id"] != snapshot_id:
            return False
        gc = entry_group_cols(t, e, blob_type)
        return gc != "__none__" and (gc is None or gc == list(group_cols))

    return publish_blobs(writer, prefix, snapshot_id, discr, blobs, replaces)


def drop_grouped(
    writer, blob_type: str, group_cols, drop_unreadable: bool = False
) -> int:
    """Remove every statistics entry whose ``blob_type`` blob keys on
    EXACTLY ``group_cols`` — at any snapshot, so the config registry
    forgets the grouping — and return the removed entry count.
    Unreadable entries are KEPT unless ``drop_unreadable`` (r15): a
    transient IO error must not delete a different grouping."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(writer.path)

    # classify OUTSIDE the lock — entry_group_cols reads puffin blobs
    # (disk IO), and holding the process-global commit lock across that
    # blocks every other table's millisecond commits.  The keep list is
    # still rebuilt UNDER the lock from the live statistics (full
    # replacement must not lose a concurrent family commit); entries
    # appended concurrently, unseen by the pre-pass, classify there
    # (normally zero).
    def _is_dropped(e: dict) -> bool:
        gc = entry_group_cols(t, e, blob_type)
        return gc != "__none__" and (
            (gc is None and drop_unreadable) or gc == list(group_cols)
        )

    pre = {id(e): _is_dropped(e) for e in list(writer.statistics)}
    with STATS_COMMIT_LOCK:
        keep = [
            e
            for e in writer.statistics
            if not (pre[id(e)] if id(e) in pre else _is_dropped(e))
        ]
        dropped = len(writer.statistics) - len(keep)
        if dropped:
            writer.statistics = keep
            writer.version += 1
            writer._write_metadata()
    return dropped


# -- the family table ----------------------------------------------------------


class StatsFamily(NamedTuple):
    report_key: str  # maintain()'s report entry
    chain: str  # families of one chain run in table order
    opt_in: str | None  # blob type whose presence opts in; None: always
    # "type": skip while an ``opt_in`` entry covers the head; "config":
    # the refresh gates per grouping; None: the refresh self-gates
    head_gate: str | None
    plan: Callable  # (writer, t) -> (raw paths, raw columns, dirty columns)
    refresh: Callable  # (writer, spark, scan_source) -> report value


def stats_families() -> tuple[StatsFamily, ...]:
    """THE family table.  Order is the report's key order; chains run
    concurrently in ``_maintain_statistics``, families of one chain in
    this order (the grouped refreshes reuse their family's global
    per-file partials).  Entry points resolve through their modules at
    call time."""
    from daskberg_spark.iceberg import bloomindex, quantiles, sumstats, theta
    from daskberg_spark.iceberg import writer as wr

    def grouped_ndv(w, spark, src):
        rep = theta.refresh_grouped_theta_statistics(
            w, spark, scan_source=src, skip_head_covered=True
        )
        return None if rep is None else rep["partials_computed"]

    return (
        StatsFamily(
            "refresh_blooms", "blooms", None, None,
            bloomindex.plan_bloom_refresh_scan,
            lambda w, s, src: bloomindex.refresh_file_blooms(
                w, s, scan_source=src
            ),
        ),
        StatsFamily(
            "refresh_statistics", "theta", theta.THETA_BLOB_TYPE, "type",
            theta.plan_global_ndv_refresh_scan,
            lambda w, s, src: wr.refresh_table_statistics(
                w, s, scan_source=src
            )[1],
        ),
        StatsFamily(
            "refresh_quantiles", "quantiles", quantiles.QUANTILE_BLOB_TYPE,
            "type", quantiles.plan_quantile_refresh_scan,
            lambda w, s, src: quantiles.catch_up_quantile_statistics(
                w, s, scan_source=src
            ),
        ),
        StatsFamily(
            "refresh_grouped_quantiles", "quantiles",
            quantiles.GROUPED_QUANTILE_BLOB_TYPE, "config",
            quantiles.plan_grouped_quantile_refresh_scan,
            lambda w, s, src: (
                quantiles.refresh_grouped_quantile_statistics(
                    w, s, scan_source=src, skip_head_covered=True
                )
                or {}
            ).get("mode"),
        ),
        StatsFamily(
            "refresh_grouped_ndv", "theta", theta.GROUPED_THETA_BLOB_TYPE,
            "config", theta.plan_grouped_ndv_refresh_scan, grouped_ndv,
        ),
        StatsFamily(
            "refresh_sums", "sums", None, None,
            sumstats.plan_sum_refresh_scan,
            lambda w, s, src: sumstats.refresh_sum_statistics(
                w, s, scan_source=src
            ),
        ),
    )


def gate_open(writer, fam: StatsFamily) -> bool:
    """Whether ``fam`` refreshes (and is planned into the shared scan)
    this run: opted in, and — for type-gated families — the head not yet
    covered."""
    if fam.opt_in is None:
        return True
    entries = [e for e in writer.statistics if entry_has_type(e, fam.opt_in)]
    if not entries or fam.head_gate != "type":
        return bool(entries)
    head_id = writer.head_snapshot["snapshot-id"]
    return not any(e["snapshot-id"] == head_id for e in entries)
