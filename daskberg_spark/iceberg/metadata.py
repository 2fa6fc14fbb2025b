"""Iceberg v1 table metadata model: versions, snapshots, schemas, manifests.

Spark-free (driver-side Python only) so it unit-tests without a JVM.
Reference semantics: ``/root/reference/daskberg/ice.py:18-218`` — version
hint / explicit version / direct-JSON-URL loading, snapshot selection
(absolute or relative via the parent-snapshot chain), per-snapshot schema
pinning, manifest-list + manifest Avro decoding with a cross-scan cache,
ADDED/EXISTING/DELETED reconciliation, and path relocation.

Deviations (deliberate, documented):
- Driver-side manifest decode stays serial, as in the reference (whose
  ``ice.py:185`` carries a "TODO: do concurrently").  The decoder is
  pure Python and holds the GIL, so a thread pool only added contention:
  150 manifests decoded ~2x slower through 16 threads than in a loop.
  Large tables plan on executors instead (``_scan_manifests_distributed``).
- Bound bytes decode per Iceberg spec, not the reference's endianness
  (see conversions.py docstring).
"""

from __future__ import annotations

import json
import os
import re
from typing import Any, TypeVar

from daskberg_spark.iceberg.avro import read_avro_file
from daskberg_spark.iceberg.planner import FieldInfo, apply_filters, check_summaries

STATUS_EXISTING = 0
STATUS_ADDED = 1
STATUS_DELETED = 2

_VERSION_FILE_RE = re.compile(r"v(\d+)\.metadata\.json$")


def resolve_latest_version(base_url: str) -> int:
    """Latest ``v{N}.metadata.json`` version under ``base_url/metadata``
    — hint file first, falling back to a directory scan on a MISSING or
    EMPTY hint (a pre-atomic-rename writer can be caught mid-truncate
    by a concurrent poll; crashing the reader on that race would be
    wrong).  The ONE resolver shared by tables and views."""
    meta_dir = os.path.join(base_url, "metadata")
    hint = os.path.join(meta_dir, "version-hint.text")
    if os.path.exists(hint):
        with open(hint) as f:
            raw = f.read().strip()
        if raw:
            return int(raw)
    versions = [
        int(m.group(1))
        for name in os.listdir(meta_dir)
        if (m := _VERSION_FILE_RE.search(name))
    ]
    if not versions:
        raise FileNotFoundError(f"no metadata versions under {base_url}")
    return max(versions)


def _strip_scheme(path: str) -> str:
    if path.startswith("file://"):
        return path[len("file://") :]
    return path


def _relocate_path(path: str, original_url: str, url: str) -> str:
    """Module-level relocation (picklable for executor-side planning)."""
    path = _strip_scheme(path)
    if original_url and (
        path == original_url
        # boundary-checked prefix: '/old/tbl' must NOT rewrite
        # '/old/tbl_backup/...' into a path under this table
        or path.startswith(original_url.rstrip("/") + "/")
    ):
        path = url + path[len(original_url) :]
    return path


# Above this many live+deleted manifest entries (estimated from the
# manifest-list counts), ``scan_all`` plans on EXECUTORS: each Spark task
# decodes one manifest Avro, runs the per-entry logic, and (when filters
# are given) file-level-prunes before anything is shipped to the driver.
# Below the gate the zero-Spark driver path runs — small tables must not
# pay job-launch latency.  Override with DASKBERG_DIST_PLAN_GATE.
DIST_PLAN_ENTRY_GATE = 50_000


def _dist_plan_gate() -> int:
    return int(os.environ.get("DASKBERG_DIST_PLAN_GATE", DIST_PLAN_ENTRY_GATE))


def _entry_key(status: int, data_file: dict[str, Any]) -> tuple[str, Any]:
    """Classify one manifest entry for reconciliation: ``("data", path)``
    live data file, ``("delete", (path, offset))`` live v2/v3 delete file,
    ``("tomb_data", path)`` / ``("tomb_del_key", (path, offset))`` /
    ``("tomb_del_path", path)`` DELETED tombstones.  Delete entries are
    keyed by (path, blob offset): a v3 puffin file packs one DV blob PER
    target data file at distinct offsets under one file_path, and a
    writer may supersede a single blob while its siblings stay live —
    path-wide removal is only for DELETED delete entries that carry no
    ``content_offset`` (v2 delete parquet).  The one rule shared by the
    reader (``_entry_events``) and the writer's census."""
    path = data_file["file_path"]
    off = data_file.get("content_offset")
    if data_file.get("content", 0) in (1, 2):
        if status != STATUS_DELETED:
            return "delete", (path, off or 0)
        if off is not None:
            return "tomb_del_key", (path, off)
        return "tomb_del_path", path
    return ("tomb_data" if status == STATUS_DELETED else "data"), path


def _entry_events(
    entries: list[dict[str, Any]],
    spec_id: int,
    manifest_snapshot: Any,
    manifest_seq: Any,
    original_url: str,
    url: str,
) -> list[tuple[str, Any, Any]]:
    """Per-entry manifest processing, shared by the driver and executor
    planning paths (so the two can never diverge).  Returns ordered
    ``(kind, key, record)`` events (``_entry_key``), the record being
    the annotated data_file for live entries and None for tombstones.
    Reconciliation (tombstones last, across ALL manifests) happens in
    ``_merge_events``.
    """
    events: list[tuple[str, Any, Any]] = []
    for entry in entries:
        data_file = entry["data_file"]
        fmt = data_file.get("file_format", "PARQUET")
        is_dv = (
            fmt.upper() == "PUFFIN"
            and data_file.get("content", 0) == 1
            and data_file.get("referenced_data_file") is not None
        )
        # DATA files may be PARQUET/AVRO/ORC (real Iceberg's
        # format set; the reference is parquet-only —
        # README.md:97); the scan dispatches per format.
        # DELETE files stay parquet (+ puffin DVs): non-parquet
        # delete files are rare in the wild and unimplemented.
        # LIVE entries only: a DELETED tombstone of an
        # unsupported-format file will never be read — raising
        # on it would make a fully-supported table unreadable.
        if entry["status"] != STATUS_DELETED:
            if data_file.get("content", 0) == 0:
                if fmt.upper() not in ("PARQUET", "AVRO", "ORC"):
                    raise NotImplementedError(f"data file format {fmt}")
            elif fmt.upper() != "PARQUET" and not is_dv:
                raise NotImplementedError(f"delete file format {fmt}")
        fpath = _relocate_path(data_file["file_path"], original_url, url)
        if is_dv:
            # the target path must match the scan's relocated
            # __file tag or the DV anti-join silently matches
            # nothing (same rule as position-delete file_path)
            data_file = dict(
                data_file,
                referenced_data_file=_relocate_path(
                    data_file["referenced_data_file"], original_url, url
                ),
            )
        data_file = dict(
            data_file,
            file_path=fpath,
            _spec_id=spec_id,
            # adding snapshot → pins the schema the file was written
            # under (column renames resolve by field id, §1.4);
            # null entry ids inherit from the manifest (Iceberg
            # snapshot-id inheritance)
            _snapshot_id=(
                entry.get("snapshot_id")
                if entry.get("snapshot_id") is not None
                else manifest_snapshot
            ),
            # v2 data sequence number, entry-explicit or inherited
            # from the manifest-list record (Iceberg sequence-number
            # inheritance); None on v1/pre-sequence metadata.  This,
            # not snapshot-id order, keys delete applicability —
            # the spec allows snapshot ids to be random longs.
            _sequence_number=(
                entry.get("sequence_number")
                if entry.get("sequence_number") is not None
                else manifest_seq
            ),
        )
        kind, key = _entry_key(entry["status"], data_file)
        events.append((kind, key, None if kind.startswith("tomb") else data_file))
    return events


R = TypeVar("R")


def _merge_events(
    event_lists: list[list[tuple[str, Any, R | None]]],
) -> tuple[dict[str, R], dict[tuple[str, int], R]]:
    """Cross-manifest reconciliation: dict insert in manifest order
    (later manifests overwrite same-key records), DELETED tombstones
    applied LAST across all manifests (``ice.py:165-204``).  Generic
    over the record: the reader carries annotated data_file dicts, the
    writer's census (``writer._live_entries``) ``(entry, manifest)``
    pairs.  A data event whose record is None is a "present but
    file-level-pruned" marker from the executor path: it participates in
    overwrite semantics (last record for the path wins) and is dropped
    at the end — exactly what filtering the merged dict would produce."""
    allfiles: dict[str, Any] = {}
    delete_files: dict[tuple[str, int], Any] = {}
    deleted: set[str] = set()
    deleted_delete_keys: set[tuple[str, int]] = set()
    deleted_delete_paths: set[str] = set()
    for events in event_lists:
        for kind, key, record in events:
            if kind == "data":
                allfiles[key] = record
            elif kind == "delete":
                delete_files[key] = record
            elif kind == "tomb_data":
                deleted.add(key)
            elif kind == "tomb_del_key":
                deleted_delete_keys.add(key)
            else:  # tomb_del_path
                deleted_delete_paths.add(key)
    for fpath in deleted:
        allfiles.pop(fpath, None)
    for key in deleted_delete_keys:
        delete_files.pop(key, None)
    for fpath in deleted_delete_paths:
        for k in [k for k in delete_files if k[0] == fpath]:
            delete_files.pop(k)
    return (
        {p: f for p, f in allfiles.items() if f is not None},
        delete_files,
    )


def _scan_manifest_task(
    manifests: list[tuple[int, str, int, Any, Any]],
    shared: dict[str, Any],
) -> list[tuple[int, list[tuple[str, Any, Any]]]]:
    """Executor task: decode + process (+ optionally file-level prune)
    one batch of manifests.  ``shared`` (broadcast) carries the
    relocation pair, schema fields, per-spec partition fields, and the
    filter DNF.  Live data records that fail the file-level filter are
    replaced with a ``("data", path, None)`` marker so cross-manifest
    overwrite semantics survive the prune (see ``_merge_events``)."""
    original_url, url = shared["original_url"], shared["url"]
    filters = shared["filters"]
    fields = shared["fields"]
    spec_fields_map = shared["spec_fields"]
    # unknown spec ids fall back to the table default partition spec —
    # the same rule as IcebergTable._spec_fields
    default_spec = shared["default_spec_fields"]
    out: list[tuple[int, list[tuple[str, Any, Any]]]] = []
    for idx, path, spec_id, msnap, mseq in manifests:
        _, entries = read_avro_file(path)
        events = _entry_events(entries, spec_id, msnap, mseq, original_url, url)
        if filters:
            live_data = [r for k, _p, r in events if k == "data" and r is not None]
            kept = {
                f["file_path"]
                for f in apply_filters(
                    live_data,
                    filters,
                    fields,
                    lambda sid: spec_fields_map.get(sid, default_spec),
                )
            }
            events = [
                ("data", p, None) if k == "data" and p not in kept else (k, p, r)
                for k, p, r in events
            ]
        out.append((idx, events))
    return out


class IcebergTable:
    """An Iceberg v1 table opened from a directory or a metadata JSON path.

    Parameters mirror the reference's ``IcebergDataset`` (``ice.py:18-49``):

    url
        Table root directory (containing ``metadata/``) or a direct
        ``*.metadata.json`` path.
    original_url
        If given, every absolute path embedded in metadata/manifests has
        this prefix rewritten to the table's actual location (fixture
        relocation, ``ice.py:40``).
    version
        Explicit metadata version; default resolves
        ``metadata/version-hint.text`` then falls back to the highest
        ``v*.metadata.json`` present.
    """

    def __init__(
        self,
        url: str,
        original_url: str | None = None,
        version: int | None = None,
    ) -> None:
        url = _strip_scheme(url).rstrip("/")
        if url.endswith(".json"):
            self.url = os.path.dirname(os.path.dirname(url))
            self._direct_meta = url
        else:
            self.url = url
            self._direct_meta = None
        self.original_url = (original_url or "").rstrip("/")
        self.manifest_cache: dict[str, list[dict[str, Any]]] = {}
        self._scan_cache: dict[tuple, tuple] = {}
        self._version: int | None = None
        self._metadata: dict[str, Any] | None = None
        self._current_snapshot: dict[str, Any] | None = None
        self._manifest_list: list[dict[str, Any]] | None = None
        self.set_version(version)

    # -- path handling ------------------------------------------------------

    def _relocate(self, path: str) -> str:
        return _relocate_path(path, self.original_url, self.url)

    # -- version / metadata -------------------------------------------------

    @property
    def version(self) -> int | None:
        return self._version

    @version.setter
    def version(self, value: int) -> None:
        self.set_version(value)

    def set_version(self, version: int | None = None) -> None:
        """Load ``v{N}.metadata.json`` (or the direct JSON URL)."""
        if self._direct_meta is not None and version is None:
            meta_path = self._direct_meta
        else:
            if version is None:
                version = self._latest_version()
            meta_path = os.path.join(self.url, "metadata", f"v{version}.metadata.json")
        with open(meta_path) as f:
            self._metadata = json.load(f)
        self._version = version
        self._current_snapshot = None
        self._manifest_list = None
        self._scan_cache = {}
        self._ml_cache: dict[str, list[dict[str, Any]]] = {}

    def _latest_version(self) -> int:
        return resolve_latest_version(self.url)

    @property
    def metadata(self) -> dict[str, Any]:
        assert self._metadata is not None
        return self._metadata

    # -- snapshots ----------------------------------------------------------

    @property
    def snapshots(self) -> dict[int, dict[str, Any]]:
        return {s["snapshot-id"]: s for s in self.metadata.get("snapshots", [])}

    @property
    def latest_snapshot(self) -> dict[str, Any]:
        snap_id = self.metadata.get("current-snapshot-id")
        if snap_id is None or snap_id == -1 or snap_id not in self.snapshots:
            raise ValueError("table has no current snapshot")
        return self.snapshots[snap_id]

    @property
    def current_snapshot(self) -> dict[str, Any]:
        if self._current_snapshot is None:
            self.open_snapshot()
        assert self._current_snapshot is not None
        return self._current_snapshot

    @property
    def summary(self) -> dict[str, Any]:
        return self.current_snapshot.get("summary", {})

    def open_snapshot(
        self,
        rel: int | None = None,
        snapshot_id: int | None = None,
        ref: str | None = None,
        as_of_ms: int | None = None,
    ) -> None:
        """Select a snapshot absolutely, relatively, by named ref
        (``ice.py:118-151``; refs are beyond-reference, per the Iceberg v2
        ``refs`` metadata map), or by timestamp.

        ``rel=-N`` walks N steps back along ``parent-snapshot-id`` from the
        latest snapshot; ``snapshot_id`` selects absolutely; ``ref``
        resolves a branch/tag name recorded in the metadata; ``as_of_ms``
        picks the newest snapshot whose commit timestamp is <= the given
        epoch-millis (SQL ``FOR TIMESTAMP AS OF`` semantics, resolved
        through the snapshot log).
        """
        if sum(x is not None for x in (rel, snapshot_id, ref, as_of_ms)) > 1:
            raise ValueError(
                "pass only one of rel=, snapshot_id=, ref=, as_of_ms="
            )
        if as_of_ms is not None:
            log = self.metadata.get("snapshot-log") or [
                {
                    "snapshot-id": s["snapshot-id"],
                    "timestamp-ms": s["timestamp-ms"],
                }
                for s in self.metadata.get("snapshots", [])
            ]
            eligible = [e for e in log if e["timestamp-ms"] <= as_of_ms]
            if not eligible:
                raise ValueError(
                    f"no snapshot at or before timestamp {as_of_ms}"
                )
            snapshot_id = max(eligible, key=lambda e: e["timestamp-ms"])[
                "snapshot-id"
            ]
        if ref is not None:
            refs = self.metadata.get("refs") or {}
            if ref not in refs:
                raise ValueError(
                    f"no such ref {ref!r}; known: {sorted(refs)}"
                )
            snapshot_id = refs[ref]["snapshot-id"]
        if snapshot_id is not None:
            if snapshot_id not in self.snapshots:
                raise ValueError(f"snapshot {snapshot_id} not in table")
            snap = self.snapshots[snapshot_id]
        else:
            snap = self.latest_snapshot
            if rel is not None:
                if rel > 0:
                    raise ValueError("rel must be <= 0")
                for _ in range(-rel):
                    parent = snap.get("parent-snapshot-id")
                    if parent is None or parent not in self.snapshots:
                        raise ValueError("walked past the first snapshot")
                    snap = self.snapshots[parent]
        self._current_snapshot = snap
        # NO cache clear here: _scan_cache keys include the snapshot id
        # and manifests are immutable, so entries for other snapshots
        # stay valid — snapshot-hopping callers (streaming micro-batch
        # planning, changelog scans) re-use their reconciliations
        # instead of redoing them per hop.  set_version (new metadata)
        # is the one event that invalidates the cache.
        ml_path = self._relocate(snap["manifest-list"])
        # manifest lists are immutable once committed — cache per path so
        # snapshot-walking callers (streaming partitions(), time-travel
        # sweeps) plan O(snapshots) instead of re-reading every list
        if ml_path not in self._ml_cache:
            _, self._ml_cache[ml_path] = read_avro_file(ml_path)
        self._manifest_list = self._ml_cache[ml_path]

    @property
    def manifest_list(self) -> list[dict[str, Any]]:
        if self._manifest_list is None:
            self.open_snapshot()
        assert self._manifest_list is not None
        return self._manifest_list

    # -- schema -------------------------------------------------------------

    @property
    def schema(self) -> dict[str, Any]:
        """Schema for the selected snapshot (``ice.py:157-163``).

        At the HEAD snapshot the table's ``current-schema-id`` governs —
        metadata-only evolution (rename/add/drop with no data commit
        yet) must surface immediately, as in real Iceberg.  A
        time-traveled snapshot reads under ITS pinned ``schema-id``."""
        meta = self.metadata
        schemas = {s["schema-id"]: s for s in meta.get("schemas", [])}
        if not schemas and "schema" in meta:  # minimal v1 tables
            return meta["schema"]
        if (
            self._current_snapshot is None
            and meta.get("current-snapshot-id", -1) in (None, -1)
            and not meta.get("snapshots")
        ):
            # freshly created table (current-snapshot-id = -1, no
            # snapshots yet): the schema needs NO snapshot — resolve
            # current-schema-id straight from the metadata instead of
            # failing the whole read with "no current snapshot"
            return schemas[meta.get("current-schema-id", 0)]
        snap = self.current_snapshot
        if snap.get("snapshot-id") == meta.get("current-snapshot-id"):
            schema_id = meta.get("current-schema-id", snap.get("schema-id", 0))
        else:
            schema_id = snap.get("schema-id", meta.get("current-schema-id", 0))
        return schemas[schema_id]

    # -- partition spec -----------------------------------------------------

    @property
    def partition_spec(self) -> list[dict[str, Any]]:
        """Fields of the current default partition spec."""
        meta = self.metadata
        specs = {s["spec-id"]: s for s in meta.get("partition-specs", [])}
        if specs:
            return specs[meta.get("default-spec-id", min(specs))].get("fields", [])
        return meta.get("partition-spec", [])

    def _spec_fields(self, spec_id: int) -> list[dict[str, Any]]:
        specs = {s["spec-id"]: s for s in self.metadata.get("partition-specs", [])}
        if spec_id in specs:
            return specs[spec_id].get("fields", [])
        return self.partition_spec

    @property
    def fields(self) -> dict[str, FieldInfo]:
        """Source-column name → FieldInfo(id, type, transform) (``ice.py:206-218``).

        Struct members also register under their dotted path
        (``meta.score``) with the LEAF field id — Iceberg keys
        lower/upper bounds by leaf id, so dotted-path predicates can
        stats-prune files; the struct column itself stays type="struct"
        (conservative for predicates naming the whole struct).  List/map
        contents are not registered (no usable bounds)."""
        by_id = {f.get("id", f.get("field-id")): f for f in self.schema["fields"]}
        spec_by_source = {f["source-id"]: f for f in self.partition_spec}
        out: dict[str, FieldInfo] = {}

        def add(name: str, fid: int, type_str: str, required: bool) -> None:
            spec = spec_by_source.get(fid)
            out[name] = FieldInfo(
                field_id=fid,
                type=type_str,
                transform=spec["transform"] if spec else None,
                partition_name=spec["name"] if spec else None,
                required=required,
            )

        def walk_struct(prefix: str, t: dict, anc_req: bool) -> None:
            for sub in t["fields"]:
                sid = sub.get("id", sub.get("field-id"))
                path = f"{prefix}.{sub['name']}"
                # a nested leaf is all-rows-non-null only if IT and every
                # ancestor struct are required (a null parent nulls the leaf)
                req = anc_req and bool(sub.get("required", False))
                if isinstance(sub["type"], str):
                    add(path, sid, sub["type"], req)
                elif sub["type"]["type"] == "struct":
                    add(path, sid, "struct", req)
                    walk_struct(path, sub["type"], req)

        for fid, fld in by_id.items():
            req = bool(fld.get("required", False))
            if isinstance(fld["type"], str):
                add(fld["name"], fid, fld["type"], req)
            else:
                add(fld["name"], fid, "struct", req)
                if fld["type"]["type"] == "struct":
                    walk_struct(fld["name"], fld["type"], req)
        return out

    # -- manifest scan ------------------------------------------------------

    def _load_manifest(self, path: str) -> list[dict[str, Any]]:
        if path not in self.manifest_cache:
            _, entries = read_avro_file(path)
            self.manifest_cache[path] = entries
        return self.manifest_cache[path]

    def _entry_estimate(self) -> int:
        """Total manifest-entry count from the manifest-list counters
        (zero manifest IO) — the distributed-planning gate input."""
        total = 0
        for mf in self.manifest_list:
            for k in (
                "added_data_files_count",
                "existing_data_files_count",
                "deleted_data_files_count",
                "added_files_count",
                "existing_files_count",
                "deleted_files_count",
            ):
                total += int(mf.get(k) or 0)
        return total

    def _dist_plan_spark(self) -> Any:
        """The active SparkSession if one exists (the distributed
        planner needs executors), else None — metadata stays
        importable/usable with no JVM at all."""
        try:
            from pyspark.sql import SparkSession

            return SparkSession.getActiveSession()
        except Exception:
            return None

    def _scan_manifests_distributed(
        self,
        spark: Any,
        surviving: list[tuple[str, int, Any, Any]],
        filters: Any,
    ) -> list[list[tuple[str, Any, Any]]]:
        """Executor-side manifest planning (real Iceberg-Spark's
        distributed planning analogue; beyond the reference, whose
        driver loop is ``ice.py:185-204``).  Each task decodes a batch
        of manifest Avro files, runs the SAME ``_entry_events`` logic as
        the driver path, and — when filters are given — file-level
        prunes live data records before the collect, so at million-file
        scale the driver receives survivors, not the full file listing.
        Output is ordered by manifest-list position: merge semantics
        are bit-identical to the driver path (``_merge_events``)."""
        shared = {
            "original_url": self.original_url,
            "url": self.url,
            "filters": filters,
            "fields": self.fields,
            "spec_fields": {
                s["spec-id"]: s.get("fields", [])
                for s in self.metadata.get("partition-specs", [])
            },
            "default_spec_fields": self.partition_spec,
        }
        sc = spark.sparkContext
        bc = sc.broadcast(shared)
        payloads = [
            (i, path, spec_id, msnap, mseq)
            for i, (path, spec_id, msnap, mseq) in enumerate(surviving)
        ]
        slices = min(len(payloads), max(2, sc.defaultParallelism * 2))
        try:
            results = (
                sc.parallelize(payloads, numSlices=slices)
                .mapPartitions(
                    lambda it: _scan_manifest_task(list(it), bc.value)
                )
                .collect()
            )
        finally:
            bc.unpersist()
        return [events for _i, events in sorted(results, key=lambda r: r[0])]

    def scan_manifests(self, filters: Any = None) -> dict[str, dict[str, Any]]:
        """Live data files only (see scan_all for v2 delete files)."""
        data, _ = self.scan_all(filters)
        return data

    def scan_all(
        self, filters: Any = None
    ) -> tuple[
        dict[str, dict[str, Any]], dict[tuple[str, int], dict[str, Any]]
    ]:
        """Manifest-level prune → load (serial) → status reconcile.

        Returns ``(data_files, delete_files)`` — ``{path: record}`` and
        ``{(path, blob_offset): record}`` maps (a v3 puffin file carries
        several DV blobs under one path), live after applying DELETED
        entries last across all
        manifests (``ice.py:165-204``).  ``delete_files`` holds v2
        position/equality delete files (``content`` 1/2); the reference
        is v1-only and has no counterpart.  Results are memoized per
        (snapshot, surviving manifests) on the driver path — its result
        depends on nothing else, so to_df's unfiltered census after a
        filtered plan reuses the one reconcile whenever the summaries
        pruned no manifest — and per (snapshot, filters) on the
        executor path.

        Above ``DASKBERG_DIST_PLAN_GATE`` estimated entries (manifest-
        list counters, zero IO) and with an active SparkSession, the
        load + per-entry step runs on EXECUTORS (one task decodes a
        batch of manifests; with filters, live data files are pruned
        executor-side before the collect, shipped back as path-only
        markers so cross-manifest overwrite semantics are preserved).
        The reconcile stays driver-side over tombstone keys + surviving
        records.  Both paths share ``_entry_events``/``_merge_events``,
        so plans are identical by construction.
        """
        distributed = self._dist_plan_spark() if self._entry_estimate() >= _dist_plan_gate() else None
        snapshot_id = self.current_snapshot["snapshot-id"]
        fields = self.fields
        surviving: list[tuple[str, int, Any, Any]] = []
        for mf in self.manifest_list:
            spec_fields = self._spec_fields(mf.get("partition_spec_id", 0))
            summaries = mf.get("partitions") or []
            if filters and summaries and not check_summaries(
                summaries, spec_fields, fields, filters
            ):
                continue  # provably no matching rows in this whole manifest
            surviving.append(
                (
                    self._relocate(mf["manifest_path"]),
                    mf.get("partition_spec_id", 0),
                    mf.get("added_snapshot_id"),
                    mf.get("sequence_number"),
                )
            )
        # the distributed path file-level-prunes under filters (fewer
        # records for the same manifests), and the gate decision can flip
        # between calls (an active session appearing): filters and mode
        # go in its key.  The driver path does no file-level pruning: its
        # result is a function of the surviving manifests alone.
        on_executors = distributed is not None and bool(surviving)
        key = (
            (snapshot_id, repr(filters), True)
            if on_executors
            else (snapshot_id, tuple(surviving))
        )
        if key in self._scan_cache:
            return self._scan_cache[key]
        if on_executors:
            result = _merge_events(
                self._scan_manifests_distributed(distributed, surviving, filters)
            )
        else:
            # Serial decode: the pure-Python decoder holds the GIL, and
            # a 16-thread pool ran ~2x slower than this loop.
            result = _merge_events([
                _entry_events(self._load_manifest(path), spec_id, msnap,
                              mseq, self.original_url, self.url)
                for path, spec_id, msnap, mseq in surviving
            ])
        if len(self._scan_cache) >= 256:
            # retained across snapshot hops (keys include the snapshot
            # id) — bound it so a long-running stream tailing thousands
            # of commits cannot grow driver memory without limit; FIFO
            # eviction of the oldest half keeps recent hops warm
            for k in list(self._scan_cache)[:128]:
                del self._scan_cache[k]
        self._scan_cache[key] = result
        return result

    def schema_for_snapshot(self, snapshot_id: int | None) -> dict[str, Any]:
        """Schema pinned by a snapshot id (falls back to the current
        snapshot's schema when the id is unknown)."""
        schemas = {s["schema-id"]: s for s in self.metadata.get("schemas", [])}
        if snapshot_id is not None and snapshot_id in self.snapshots:
            sid = self.snapshots[snapshot_id].get("schema-id")
            if sid in schemas:
                return schemas[sid]
        return self.schema

    def table_statistics(self) -> list[dict[str, Any]]:
        """The metadata ``statistics`` list (Iceberg spec "Table
        statistics"): per-snapshot Puffin stats files with blob
        metadata.  Zero data IO."""
        return self.metadata.get("statistics", [])

    def column_ndv(self, name: str) -> int | None:
        """NDV for a column from the CURRENT snapshot's statistics file
        (the ``ndv`` blob property, which is the part engines consume
        from stats blobs without decoding sketch payloads), or None when
        no statistics cover the snapshot/column."""
        fid = self.fields[name].field_id
        cur = self.current_snapshot["snapshot-id"]
        for e in self.metadata.get("statistics", []):
            if e["snapshot-id"] != cur:
                continue
            for b in e.get("blob-metadata", []):
                if b.get("fields") == [fid] and "ndv" in b.get(
                    "properties", {}
                ):
                    return int(b["properties"]["ndv"])
        return None

    def column_theta(self, name: str, snapshot_id: int | None = None):
        """Deserialized ``apache-datasketches-theta-v1`` sketch for a
        column from the CURRENT snapshot's statistics file (or the
        explicit ``snapshot_id``'s), or None.  Unlike ``column_ndv``
        (the pre-computed property), this decodes the mergeable
        payload — callers can union it with sketches of their own,
        intersect/difference two snapshots' sketches (zero-IO key-churn
        analysis), or re-derive the estimate."""
        from daskberg_spark.iceberg.puffin import read_blob
        from daskberg_spark.iceberg.theta import THETA_BLOB_TYPE, ThetaSketch

        fid = self.fields[name].field_id
        cur = (
            snapshot_id
            if snapshot_id is not None
            else self.current_snapshot["snapshot-id"]
        )
        for e in self.metadata.get("statistics", []):
            if e["snapshot-id"] != cur:
                continue
            for b in e.get("blob-metadata", []):
                if b.get("type") == THETA_BLOB_TYPE and b.get("fields") == [
                    fid
                ]:
                    return ThetaSketch.deserialize(
                        read_blob(e["statistics-path"], b)
                    )
        return None

    def column_quantiles(self, name: str) -> dict[str, Any] | None:
        """Equi-depth histogram for a numeric/temporal column from the
        CURRENT snapshot's ``daskberg-quantiles-v1`` blob
        (``quantiles.py``): {"bounds", "rows", "nonnull", "buckets"},
        or None.  The CBO's range-selectivity input; the blob is a
        statistics-file engine extension foreign readers skip."""
        import json as _json

        from daskberg_spark.iceberg.puffin import read_blob
        from daskberg_spark.iceberg.quantiles import QUANTILE_BLOB_TYPE

        fid = self.fields[name].field_id
        cur = self.current_snapshot["snapshot-id"]
        for e in self.metadata.get("statistics", []):
            if e["snapshot-id"] != cur:
                continue
            for b in e.get("blob-metadata", []):
                if b.get("type") == QUANTILE_BLOB_TYPE and b.get(
                    "fields"
                ) == [fid]:
                    try:
                        return _json.loads(
                            read_blob(e["statistics-path"], b)
                        )
                    except (ValueError, OSError):
                        return None
        return None

    def grouped_column_quantiles(
        self, name: str, group_cols: list[str]
    ) -> dict[str, Any] | None:
        """PER-GROUP equi-depth histogram for a numeric/temporal column
        from the CURRENT snapshot's ``daskberg-quantiles-grouped-v1``
        blob (``quantiles.py``, r12): {"group_cols", "buckets",
        "groups": [{"key", "rows", "nonnull", "bounds"}, ...]}, or None
        when no blob covers this snapshot with EXACTLY the requested
        group columns — staleness or a different grouping must route
        the caller to the scan, never to a silently-wrong answer."""
        import json as _json

        from daskberg_spark.iceberg.puffin import read_blob
        from daskberg_spark.iceberg.quantiles import (
            GROUPED_QUANTILE_BLOB_TYPE,
        )

        fid = self.fields[name].field_id
        cur = self.current_snapshot["snapshot-id"]
        for e in self.metadata.get("statistics", []):
            if e["snapshot-id"] != cur:
                continue
            for b in e.get("blob-metadata", []):
                if b.get("type") == GROUPED_QUANTILE_BLOB_TYPE and b.get(
                    "fields"
                ) == [fid]:
                    try:
                        payload = _json.loads(
                            read_blob(e["statistics-path"], b)
                        )
                    except (ValueError, OSError):
                        return None
                    if payload.get("group_cols") == list(group_cols):
                        return payload
        return None

    def grouped_column_ndv(
        self, name: str, group_cols: list[str]
    ) -> dict[str, Any] | None:
        """PER-GROUP NDV payload for a column from the CURRENT
        snapshot's ``daskberg-theta-grouped-v1`` blob (``theta.py``,
        r12): {"group_cols", "lg_k", "groups": [{"key", "ndv",
        "exact", "sketch"}, ...]}, or None when no blob covers this
        snapshot with EXACTLY the requested group columns."""
        import json as _json

        from daskberg_spark.iceberg.puffin import read_blob
        from daskberg_spark.iceberg.theta import GROUPED_THETA_BLOB_TYPE

        fid = self.fields[name].field_id
        cur = self.current_snapshot["snapshot-id"]
        for e in self.metadata.get("statistics", []):
            if e["snapshot-id"] != cur:
                continue
            for b in e.get("blob-metadata", []):
                if b.get("type") == GROUPED_THETA_BLOB_TYPE and b.get(
                    "fields"
                ) == [fid]:
                    try:
                        payload = _json.loads(
                            read_blob(e["statistics-path"], b)
                        )
                    except (ValueError, OSError):
                        return None
                    if payload.get("group_cols") == list(group_cols):
                        return payload
        return None

    def partition_statistics(self) -> list[dict[str, Any]]:
        """Rows of the CURRENT snapshot's partition-statistics parquet
        (spec "Partition statistics"), or [] when none cover it."""
        import pyarrow.parquet as _pq

        cur = self.current_snapshot["snapshot-id"]
        for e in self.metadata.get("partition-statistics", []):
            if e["snapshot-id"] == cur:
                return _pq.read_table(
                    self._relocate(e["statistics-path"])
                ).to_pylist()
        return []

    def files_df(self, spark: Any):
        """``table.files`` metadata table (real Iceberg's inspect
        surface): one row per LIVE data file with content/format/row
        count/size/partition tuple/lineage columns, as a DataFrame.
        Metadata-sized — O(live files) rows built from the already-
        reconciled scan plan, zero data IO; at 100 TB that is ~10⁵ rows,
        the same order the manifests themselves are."""
        rows = [
            (
                int(f.get("content", 0) or 0),
                f["file_path"],
                f.get("file_format", "PARQUET"),
                int(f["record_count"]),
                int(f["file_size_in_bytes"]),
                # NULL partition values keep their key (value None) —
                # real Iceberg's files table distinguishes a NULL-valued
                # partition from an unpartitioned file
                {
                    k: (str(v) if v is not None else None)
                    for k, v in (f.get("partition") or {}).items()
                },
                f.get("_spec_id"),
                f.get("_snapshot_id"),
                f.get("_sequence_number"),
            )
            for f in self.plan_files()
        ]
        return spark.createDataFrame(
            rows,
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, "
            "partition map<string,string>, spec_id int, snapshot_id long, "
            "sequence_number long",
        )

    def delete_files_df(self, spark: Any):
        """``table.delete_files`` metadata table: one row per live
        delete file / DV blob (content 1=position or DV, 2=equality)."""
        rows = [
            (
                int(f.get("content", 0) or 0),
                f["file_path"],
                f.get("file_format", "PARQUET"),
                int(f["record_count"]),
                f.get("referenced_data_file"),
                f.get("content_offset"),
                f.get("content_size_in_bytes"),
                f.get("_sequence_number"),
            )
            for f in self.plan_deletes()
        ]
        return spark.createDataFrame(
            rows,
            "content int, file_path string, file_format string, "
            "record_count long, referenced_data_file string, "
            "content_offset long, content_size_in_bytes long, "
            "sequence_number long",
        )

    def manifests_df(self, spark: Any):
        """``table.manifests`` metadata table: the current snapshot's
        manifest-list records."""
        rows = [
            (
                mf["manifest_path"],
                mf.get("manifest_length"),
                mf.get("partition_spec_id", 0),
                mf.get("added_snapshot_id"),
                mf.get("sequence_number"),
                mf.get("added_data_files_count"),
                mf.get("existing_data_files_count"),
                mf.get("deleted_data_files_count"),
            )
            for mf in self.manifest_list
        ]
        return spark.createDataFrame(
            rows,
            "path string, length long, partition_spec_id int, "
            "added_snapshot_id long, sequence_number long, "
            "added_data_files_count int, existing_data_files_count int, "
            "deleted_data_files_count int",
        )

    def history_df(self, spark: Any):
        """``table.history`` metadata table: the snapshot-log (current
        lineage only — rollback truncates it per spec), with
        ``is_current_ancestor`` computed against the head's parent
        chain."""
        ancestors = set()
        by_id = self.snapshots
        cur: dict[str, Any] | None = self.current_snapshot
        while cur is not None:
            if cur["snapshot-id"] in ancestors:
                raise ValueError(
                    "cyclic parent-snapshot-id chain at "
                    f"{cur['snapshot-id']} (corrupt metadata)"
                )
            ancestors.add(cur["snapshot-id"])
            parent = cur.get("parent-snapshot-id")
            cur = by_id.get(parent) if parent is not None else None
        rows = [
            (
                int(e["timestamp-ms"]),
                int(e["snapshot-id"]),
                by_id.get(e["snapshot-id"], {}).get("parent-snapshot-id"),
                e["snapshot-id"] in ancestors,
            )
            for e in self.metadata.get("snapshot-log", [])
        ]
        return spark.createDataFrame(
            rows,
            "made_current_at long, snapshot_id long, parent_id long, "
            "is_current_ancestor boolean",
        )

    def snapshots_df(self, spark: Any):
        """``table.snapshots`` metadata table (real Iceberg inspect
        surface): one row per snapshot in the metadata — including ones
        a rollback stranded off the current lineage, which ``history``
        (snapshot-log) no longer shows.  Metadata-only, O(snapshots)
        rows; the ``summary`` operation surfaces so maintenance jobs can
        census appends vs deletes vs replaces without opening a single
        manifest."""
        rows = [
            (
                int(s["timestamp-ms"]),
                int(s["snapshot-id"]),
                s.get("parent-snapshot-id"),
                (s.get("summary") or {}).get("operation", "append"),
                self._relocate(s["manifest-list"])
                if s.get("manifest-list")
                else None,
                (
                    int((s.get("summary") or {})["total-records"])
                    if "total-records" in (s.get("summary") or {})
                    else None
                ),
            )
            for s in self.metadata.get("snapshots", [])
        ]
        return spark.createDataFrame(
            rows,
            "committed_at long, snapshot_id long, parent_id long, "
            "operation string, manifest_list string, total_records long",
        )

    def refs_df(self, spark: Any):
        """``table.refs`` metadata table (real Iceberg inspect surface;
        beyond-reference — ``ice.py`` reads only the main lineage): one
        row per named branch/tag from the metadata ``refs`` map,
        including the implicit ``main`` branch, with the spec's three
        retention knobs.  Metadata-only — O(refs) rows."""
        refs = dict(self.metadata.get("refs") or {})
        head = self.metadata.get("current-snapshot-id")
        if "main" not in refs and head is not None and head != -1:
            refs["main"] = {"snapshot-id": head, "type": "branch"}
        rows = [
            (
                name,
                r.get("type", "branch").upper(),
                int(r["snapshot-id"]),
                r.get("max-ref-age-ms"),
                r.get("min-snapshots-to-keep"),
                r.get("max-snapshot-age-ms"),
            )
            for name, r in sorted(refs.items())
        ]
        return spark.createDataFrame(
            rows,
            "name string, type string, snapshot_id long, "
            "max_reference_age_in_ms long, min_snapshots_to_keep int, "
            "max_snapshot_age_in_ms long",
        )

    def statistics_df(self, spark: Any):
        """``table.statistics`` metadata table (beyond real Iceberg's
        inspect surface, which exposes no statistics table): one row per
        statistics-file BLOB — snapshot, blob type, covered columns
        (field ids resolved to current names), the ``ndv`` property
        when present, and the Puffin file carrying it.  Metadata-only —
        O(blobs) rows; payloads are NOT decoded (use ``column_theta``)."""
        by_id = {
            info.field_id: name for name, info in self.fields.items()
        }
        rows = []
        for e in self.metadata.get("statistics", []):
            for b in e.get("blob-metadata", []):
                props = b.get("properties") or {}
                rows.append(
                    (
                        int(e["snapshot-id"]),
                        b.get("type"),
                        ",".join(
                            by_id.get(fid, str(fid))
                            for fid in (b.get("fields") or [])
                        ),
                        int(props["ndv"]) if "ndv" in props else None,
                        (
                            int(b["sequence-number"])
                            if b.get("sequence-number") is not None
                            else None
                        ),
                        e.get("statistics-path"),
                        int(e.get("file-size-in-bytes") or 0),
                    )
                )
        return spark.createDataFrame(
            rows,
            "snapshot_id long, type string, columns string, ndv long, "
            "sequence_number long, statistics_path string, "
            "file_size_in_bytes long",
        )

    def _entry_row(
        self, e: dict[str, Any], m_snap: Any, m_seq: Any
    ) -> tuple:
        """One inspect-table row for a raw manifest entry, with Iceberg
        snapshot-id / sequence-number inheritance — the ONE builder
        behind ``entries`` and ``all_entries`` so inheritance fixes
        cannot drift between them."""
        d = e["data_file"]
        return (
            int(e["status"]),
            (
                int(e["snapshot_id"])
                if e.get("snapshot_id") is not None
                else m_snap
            ),
            (
                int(e["sequence_number"])
                if e.get("sequence_number") is not None
                else m_seq
            ),
            self._relocate(d["file_path"]),
            int(d.get("content", 0) or 0),
            int(d["record_count"]),
            int(d["file_size_in_bytes"]),
        )

    def entries_df(self, spark: Any):
        """``table.entries`` metadata table: the RAW manifest entries of
        the current snapshot's manifests, pre-reconciliation — DELETED
        (status 2) tombstones surface here, unlike ``files`` which
        resolves them away.  Entry-absent snapshot ids / sequence
        numbers inherit from the manifest-list record (Iceberg
        inheritance), matching what the scan itself plans with."""
        rows = []
        for mf in self.manifest_list:
            man_path = self._relocate(mf["manifest_path"])
            m_snap = mf.get("added_snapshot_id")
            m_seq = mf.get("sequence_number")
            for e in self._load_manifest(man_path):
                rows.append(self._entry_row(e, m_snap, m_seq))
        return spark.createDataFrame(
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "file_path string, content int, record_count long, "
            "file_size_in_bytes long",
        )

    def all_entries_df(self, spark: Any):
        """``table.all_entries`` metadata table: the raw manifest
        entries of EVERY valid snapshot's manifests, one row per
        (entry, referencing snapshot) — ``entries`` widened across
        history, the audit view for "which commit referenced this file
        in which state".  O(snapshots × entries) metadata rows; each
        manifest list and manifest Avro is read once via the per-path
        caches (manifests are immutable, so a manifest carried across
        k snapshots costs one read, k row-group emissions)."""
        prior = self.current_snapshot["snapshot-id"]
        rows = []
        try:
            for ref_sid in sorted(self.snapshots):
                self.open_snapshot(snapshot_id=ref_sid)
                for mf in self.manifest_list:
                    man_path = self._relocate(mf["manifest_path"])
                    m_snap = mf.get("added_snapshot_id")
                    m_seq = mf.get("sequence_number")
                    for e in self._load_manifest(man_path):
                        rows.append(
                            (*self._entry_row(e, m_snap, m_seq), ref_sid)
                        )
        finally:
            self.open_snapshot(snapshot_id=prior)
        return spark.createDataFrame(
            rows,
            "status int, snapshot_id long, sequence_number long, "
            "file_path string, content int, record_count long, "
            "file_size_in_bytes long, reference_snapshot_id long",
        )

    def all_manifests_df(self, spark: Any):
        """``table.all_manifests`` metadata table: the union of every
        valid snapshot's manifest-list records, one row per (manifest,
        referencing snapshot).  O(snapshots × manifests) metadata rows;
        manifest lists are immutable so each is read once via the
        per-path cache."""
        rows = []
        for sid in sorted(self.snapshots):
            snap = self.snapshots[sid]
            ml_path = self._relocate(snap["manifest-list"])
            if ml_path not in self._ml_cache:
                _, self._ml_cache[ml_path] = read_avro_file(ml_path)
            for mf in self._ml_cache[ml_path]:
                rows.append(
                    (
                        self._relocate(mf["manifest_path"]),
                        mf.get("manifest_length"),
                        mf.get("partition_spec_id", 0),
                        mf.get("added_snapshot_id"),
                        mf.get("added_data_files_count"),
                        mf.get("existing_data_files_count"),
                        mf.get("deleted_data_files_count"),
                        sid,
                    )
                )
        return spark.createDataFrame(
            rows,
            "path string, length long, partition_spec_id int, "
            "added_snapshot_id long, added_data_files_count int, "
            "existing_data_files_count int, deleted_data_files_count int, "
            "reference_snapshot_id long",
        )

    def all_data_files_df(self, spark: Any):
        """``table.all_data_files`` metadata table: every data file that
        is LIVE in at least one valid snapshot, deduped by path, with
        the earliest referencing snapshot.  Walks each snapshot's
        reconciled plan through the scan cache (manifest Avro is read
        once per path); the selected snapshot is restored afterwards."""
        prior = self.current_snapshot["snapshot-id"]
        seen: dict[str, tuple] = {}
        snaps = self.snapshots  # bind once: the property rebuilds the dict
        try:
            for sid in sorted(
                snaps, key=lambda s: snaps[s]["timestamp-ms"]
            ):
                self.open_snapshot(snapshot_id=sid)
                for f in self.scan_manifests().values():
                    path = f["file_path"]
                    if path not in seen:
                        seen[path] = (
                            int(f.get("content", 0) or 0),
                            path,
                            f.get("file_format", "PARQUET"),
                            int(f["record_count"]),
                            int(f["file_size_in_bytes"]),
                            f.get("_spec_id"),
                            f.get("_snapshot_id"),
                        )
        finally:
            self.open_snapshot(snapshot_id=prior)
        return spark.createDataFrame(
            sorted(seen.values(), key=lambda r: r[1]),
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, spec_id int, "
            "snapshot_id long",
        )

    def all_delete_files_df(self, spark: Any):
        """``table.all_delete_files`` metadata table: every delete file
        (position/equality parquet and DV blob) live in at least one
        valid snapshot, deduped by (path, blob offset) with the earliest
        referencing snapshot — the remaining half of ``all_data_files``.
        Same metadata-only walk through the scan cache; the selected
        snapshot is restored afterwards."""
        prior = self.current_snapshot["snapshot-id"]
        seen: dict[tuple, tuple] = {}
        snaps = self.snapshots  # bind once: the property rebuilds the dict
        try:
            for sid in sorted(
                snaps, key=lambda s: snaps[s]["timestamp-ms"]
            ):
                self.open_snapshot(snapshot_id=sid)
                for key, d in self.scan_all()[1].items():
                    if key not in seen:
                        seen[key] = (
                            int(d.get("content", 0) or 0),
                            d["file_path"],
                            d.get("file_format", "PARQUET"),
                            int(d["record_count"]),
                            int(d.get("file_size_in_bytes") or 0),
                            d.get("referenced_data_file"),
                            d.get("content_offset"),
                            d.get("content_size_in_bytes"),
                            d.get("_snapshot_id"),
                        )
        finally:
            self.open_snapshot(snapshot_id=prior)
        return spark.createDataFrame(
            sorted(seen.values(), key=lambda r: (r[1], r[6] or 0)),
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, "
            "referenced_data_file string, content_offset long, "
            "content_size_in_bytes long, snapshot_id long",
        )

    def all_files_df(self, spark: Any):
        """``table.all_files`` metadata table: every data AND delete
        file live in at least one valid snapshot (real Iceberg's third
        all-tier table), on the columns the two halves share.  ONE
        snapshot walk collects both sides via ``scan_all`` (calling the
        two ``all_*_files_df`` methods would walk every snapshot
        twice); the selected snapshot is restored afterwards."""
        prior = self.current_snapshot["snapshot-id"]
        seen: dict[tuple, tuple] = {}
        snaps = self.snapshots  # bind once: the property rebuilds the dict
        try:
            for sid in sorted(
                snaps, key=lambda s: snaps[s]["timestamp-ms"]
            ):
                self.open_snapshot(snapshot_id=sid)
                data, deletes = self.scan_all()
                for key, f in [
                    ((p, 0), r) for p, r in data.items()
                ] + list(deletes.items()):
                    if key not in seen:
                        seen[key] = (
                            int(f.get("content", 0) or 0),
                            f["file_path"],
                            f.get("file_format", "PARQUET"),
                            int(f["record_count"]),
                            int(f.get("file_size_in_bytes") or 0),
                            f.get("_snapshot_id"),
                        )
        finally:
            self.open_snapshot(snapshot_id=prior)
        return spark.createDataFrame(
            sorted(seen.values(), key=lambda r: (r[1], r[0])),
            "content int, file_path string, file_format string, "
            "record_count long, file_size_in_bytes long, snapshot_id long",
        )

    def partitions_df(self, spark: Any):
        """``table.partitions`` metadata table as a DataFrame: per-
        partition record/file counts from manifests alone (zero data
        IO); the partition tuple serializes as sorted JSON."""
        rows = self.metadata_rows("partitions")
        return spark.createDataFrame(
            [
                (r["partition"], r["record_count"], r["file_count"])
                for r in rows
            ],
            "partition string, record_count long, file_count long",
        )

    def position_deletes_df(self, spark: Any):
        """``table.position_deletes`` metadata table (method form of
        ``scan.position_deletes_df`` for the SQL-view family)."""
        from daskberg_spark.iceberg.scan import (
            position_deletes_df as _pdf,
        )

        return _pdf(self, spark)

    def metadata_log_entries_df(self, spark: Any):
        """``table.metadata_log_entries`` metadata table: one row per
        metadata-log entry plus the current metadata file.  The
        latest-snapshot/schema columns re-open each listed JSON (local,
        O(versions) driver reads — the same files the log points at)."""
        entries = list(self.metadata.get("metadata-log", []))
        if self._direct_meta is not None and self._version is None:
            cur_file = self._direct_meta
        else:
            cur_file = os.path.join(
                self.url, "metadata", f"v{self._version}.metadata.json"
            )
        entries.append(
            {
                "timestamp-ms": self.metadata.get("last-updated-ms"),
                "metadata-file": cur_file,
            }
        )
        rows = []
        for e in entries:
            path = self._relocate(e["metadata-file"])
            latest_snap = None
            latest_schema = None
            try:
                with open(path) as f:
                    m = json.load(f)
                latest_snap = m.get("current-snapshot-id")
                if latest_snap == -1:
                    latest_snap = None
                latest_schema = m.get("current-schema-id")
            except FileNotFoundError:
                pass  # expired metadata versions may be swept
            ts = e.get("timestamp-ms")
            rows.append(
                (
                    # minimal/hand-rolled v1 metadata may omit
                    # last-updated-ms — surface NULL, not int(None)
                    int(ts) if ts is not None else None,
                    path,
                    latest_snap,
                    latest_schema,
                )
            )
        return spark.createDataFrame(
            rows,
            "timestamp long, file string, latest_snapshot_id long, "
            "latest_schema_id int",
        )

    def plan_deletes(self) -> list[dict[str, Any]]:
        """Live v2/v3 delete files (position/equality/DV), ordered by
        (path, blob offset)."""
        _, deletes = self.scan_all()
        return sorted(
            deletes.values(),
            key=lambda f: (f["file_path"], f.get("content_offset") or 0),
        )

    def plan_files(self, filters: Any = None) -> list[dict[str, Any]]:
        """Full scan plan: manifest prune + file-level partition/stat prune.

        Returns surviving ``data_file`` records (with relocated paths),
        deterministically ordered by path.
        """
        allfiles = self.scan_manifests(filters)
        files = list(allfiles.values())
        if filters:
            files = apply_filters(files, filters, self.fields, self._spec_fields)
            if files and self.metadata.get("statistics"):
                # file-level Bloom indexes (bloomindex.py): equality/IN
                # predicates on indexed columns prove files dead where
                # min/max bounds cannot; conservative no-op when the
                # statistics list carries no bloom blobs
                from daskberg_spark.iceberg.bloomindex import (
                    bloom_prune_files,
                )

                files = bloom_prune_files(self, files, filters)
        return sorted(files, key=lambda f: f["file_path"])

    # -- metadata-only introspection ---------------------------------------

    def unique_partitions(self, field: str | None = None) -> Any:
        """Distinct partition values, metadata-only (``ice.py:266-282``)."""
        names = [f["name"] for f in self.partition_spec]
        values = set()
        for data_file in self.scan_manifests().values():
            part = data_file.get("partition") or {}
            values.add(tuple(part.get(n) for n in names))
        if field is not None:
            idx = names.index(field)
            return sorted({v[idx] for v in values}, key=lambda x: (x is None, x))
        return sorted(values, key=lambda t: tuple((v is None, v) for v in t))

    def metadata_rows(self, kind: str) -> list[dict[str, Any]]:
        """Iceberg metadata-table rows (``SELECT * FROM tbl.files`` etc. in
        real Iceberg; beyond-reference).  Kinds: ``snapshots``, ``files``,
        ``manifests``, ``partitions``.  Metadata-only — zero data IO."""
        import json as _json

        if kind == "snapshots":
            return [
                {
                    "snapshot_id": s["snapshot-id"],
                    "parent_id": s.get("parent-snapshot-id"),
                    "operation": s.get("summary", {}).get("operation", ""),
                    "added_records": int(
                        s.get("summary", {}).get("added-records", 0)
                    ),
                }
                for s in self.metadata.get("snapshots", [])
            ]
        if kind == "manifests":
            return [
                {
                    "path": self._relocate(mf["manifest_path"]),
                    "length": mf.get("manifest_length"),
                    "partition_spec_id": mf.get("partition_spec_id", 0),
                    "added_snapshot_id": mf.get("added_snapshot_id"),
                    "added_data_files_count": mf.get("added_data_files_count"),
                    "existing_data_files_count": mf.get(
                        "existing_data_files_count"
                    ),
                    "deleted_data_files_count": mf.get(
                        "deleted_data_files_count"
                    ),
                }
                for mf in self.manifest_list
            ]
        if kind == "files":
            return [
                {
                    "file_path": f["file_path"],
                    "record_count": f.get("record_count"),
                    "file_size_in_bytes": f.get("file_size_in_bytes"),
                    "spec_id": f.get("_spec_id", 0),
                    "partition": _json.dumps(
                        f.get("partition") or {}, sort_keys=True, default=str
                    ),
                }
                for f in self.plan_files()
            ]
        if kind == "partitions":
            agg: dict[str, dict[str, int]] = {}
            for f in self.plan_files():
                key = _json.dumps(
                    f.get("partition") or {}, sort_keys=True, default=str
                )
                slot = agg.setdefault(key, {"record_count": 0, "file_count": 0})
                slot["record_count"] += f.get("record_count") or 0
                slot["file_count"] += 1
            return [
                {"partition": k, **v} for k, v in sorted(agg.items())
            ]
        raise ValueError(f"unknown metadata table {kind!r}")

    def __repr__(self) -> str:  # pragma: no cover
        return f"IcebergTable({self.url!r}, version={self._version})"
