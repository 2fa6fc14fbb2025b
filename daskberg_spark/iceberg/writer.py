"""Iceberg v1 table writer: append / delete-files snapshots, pure Python.

The reference is read-only — "any writing at all" is its top missing
feature (``/root/reference/README.md:92-94``).  This writer produces
spec-shaped v1 metadata (versioned JSON, Avro manifest lists + manifests
with partition summaries and per-column bounds) plus partitioned parquet
data files via pyarrow, and is used both as a user-facing feature and to
generate the partitioned test fixture that the reference's test data
lacks entirely (FIXTURES.md §3: its golden table has an empty partition
spec, leaving pruning untested).

Scale note: this is a *metadata* writer — data files are written
partition-grouped through pyarrow here, but on a cluster the same
manifest/metadata layer can commit files produced by distributed Spark
jobs (``df.write.parquet`` per partition dir → ``commit_add_files``).
"""

from __future__ import annotations

import json
import os
import re
import struct
import uuid
from typing import Any

import pyarrow as pa
import pyarrow.parquet as pq

from daskberg_spark.iceberg.avro import write_avro_file
from daskberg_spark.iceberg.conversions import LINEAGE_COLS, encode_bound
from daskberg_spark.iceberg.metadata import _entry_key, _merge_events, metadata_json
from daskberg_spark.iceberg.planner import transform_result_type
from daskberg_spark.iceberg.transforms import get_transform

# ---------------------------------------------------------------------------
# Avro schemas (minimal spec-shaped subset our reader consumes)

_FIELD_SUMMARY_SCHEMA = {
    "type": "record",
    "name": "r508",
    "fields": [
        {"name": "contains_null", "type": "boolean", "field-id": 509},
        {"name": "lower_bound", "type": ["null", "bytes"], "default": None, "field-id": 510},
        {"name": "upper_bound", "type": ["null", "bytes"], "default": None, "field-id": 511},
    ],
}

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        # v2 data sequence numbers (spec field ids 515/516): the manifest's
        # own commit sequence, and the minimum across its entries (EXISTING
        # entries carried forward keep their original, older, sequence).
        # Nullable so the same schema still reads/writes v1-era lists.
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 515},
        {"name": "min_sequence_number", "type": ["null", "long"], "default": None, "field-id": 516},
        {"name": "added_snapshot_id", "type": ["null", "long"], "default": None, "field-id": 503},
        {"name": "added_data_files_count", "type": ["null", "int"], "default": None, "field-id": 504},
        {"name": "existing_data_files_count", "type": ["null", "int"], "default": None, "field-id": 505},
        {"name": "deleted_data_files_count", "type": ["null", "int"], "default": None, "field-id": 506},
        {
            "name": "partitions",
            "type": ["null", {"type": "array", "items": _FIELD_SUMMARY_SCHEMA, "element-id": 508}],
            "default": None,
            "field-id": 507,
        },
        {"name": "added_rows_count", "type": ["null", "long"], "default": None, "field-id": 512},
        {"name": "existing_rows_count", "type": ["null", "long"], "default": None, "field-id": 513},
        {"name": "deleted_rows_count", "type": ["null", "long"], "default": None, "field-id": 514},
    ],
}

_KV_LONG = {
    "type": "record",
    "name": "k117_v118",
    "fields": [
        {"name": "key", "type": "int", "field-id": 117},
        {"name": "value", "type": "long", "field-id": 118},
    ],
}

_KV_BYTES = {
    "type": "record",
    "name": "k126_v127",
    "fields": [
        {"name": "key", "type": "int", "field-id": 126},
        {"name": "value", "type": "bytes", "field-id": 127},
    ],
}

# per-column long counters: null_value_counts (spec map key/value ids
# 121/122) and nan_value_counts (139/140) serialize as arrays of these
_KV_NULLS = {
    "type": "record",
    "name": "k121_v122",
    "fields": [
        {"name": "key", "type": "int", "field-id": 121},
        {"name": "value", "type": "long", "field-id": 122},
    ],
}
_KV_NANS = {
    "type": "record",
    "name": "k138_v139",
    "fields": [
        {"name": "key", "type": "int", "field-id": 138},
        {"name": "value", "type": "long", "field-id": 139},
    ],
}


def _avro_type_for(iceberg_type: str, field_id: int) -> Any:
    if iceberg_type == "int":
        return ["null", "int"]
    if iceberg_type == "long":
        return ["null", "long"]
    if iceberg_type == "string":
        return ["null", "string"]
    if iceberg_type == "date":
        return ["null", {"type": "int", "logicalType": "date"}]
    raise NotImplementedError(f"partition avro type {iceberg_type}")


def _manifest_entry_schema(partition_fields: list[dict[str, Any]], field_types: dict[str, str]) -> dict[str, Any]:
    part_fields = []
    for i, pf in enumerate(partition_fields):
        rtype = transform_result_type(pf["transform"], field_types[pf["_source_name"]])
        part_fields.append(
            {
                "name": pf["name"],
                "type": _avro_type_for(rtype, 1000 + i),
                "default": None,
                "field-id": pf["field-id"],
            }
        )
    kv_bytes_arr = ["null", {"type": "array", "items": _KV_BYTES}]
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
            # v2 per-entry data/file sequence numbers (spec field ids 3/4).
            # Null on ADDED entries = inherit the manifest's sequence_number
            # at read time; EXISTING/DELETED entries must carry theirs
            # explicitly (Iceberg v2 inheritance rules).
            {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
            {
                "name": "data_file",
                "field-id": 2,
                "type": {
                    "type": "record",
                    "name": "r2",
                    "fields": [
                        # v2: 0=data, 1=position deletes, 2=equality deletes
                        {"name": "content", "type": "int", "default": 0, "field-id": 134},
                        {"name": "file_path", "type": "string", "field-id": 100},
                        {"name": "file_format", "type": "string", "field-id": 101},
                        {
                            "name": "partition",
                            "field-id": 102,
                            "type": {"type": "record", "name": "r102", "fields": part_fields},
                        },
                        {"name": "record_count", "type": "long", "field-id": 103},
                        {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                        {
                            "name": "null_value_counts",
                            "type": ["null", {"type": "array", "items": _KV_NULLS}],
                            "default": None,
                            "field-id": 110,
                        },
                        {
                            "name": "nan_value_counts",
                            "type": ["null", {"type": "array", "items": _KV_NANS}],
                            "default": None,
                            "field-id": 137,
                        },
                        {"name": "lower_bounds", "type": kv_bytes_arr, "default": None, "field-id": 125},
                        {"name": "upper_bounds", "type": kv_bytes_arr, "default": None, "field-id": 128},
                        {
                            "name": "equality_ids",
                            "type": ["null", {"type": "array", "items": "int"}],
                            "default": None,
                            "field-id": 135,
                        },
                        # v3 deletion vectors (spec field ids 143-145):
                        # a DV entry is content=1 with file_format PUFFIN,
                        # naming its target data file and the blob's byte
                        # range inside the puffin container.  Null on all
                        # v1/v2 entries.
                        {"name": "referenced_data_file", "type": ["null", "string"], "default": None, "field-id": 143},
                        {"name": "content_offset", "type": ["null", "long"], "default": None, "field-id": 144},
                        {"name": "content_size_in_bytes", "type": ["null", "long"], "default": None, "field-id": 145},
                        # v3 row lineage (spec field id 142): the _row_id
                        # assigned to the file's first row; rows inherit
                        # first_row_id + position unless the file
                        # materializes an explicit _row_id column (rewrites
                        # do, to keep identity stable across compaction)
                        {"name": "first_row_id", "type": ["null", "long"], "default": None, "field-id": 142},
                        # ENGINE EXTENSION (id 900, outside the spec's
                        # 100-145 manifest range): JSON file-level bounds
                        # for SHREDDED variant subfields, lifted from the
                        # parquet footer at commit time so variant
                        # predicates prune manifest-level with zero
                        # plan-time IO (the v3 spec defines no variant
                        # bound encoding).  Foreign readers resolve
                        # manifests by their own schema and skip it.
                        {"name": "variant_bounds", "type": ["null", "string"], "default": None, "field-id": 900},
                    ],
                },
            },
        ],
    }


_PA_TYPES = {
    "long": pa.int64(),
    "int": pa.int32(),
    "string": pa.string(),
    "double": pa.float64(),
    "float": pa.float32(),
    "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us"),
    "timestamptz": pa.timestamp("us", tz="UTC"),
    "date": pa.date32(),
    "unknown": pa.null(),  # v3: always-null column (never stored typed)
    "binary": pa.binary(),
    "geometry": pa.binary(),  # v3: WKB passthrough
    "geography": pa.binary(),
}


def _avro_partition_value(value: Any) -> Any:
    """Transformed partition value → avro-encodable primitive (dates as
    epoch days, timestamps as epoch micros)."""
    import datetime as _dt

    if isinstance(value, _dt.datetime):
        return round((value - _dt.datetime(1970, 1, 1)).total_seconds() * 1_000_000)
    if isinstance(value, _dt.date):
        return (value - _dt.date(1970, 1, 1)).days
    return value


def _max_field_id(fields: list[dict[str, Any]]) -> int:
    """Highest field id across the schema INCLUDING nested struct/list/map
    member ids (top-level max alone under-counts on nested schemas)."""
    best = 0
    for f in fields:
        best = max(best, f.get("id", f.get("field-id", 0)))
        t = f.get("type")
        if isinstance(t, dict):
            kind = t["type"]
            if kind == "struct":
                best = max(best, _max_field_id(t["fields"]))
            elif kind == "list":
                best = max(best, t.get("element-id", 0))
                if isinstance(t.get("element"), dict) and t["element"].get("type") == "struct":
                    best = max(best, _max_field_id(t["element"]["fields"]))
            elif kind == "map":
                best = max(best, t.get("key-id", 0), t.get("value-id", 0))
                if isinstance(t.get("value"), dict) and t["value"].get("type") == "struct":
                    best = max(best, _max_field_id(t["value"]["fields"]))
    return best


def _pa_type(t: Any) -> pa.DataType:
    if isinstance(t, dict):
        # nested Iceberg type JSON (struct/list/map); the reference raises
        # NotImplementedError for all of these (conversions.py:46)
        kind = t["type"]
        if kind == "struct":
            return pa.struct(
                [
                    pa.field(
                        f["name"], _pa_type(f["type"]), nullable=not f.get("required")
                    )
                    for f in t["fields"]
                ]
            )
        if kind == "list":
            return pa.list_(_pa_type(t["element"]))
        if kind == "map":
            return pa.map_(_pa_type(t["key"]), _pa_type(t["value"]))
        raise NotImplementedError(f"iceberg type {t!r}")
    if t.startswith("decimal"):
        p, s = t[len("decimal(") : -1].split(",")
        return pa.decimal128(int(p), int(s))
    try:
        return _PA_TYPES[t]
    except KeyError:
        raise NotImplementedError(
            f"driver-side write of iceberg type {t!r} (pyarrow has no "
            "equivalent); write the data files with Spark and commit via "
            "commit_spark_output"
        ) from None


def _entry_seq(entry: dict[str, Any], manifest: dict[str, Any]) -> int | None:
    """Resolve a manifest entry's data sequence number: explicit value if
    present, else inherited from the manifest that carries it (Iceberg v2
    inheritance).  None only for pre-sequence-number (v1-era) metadata."""
    s = entry.get("sequence_number")
    return s if s is not None else manifest.get("sequence_number")


def _carry(entry: dict[str, Any], manifest: dict[str, Any]) -> dict[str, Any]:
    """An entry re-serialized into a manifest written under a NEW
    snapshot — the one carry rule of every rewrite.  DELETED tombstones
    stay DELETED (re-serializing them EXISTING would resurrect what they
    tombstone); every other entry becomes EXISTING.  Sequence number and
    snapshot id are made explicit: the new manifest's inherited values
    would mis-sequence the carried entry."""
    return {
        "status": 2 if entry["status"] == 2 else 0,
        "snapshot_id": (
            entry.get("snapshot_id")
            if entry.get("snapshot_id") is not None
            else manifest.get("added_snapshot_id")
        ),
        "sequence_number": _entry_seq(entry, manifest),
        "data_file": entry["data_file"],
    }


def _tombstone(
    entry: dict[str, Any], manifest: dict[str, Any], snapshot_id: int
) -> dict[str, Any]:
    """The DELETED entry with which ``snapshot_id`` removes ``entry``."""
    return {
        "status": 2,
        "snapshot_id": snapshot_id,
        "sequence_number": _entry_seq(entry, manifest),
        "data_file": entry["data_file"],
    }


# (manifest entry, manifest-list record carrying it)
Located = tuple[dict[str, Any], dict[str, Any]]


def _live_entries(
    writer: "IcebergWriter",
) -> tuple[
    dict[str, Located],
    dict[tuple[str, int], Located],
    list[tuple[dict[str, Any], list[dict[str, Any]]]],
]:
    """The writer's live-entry census: the manifests of the writer's
    in-memory chain reconciled by the reader's rule
    (``metadata._entry_key``/``_merge_events``: DELETED tombstones last
    across all manifests, data files keyed by path, delete entries by
    (path, blob offset) so superseding one blob of a multi-blob puffin
    leaves its siblings live).

    Planned from ``writer.manifests``, not ``IcebergTable.scan_all()``:
    while a WAP stage is pinned, current-snapshot-id is the PINNED
    snapshot, not the staged head this writer commits onto.  Paths are
    the table's own, so no relocation applies.

    Returns ``(data, deletes, loaded)``: live data entries by path and
    live delete entries by (path, offset), each as ``(entry,
    manifest)``, plus every manifest with its raw entries in
    manifest-list order (for rewrites)."""
    from daskberg_spark.iceberg.avro import read_avro_file

    loaded = [
        (mf, read_avro_file(mf["manifest_path"])[1]) for mf in writer.manifests
    ]
    data, deletes = _merge_events(
        [
            [(*_entry_key(e["status"], e["data_file"]), (e, mf)) for e in entries]
            for mf, entries in loaded
        ]
    )
    return data, deletes, loaded


# Entries per manifest: ``IcebergWriter._commit`` lays every group of a
# commit's entries out in manifests of at most this many entries.
MANIFEST_ENTRIES = 100

# (partition spec id, manifest entries written under that spec)
Group = tuple[int, list[dict[str, Any]]]


def _tombstones(
    hits_by_spec: dict[int, list[Located]], snapshot_id: int
) -> list[Group]:
    """The DELETED entries removing ``_tombstone_rewrite``'s hits, one
    group per origin spec — partition records must decode under the
    spec they were written with."""
    return [
        (sid, [_tombstone(e, mf, snapshot_id) for e, mf in hits])
        for sid, hits in sorted(hits_by_spec.items())
    ]


class CommitConflictError(RuntimeError):
    """Another writer committed this metadata version first — reload the
    table state and retry (Iceberg optimistic concurrency)."""


class Transaction:
    """All-or-nothing MULTI-TABLE commit for filesystem tables — the
    local analogue of the REST catalog's ``POST /v1/transactions/commit``
    (``rest.py`` ``commit_transaction``), which is where real Iceberg
    puts cross-table atomicity.  Two-phase:

    - **Phase 1 (inside the ``with`` block)**: every member writer's
      commits run normally — metadata JSON files and data/manifests are
      written durably — but the ``version-hint.text`` flip, the single
      publication act every reader discovers state through, is
      DEFERRED.  No reader observes anything mid-transaction.
    - **Phase 2 (on clean exit)**: all hints flip, newest staged
      version per table.

    Any exception inside the block aborts the whole group: staged
    metadata files are unlinked (so a reloaded writer can re-commit the
    same version numbers) and no table ever became visible.  Aborted
    writers are POISONED exactly like a writer that lost the commit race
    (``IcebergWriter._publish``): their in-memory state is ahead of the
    published table, every later commit refuses; reload with
    ``IcebergWriter.load``.

    Crash semantics, stated honestly: each hint flip is atomic per
    table, but a PROCESS CRASH between phase-2 flips can leave a
    committed prefix visible.  That is the filesystem-catalog ceiling
    (the reason the Iceberg spec routes multi-table transactions
    through the REST catalog); against workload FAILURES — the common
    case — visibility is all-or-nothing.

    >>> with Transaction(w1, w2):
    ...     w1.append(rows)
    ...     write_df(w2, df)
    """

    def __init__(self, *writers: "IcebergWriter") -> None:
        if not writers:
            raise ValueError("transaction needs at least one writer")
        if len({id(w) for w in writers}) != len(writers):
            raise ValueError("duplicate writer in transaction")
        self.writers = list(writers)

    def __enter__(self) -> "Transaction":
        for w in self.writers:
            if w._txn_staged is not None:
                raise ValueError(f"{w.path} is already in a transaction")
            w._refuse_if_poisoned()
        for w in self.writers:
            w._txn_staged = []
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        if exc_type is not None:
            for w in self.writers:
                for _v, path in w._txn_staged or []:
                    try:
                        os.unlink(path)
                    except OSError:
                        pass
                w._txn_staged = None
                w._poisoned = "was aborted in a transaction"
            return False
        for w in self.writers:
            staged, w._txn_staged = w._txn_staged, None
            if staged:
                w._publish_hint(max(v for v, _ in staged))
        return False


class IcebergWriter:
    """Create and evolve an Iceberg v1 table on a local filesystem.

    schema_fields: ``[{"id": 1, "name": ..., "type": iceberg-type,
    "required": bool}, ...]``; partition_spec: ``[{"name": part-col,
    "transform": ..., "source": source-col}, ...]``.
    """

    # (version, path) of metadata linked inside an open Transaction
    _txn_staged: list[tuple[int, str]] | None = None
    # why this handle may no longer publish (lost race, aborted
    # Transaction): its state is ahead of the table; None = healthy
    _poisoned: str | None = None

    def __init__(
        self,
        path: str,
        schema_fields: list[dict[str, Any]],
        partition_spec: list[dict[str, Any]] | None = None,
    ) -> None:
        self.path = path.rstrip("/")
        self.fields = schema_fields
        self.types = {f["name"]: f["type"] for f in schema_fields}
        self.ids = {f["name"]: f["id"] for f in schema_fields}
        self.spec = self._build_spec(partition_spec or [], 1000)
        self.specs: list[list[dict[str, Any]]] = [self.spec]
        self.current_spec_id = 0
        self.version = 0
        self.schemas: list[list[dict[str, Any]]] = [list(schema_fields)]
        self.current_schema_id = 0
        self.snapshots: list[dict[str, Any]] = []
        self._next_snapshot_id = 1
        # v2 data sequence numbers: one per commit, strictly increasing.
        # Unlike snapshot ids (which the Iceberg spec allows to be RANDOM
        # longs), sequence numbers are the spec's ordering primitive —
        # equality-delete applicability keys on them, never on snapshot ids.
        self._last_sequence_number = 0
        self._format_version = 1  # upgraded to 2 by row-level deletes
        # spec `identifier-field-ids`: the schema's declared row
        # identity (SQL PRIMARY KEY analogue); set_identifier_fields
        # records it, upsert_spark consumes it as the default merge key
        self.identifier_field_ids: list[int] = []
        self.manifests: list[dict[str, Any]] = []  # live manifest_file records
        self.table_uuid = str(uuid.uuid5(uuid.NAMESPACE_URL, path))
        self._metadata_log: list[dict[str, Any]] = []
        self.refs: dict[str, dict[str, Any]] = {}  # branch/tag name → ref
        self.properties: dict[str, str] = {}  # table properties (spec map)
        self.statistics: list[dict[str, Any]] = []  # spec "statistics" list
        self.partition_statistics: list[dict[str, Any]] = []  # spec list
        # sort orders (spec): order 0 is the unsorted default; a data
        # clustering rewrite (compact_files_spark sort_by=) registers the
        # order it produced so readers know which columns carry selective
        # footer bounds
        self.sort_orders: list[dict[str, Any]] = [{"order-id": 0, "fields": []}]
        self.default_sort_order_id = 0
        # running table totals for SnapshotSummary parity (total-records
        # etc.); None = invalidated (rollback, or a loaded table whose
        # head summary lacks them) — then only per-commit deltas emit
        self._totals: dict[str, int] | None = {
            "total-data-files": 0,
            "total-delete-files": 0,
            "total-records": 0,
            "total-files-size": 0,
        }
        # WAP staging: when set, the main ref / current-snapshot-id stay
        # pinned at this snapshot while staged commits append behind a
        # branch ref (see stage_append/publish_branch/abort_stage)
        self.main_pin: int | None = None
        # Current head (the snapshot the next commit parents on and that
        # current-snapshot-id points at, absent a WAP pin).  None means
        # "newest commit" (snapshots[-1]); rollback_to repoints it at an
        # EARLIER snapshot while the snapshots list stays in commit
        # order, so the snapshot-log can be truncated to the head's
        # lineage the way reference Iceberg does.
        self.head_id: int | None = None
        # v3 row lineage: the next _row_id to assign; every ADDED data
        # file claims a [_next_row_id, +record_count) block at manifest
        # write time (explicit per-entry first_row_id)
        self._next_row_id = 0
        self._file_counter = 0
        self._manifest_counter = 0
        # Per-writer-instance token baked into every generated file name:
        # two writers loaded at the same table state allocate the same
        # counters, and without the token the optimistic-concurrency
        # LOSER's already-written data/manifest files would silently
        # overwrite the winner's live ones (the metadata link race only
        # protects the metadata JSON itself).
        self._instance = uuid.uuid4().hex[:8]
        os.makedirs(f"{self.path}/metadata", exist_ok=True)
        os.makedirs(f"{self.path}/data", exist_ok=True)

    @classmethod
    def load(cls, path: str) -> "IcebergWriter":
        """Reopen an EXISTING table for continued commits — the state the
        constructor builds in memory is reconstructed from the current
        metadata JSON + manifest list, so a table written by another
        process (or another engine, e.g. the foreign-style fixtures with
        random snapshot ids and snappy manifests) can keep evolving:

        - ``last-sequence-number`` resumes the data-sequence clock, so
          equality-delete applicability stays correct across processes;
        - snapshot-id allocation continues above the existing maximum
          (safe against foreign random ids);
        - schemas / partition specs / refs / WAP pin are restored, with
          spec source column names re-resolved by field id.
        """
        from daskberg_spark.iceberg.avro import read_avro_file

        path = path.rstrip("/")
        hint = f"{path}/metadata/version-hint.text"
        with open(hint) as f:
            version = int(f.read().strip())
        with open(f"{path}/metadata/v{version}.metadata.json") as f:
            meta = json.load(f)

        schemas_by_id = {
            s["schema-id"]: s["fields"] for s in meta.get("schemas", [])
        }
        if sorted(schemas_by_id) != list(range(len(schemas_by_id))):
            raise NotImplementedError(
                "cannot load a table with non-contiguous schema ids"
            )
        specs_by_id = {
            s["spec-id"]: s["fields"] for s in meta.get("partition-specs", [])
        }
        if sorted(specs_by_id) != list(range(len(specs_by_id))):
            raise NotImplementedError(
                "cannot load a table with non-contiguous spec ids"
            )
        current_schema_id = meta.get("current-schema-id", 0)
        fields = schemas_by_id[current_schema_id]

        w = cls.__new__(cls)
        w.path = path
        w.fields = fields
        w.types = {f["name"]: f["type"] for f in fields}
        w.ids = {f["name"]: f["id"] for f in fields}
        w.schemas = [schemas_by_id[i] for i in range(len(schemas_by_id))]
        w.current_schema_id = current_schema_id
        by_id = {f["id"]: f["name"] for f in fields}
        w.specs = [
            [
                dict(pf, _source_name=by_id[pf["source-id"]])
                for pf in specs_by_id[i]
            ]
            for i in range(len(specs_by_id))
        ]
        w.current_spec_id = meta.get("default-spec-id", 0)
        w.spec = w.specs[w.current_spec_id]
        w.version = version
        w.snapshots = list(meta.get("snapshots", []))
        w._next_snapshot_id = (
            max((s["snapshot-id"] for s in w.snapshots), default=0) + 1
        )
        w._last_sequence_number = meta.get(
            "last-sequence-number",
            max(
                (s.get("sequence-number", 0) for s in w.snapshots), default=0
            ),
        )
        w._format_version = meta.get("format-version", 1)
        w._next_row_id = meta.get("next-row-id", 0)
        w.identifier_field_ids = list(
            next(
                (
                    s.get("identifier-field-ids") or []
                    for s in meta.get("schemas", [])
                    if s["schema-id"] == current_schema_id
                ),
                [],
            )
        )
        w.statistics = list(meta.get("statistics", []))
        w.partition_statistics = list(meta.get("partition-statistics", []))
        w.table_uuid = meta.get(
            "table-uuid", str(uuid.uuid5(uuid.NAMESPACE_URL, path))
        )
        # metadata-log in the CURRENT file excludes itself (spec); the
        # in-memory log must include it so the next write lists it.
        w._metadata_log = list(meta.get("metadata-log", [])) + [
            {
                "metadata-file": f"{path}/metadata/v{version}.metadata.json",
                "timestamp-ms": meta.get("last-updated-ms", 0),
            }
        ]
        w.refs = {
            k: dict(v) for k, v in meta.get("refs", {}).items() if k != "main"
        }
        w.properties = dict(meta.get("properties", {}))
        w.sort_orders = list(
            meta.get("sort-orders", [{"order-id": 0, "fields": []}])
        )
        w.default_sort_order_id = meta.get("default-sort-order-id", 0)
        cur = meta.get("current-snapshot-id")
        last = w.snapshots[-1]["snapshot-id"] if w.snapshots else None
        w.main_pin = None
        w.head_id = None
        # current != newest commit is either a WAP pin (staged commits
        # chain BEYOND the pin behind a branch ref) or a rollback
        # repoint (head moved BACK).  The distinction is recorded
        # EXPLICITLY by _publish as the internal property
        # daskberg.wap-pin — a descends-from heuristic over branch refs
        # cannot tell a staging branch from an ordinary user branch
        # created before a rollback, and misreading a rollback as a pin
        # silently undoes it on the next commit.
        # Compat note: metadata written by pre-marker builds of this
        # writer with an in-flight WAP stage has no marker and loads as
        # a rollback repoint (readers keep seeing the pin; the staged
        # chain is reachable via its branch ref and can be re-staged).
        # Guessing WAP from branch-ref ancestry instead would silently
        # UNDO genuine rollbacks — the strictly worse failure.
        wap_marker = w.properties.pop("daskberg.wap-pin", None)
        if cur is not None and last is not None and cur != last:
            if wap_marker is not None and int(wap_marker) == cur:
                w.main_pin = cur
            else:
                w.head_id = cur
        head = w.head_snapshot
        if head is not None:
            _, w.manifests = (
                (None, [])
                if "manifest-list" not in head
                else read_avro_file(head["manifest-list"])
            )
        else:
            w.manifests = []
        # resume running totals from the head snapshot's summary when it
        # carries them; otherwise stop emitting totals (deltas continue)
        total_keys = (
            "total-data-files", "total-delete-files",
            "total-records", "total-files-size",
        )
        head_summary = (head or {}).get("summary") or {}
        if head is None:
            w._totals = dict.fromkeys(total_keys, 0)
        elif all(k in head_summary for k in total_keys):
            w._totals = {k: int(head_summary[k]) for k in total_keys}
        else:
            w._totals = None
        # Sequence-less carried manifests are v1-era (pre-sequence)
        # metadata; leaving them None would let _commit stamp them with
        # the NEXT commit's sequence, tying an old equality delete to the
        # data it was meant to delete (strictly-lower applicability then
        # stops applying it and deleted rows resurrect).  Assign the
        # sequence of the snapshot that ADDED each manifest when the
        # metadata JSON still records one; otherwise reconstruct commit
        # order from snapshot-list position (this writer and typical
        # engines append snapshots chronologically) — unless SOME
        # snapshot carries a real sequence number, in which case the
        # sequence-less ones are pre-upgrade and read at 0 per the
        # Iceberg v1→v2 upgrade rule (any v2 sequence is >= 1, so 0
        # orders them strictly before every upgraded commit; v1 tables
        # cannot contain delete files, so ties at 0 are unobservable).
        any_snap_seq = any("sequence-number" in s for s in w.snapshots)
        seq_by_snap = {
            s["snapshot-id"]: s.get(
                "sequence-number", 0 if any_snap_seq else i
            )
            for i, s in enumerate(w.snapshots)
        }
        for mf in w.manifests:
            if mf.get("sequence_number") is None:
                mf["sequence_number"] = seq_by_snap.get(
                    mf.get("added_snapshot_id"), 0
                )
                if mf.get("min_sequence_number") is None:
                    mf["min_sequence_number"] = mf["sequence_number"]
        w._last_sequence_number = max(
            w._last_sequence_number,
            max((m["sequence_number"] for m in w.manifests), default=0),
        )
        # resume the file/manifest counters above anything on disk so new
        # names cannot collide with existing ones
        w._file_counter = 0
        for name in os.listdir(f"{path}/data") if os.path.isdir(f"{path}/data") else []:
            # every counter-named family must be covered here: a prefix
            # this regex misses (as dv- once was) resumes the counter too
            # low and a later commit OVERWRITES a live file in place —
            # e.g. a still-referenced puffin whose old delete entries
            # then decode foreign bytes at their recorded offsets
            m = re.match(r"^(?:eq-delete-|pos-delete-|dv-)?(\d+)", name)
            if m:
                w._file_counter = max(w._file_counter, int(m.group(1)))
        w._manifest_counter = 0
        for name in os.listdir(f"{path}/metadata"):
            m = re.match(r"^manifest-.*?-(\d+)(?:-[0-9a-f]{8})?\.avro$", name)
            if m:
                w._manifest_counter = max(w._manifest_counter, int(m.group(1)))
        w._instance = uuid.uuid4().hex[:8]
        return w

    # -- helpers ------------------------------------------------------------

    def _build_spec(
        self, partition_spec: list[dict[str, Any]], first_field_id: int
    ) -> list[dict[str, Any]]:
        return [
            {
                "name": p["name"],
                "transform": p["transform"],
                "source-id": self.ids[p["source"]],
                # partition field ids are unique across ALL of a table's
                # specs (Iceberg spec): later specs continue the sequence
                "field-id": first_field_id + i,
                "_source_name": p["source"],
            }
            for i, p in enumerate(partition_spec)
        ]

    def update_partition_spec(self, partition_spec: list[dict[str, Any]]) -> int:
        """Partition evolution: future snapshots write under the new spec;
        existing files keep their original spec id, and the reader prunes
        each file through ITS OWN spec's transforms
        (planner ``spec_fields_for`` resolution)."""
        next_fid = 1000 + sum(len(s) for s in self.specs)
        self.spec = self._build_spec(partition_spec, next_fid)
        self.specs.append(self.spec)
        self.current_spec_id = len(self.specs) - 1
        self._publish()
        return self.current_spec_id

    def _partition_tuple(self, row: dict[str, Any]) -> tuple:
        from daskberg_spark.iceberg.transforms import coerce_for_transform

        out = []
        for pf in self.spec:
            fn, _ = get_transform(pf["transform"])
            src = pf["_source_name"]
            # coerce to the COLUMN type so representation quirks cannot
            # split one value across partitions: Decimal('1E+2') and
            # Decimal('100.00') must transform identically under a
            # decimal(p,2) column, and an int row value on a double
            # column must hash as a double
            out.append(
                _avro_partition_value(
                    fn(coerce_for_transform(row[src], self.types.get(src)))
                )
            )
        return tuple(out)

    def _write_parquet(self, rows: list[dict[str, Any]]) -> tuple[str, int]:
        return self._write_data_file(rows, "parquet")

    def _write_data_file(
        self, rows: list[dict[str, Any]], file_format: str = "parquet"
    ) -> tuple[str, int]:
        """Write one data file in ``file_format`` (parquet/avro/orc —
        real Iceberg's data-file format set; the reference is
        parquet-only, README.md:97).  AVRO encodes through the
        from-scratch container writer per the Iceberg Avro spec
        (timestamps as long microseconds, dates as int epoch-days,
        field ids on every field); ORC via ``pyarrow.orc``."""
        self._refuse_if_poisoned()
        fmt = file_format.lower()
        if fmt not in ("parquet", "avro", "orc"):
            raise NotImplementedError(f"data file format {file_format}")
        self._file_counter += 1
        rel = f"data/{self._file_counter:05d}-{self._instance}.{fmt}"
        path = f"{self.path}/{rel}"
        arrays, names = [], []
        for f in self.fields:
            names.append(f["name"])
            # v3 write-default fills values the row omits (spec: the
            # writer, not the reader, applies write-defaults)
            wd = f.get("write-default")
            vals = [r.get(f["name"], wd) for r in rows]
            if f["type"] == "variant":
                # v3 variant: encode python values with the from-scratch
                # Variant binary encoder and store the spec's physical
                # struct<metadata, value> pair — Spark's vectorized
                # reader lifts it back to VariantType (see variant.py;
                # spark-verified by test_variant_encoding_spark_roundtrip)
                if fmt != "parquet":
                    raise NotImplementedError(
                        "variant columns are parquet-only (the v3 spec "
                        "defines no Avro/ORC physical encoding yet)"
                    )
                from daskberg_spark.iceberg.variant import encode_variant

                def as_pair(v: Any) -> tuple[bytes, bytes] | None:
                    # rewrite passthrough: rows that round-tripped
                    # through a compaction/merge arrive as the PHYSICAL
                    # {"metadata": bytes, "value": bytes} pair — re-
                    # encoding that as a variant OBJECT would silently
                    # double-encode (and lose foreign-encoded values the
                    # python codec doesn't model), so ship it verbatim.
                    # The shape is RESERVED: a user OBJECT payload with
                    # exactly these keys is indistinguishable, so the
                    # metadata header version byte is checked and a
                    # mismatch refuses LOUDLY instead of corrupting —
                    # rename the keys (or write via the cluster path)
                    # for such payloads.
                    if v is None:
                        return None
                    if (
                        isinstance(v, dict)
                        and set(v) == {"metadata", "value"}
                        and isinstance(v["metadata"], bytes)
                        and isinstance(v["value"], bytes)
                    ):
                        md = v["metadata"]
                        if not md or (md[0] & 0x0F) != 0x01:
                            raise ValueError(
                                "payload matches the reserved physical "
                                "variant pair shape {'metadata': bytes, "
                                "'value': bytes} but carries no valid "
                                "variant metadata header; rename the "
                                "object's keys to write it as a variant "
                                "OBJECT"
                            )
                        return md, v["value"]
                    return encode_variant(v)

                pairs = [as_pair(v) for v in vals]
                arrays.append(
                    pa.array(
                        [
                            None
                            if p is None
                            else {"metadata": p[0], "value": p[1]}
                            for p in pairs
                        ],
                        type=pa.struct(
                            [
                                pa.field("metadata", pa.binary(), nullable=False),
                                pa.field("value", pa.binary(), nullable=False),
                            ]
                        ),
                    )
                )
            else:
                arrays.append(pa.array(vals, type=_pa_type(f["type"])))
        # v3 lineage: rewritten rows carry explicit _row_id /
        # _last_updated_sequence_number keys — materialize them so
        # identity survives the rewrite (readers prefer materialized
        # values over first_row_id inheritance)
        for extra in LINEAGE_COLS:
            if any(extra in r for r in rows):
                names.append(extra)
                arrays.append(
                    pa.array([r.get(extra) for r in rows], type=pa.int64())
                )
        tbl = pa.table(dict(zip(names, arrays)))
        if fmt == "parquet":
            pq.write_table(tbl, path)
        elif fmt == "orc":
            import pyarrow.orc as _orc

            _orc.write_table(tbl, path)
        else:
            self._write_avro_data(tbl, path)
        return path, os.path.getsize(path)

    def _write_avro_data(self, tbl: "pa.Table", path: str) -> None:
        write_avro_data_file(self.fields, tbl, path)

    def _bounds(
        self, rows: list[dict[str, Any]]
    ) -> tuple[list, list, list, list]:
        return rows_bounds(self.fields, rows)

    # -- snapshot commits ---------------------------------------------------

    def _build_data_entries(
        self,
        rows: list[dict[str, Any]],
        snapshot_id: int,
        file_format: str = "parquet",
    ) -> list[dict[str, Any]]:
        """Write ``rows`` as data files in ``file_format`` (one per
        partition tuple) and return their ADDED manifest entries — the
        shared half of ``append``, ``upsert_rows_equality`` and
        ``merge_rows``."""
        groups: dict[tuple, list[dict[str, Any]]] = {}
        for row in rows:
            groups.setdefault(self._partition_tuple(row), []).append(row)
        entries = []
        for ptuple, grows in sorted(groups.items(), key=lambda kv: str(kv[0])):
            fpath, fsize = self._write_data_file(grows, file_format)
            lowers, uppers, nulls, nans = self._bounds(grows)
            partition = {pf["name"]: v for pf, v in zip(self.spec, ptuple)}
            entries.append(
                {
                    "status": 1,  # ADDED
                    "snapshot_id": snapshot_id,
                    "data_file": {
                        "file_path": fpath,
                        "file_format": file_format.upper(),
                        "partition": partition,
                        "record_count": len(grows),
                        "file_size_in_bytes": fsize,
                        "lower_bounds": lowers,
                        "upper_bounds": uppers,
                        "null_value_counts": nulls,
                        "nan_value_counts": nans,
                    },
                }
            )
        return entries

    def append(
        self,
        rows: list[dict[str, Any]],
        file_format: str = "parquet",
    ) -> int:
        """Append rows as a new snapshot; one data file per partition
        tuple.  ``file_format`` selects parquet (default), avro, or orc
        — real Iceberg's data-file format set; manifest stats (bounds,
        counts) are computed from the rows, so file pruning is
        format-independent."""
        snapshot_id = self._next_snapshot_id
        entries = self._build_data_entries(rows, snapshot_id, file_format)
        self._commit(snapshot_id, [(self.current_spec_id, entries)], "append")
        return snapshot_id

    def rename_column(self, old: str, new: str) -> None:
        """Schema evolution: rename a column, keeping its field id —
        Iceberg resolves columns by id, so files written under the old
        name stay readable (SURVEY §1.4).  Emits a metadata version
        immediately when the table has snapshots (real-Iceberg
        ``updateSchema().commit()`` semantics)."""
        fields = [dict(f) for f in self.schemas[self.current_schema_id]]
        for f in fields:
            if f["name"] == old:
                f["name"] = new
                break
        else:
            raise ValueError(f"no column {old!r}")
        self.schemas.append(fields)
        self.current_schema_id = len(self.schemas) - 1
        self.fields = fields
        self.types = {f["name"]: f["type"] for f in fields}
        self.ids = {f["name"]: f["id"] for f in fields}
        # ALL specs, not just the current one: drop_column's
        # partition-source guard scans every spec by _source_name, and a
        # stale old name there would let it drop a column an OLD spec
        # still sources (the table then fails to load)
        for spec in self.specs:
            for pf in spec:
                if pf["_source_name"] == old:
                    pf["_source_name"] = new
        # schema updates emit a metadata version immediately (real
        # Iceberg updateSchema().commit() semantics): readers between
        # the rename and the next data commit see the new names
        self._publish()

    def add_column(
        self, name: str, type_str: str, default: Any = None
    ) -> None:
        """Schema evolution: add a nullable column with a fresh id.

        A dotted name (``meta.rating``) adds a member INSIDE an existing
        struct column (in-struct evolution per the Iceberg spec); older
        files null-fill the new member on read.  Fresh ids come from the
        max over ALL field ids including nested leaves — top-level max
        alone would collide with struct-member ids.

        ``default`` sets the Iceberg v3 ``initial-default`` /
        ``write-default`` (JSON single-value serialization): files
        written BEFORE the column existed read the default instead of
        null — the spec's mechanism for adding a column with a
        backfilled value at zero data IO.  Top-level columns only."""
        import copy

        fields = copy.deepcopy(self.schemas[self.current_schema_id])
        # fresh ids come from the max over ALL historical schemas, not
        # just the current one: after drop_column the dropped id is
        # absent from the current schema but must NEVER be reused (old
        # files' bytes would resurrect under the recycled id)
        new_id = max(_max_field_id(s) for s in self.schemas) + 1
        if "." in name:
            if default is not None:
                raise ValueError(
                    "initial-default supports top-level columns only"
                )
            parent_path, leaf = name.rsplit(".", 1)
            node = {"fields": fields}
            for seg in parent_path.split("."):
                match = [
                    f for f in node["fields"]
                    if f["name"] == seg
                    and isinstance(f["type"], dict)
                    and f["type"]["type"] == "struct"
                ]
                if not match:
                    raise ValueError(f"no struct column {parent_path!r}")
                node = match[0]["type"]
            node["fields"].append(
                {"id": new_id, "name": leaf, "type": type_str, "required": False}
            )
        else:
            fld = {
                "id": new_id,
                "name": name,
                "type": type_str,
                "required": False,
            }
            if default is not None:
                fld["initial-default"] = default
                fld["write-default"] = default
            fields.append(fld)
        self.schemas.append(fields)
        self.current_schema_id = len(self.schemas) - 1
        self.fields = fields
        self.types = {f["name"]: f["type"] for f in fields}
        self.ids = {f["name"]: f["id"] for f in fields}
        self._publish()

    def update_column_type(self, name: str, new_type: str) -> None:
        """Schema evolution: widen a column's type — the spec's legal
        promotions only (``int``→``long``, ``float``→``double``, and
        decimal precision widening at the same scale).  Files written
        under the narrower type keep their bytes; the scan casts each
        file group up to the current type, and bound decoding tolerates
        the narrower stat bytes (pruning stays correct)."""
        import re as _re

        old = self.types.get(name)
        if old is None:
            raise ValueError(f"no column {name!r}")
        dec = _re.compile(r"decimal\(\s*(\d+)\s*,\s*(\d+)\s*\)")
        mo, mn = dec.fullmatch(old or ""), dec.fullmatch(new_type)
        legal = (old, new_type) in {("int", "long"), ("float", "double")} or (
            mo
            and mn
            and mo.group(2) == mn.group(2)
            and int(mn.group(1)) >= int(mo.group(1))
        )
        if not legal:
            raise ValueError(
                f"illegal type promotion {old!r} -> {new_type!r} (spec "
                "allows int->long, float->double, decimal precision "
                "widening at the same scale)"
            )
        fields = [dict(f) for f in self.schemas[self.current_schema_id]]
        for f in fields:
            if f["name"] == name:
                f["type"] = new_type
        self.schemas.append(fields)
        self.current_schema_id = len(self.schemas) - 1
        self.fields = fields
        self.types = {f["name"]: f["type"] for f in fields}
        self.ids = {f["name"]: f["id"] for f in fields}
        self._publish()

    def drop_column(self, name: str) -> None:
        """Schema evolution: drop a top-level column (new schema id; the
        field id is never reused, per spec).  Files written with the
        column keep their bytes — the scan projects it away; dropping a
        partition-spec source column is refused (the spec would dangle)."""
        if name not in self.types:
            raise ValueError(f"no column {name!r}")
        if any(
            pf["_source_name"] == name for spec in self.specs for pf in spec
        ):
            raise ValueError(
                f"{name!r} is a partition-spec source column; evolve the "
                "spec away from it first"
            )
        fields = [
            dict(f)
            for f in self.schemas[self.current_schema_id]
            if f["name"] != name
        ]
        self.schemas.append(fields)
        self.current_schema_id = len(self.schemas) - 1
        self.fields = fields
        self.types = {f["name"]: f["type"] for f in fields}
        self.ids = {f["name"]: f["id"] for f in fields}
        self._publish()

    def delete_rows_equality(
        self,
        keys: list[dict[str, Any]],
        partition: dict[str, Any] | None = None,
    ) -> int:
        """v2 equality-delete snapshot: rows matching ANY of the key dicts
        (all dicts over the same column subset) are deleted on read.

        Sequence-correct applicability: on read, the delete applies only
        to data files added by earlier snapshots — a matching row
        re-inserted later stays live (scan._read_with_deletes).

        ``partition`` (spec-field-name → transformed value) writes a
        PARTITION-SCOPED delete — what Flink's upsert writer emits on
        partitioned tables: it applies only to data files in that
        partition, so a same-keyed row in another partition survives.
        Default (None/empty) stays a global delete."""
        snapshot_id = self._next_snapshot_id
        entry = self._build_eq_delete_entry(keys, snapshot_id, partition)
        spec_id = (
            self.current_spec_id if partition else self._global_delete_spec_id()
        )
        self._commit(snapshot_id, [(spec_id, [entry])], "delete")
        return snapshot_id

    def _global_delete_spec_id(self) -> int:
        """Spec id for GLOBAL delete manifests: per the Iceberg spec a
        delete under a partitioned spec is scoped to its partition, so a
        global equality delete must be written through an UNPARTITIONED
        spec — registered on first use (spec-compliant foreign readers
        then apply it globally; the scan's all-None back-compat rule
        keeps tables written before this change reading correctly)."""
        if not self.spec:
            return self.current_spec_id
        for i, sp in enumerate(self.specs):
            if not sp:
                return i
        self.specs.append([])
        return len(self.specs) - 1

    def _build_eq_delete_entry(
        self,
        keys: list[dict[str, Any]],
        snapshot_id: int,
        partition: dict[str, Any] | None = None,
    ) -> dict[str, Any]:
        """Write an equality-delete parquet for ``keys`` and return its
        ADDED (content=2) manifest entry — shared by
        ``delete_rows_equality`` and ``upsert_rows_equality``.
        ``partition`` (spec-field-name → transformed value) scopes the
        delete to one partition; empty/None is a global delete."""
        if not keys:
            raise ValueError("no delete keys")
        if partition:
            # a misnamed key would serialize as all-None and silently
            # turn the scoped delete GLOBAL (cross-partition data loss)
            spec_names = {pf["name"] for pf in self.spec}
            bad = set(partition) - spec_names
            if bad:
                raise ValueError(
                    f"unknown partition field(s) {sorted(bad)}; current "
                    f"spec fields: {sorted(spec_names)}"
                )
            if any(v is None for v in partition.values()) and (
                self.properties.get("daskberg.legacy-global-eq-deletes")
                == "true"
            ):
                # only under the legacy opt-in is an all-None tuple read
                # as GLOBAL; the default spec-compliant rule scopes it
                # to the NULL-valued partition, so NULL scopes are fine
                raise ValueError(
                    "NULL partition values are indistinguishable from a "
                    "global delete under daskberg.legacy-global-eq-deletes; "
                    "use a global delete or a non-null scope"
                )
        cols = sorted(keys[0])
        if any(sorted(k) != cols for k in keys):
            raise ValueError("all key dicts must share the same columns")
        self._file_counter += 1
        rel = f"data/eq-delete-{self._file_counter:05d}-{self._instance}.parquet"
        path = f"{self.path}/{rel}"
        arrays = {
            c: pa.array([k[c] for k in keys], type=_pa_type(self.types[c]))
            for c in cols
        }
        pq.write_table(pa.table(arrays), path)
        self._format_version = max(self._format_version, 2)
        return {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 2,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": dict(partition or {}),
                "record_count": len(keys),
                "file_size_in_bytes": os.path.getsize(path),
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": [self.ids[c] for c in cols],
            },
        }

    def upsert_rows_equality(
        self,
        rows: list[dict[str, Any]],
        on: list[str] | None = None,
    ) -> int:
        """Blind equality-delete UPSERT — the Flink-CDC write shape
        (one ``overwrite`` snapshot carrying an equality-delete file on
        the row identity PLUS the batch's data files; real Iceberg's
        streaming-upsert writers commit exactly this pair per
        checkpoint).  Beyond the reference (read-only, ``README.md:94``).

        Unlike ``upsert_spark`` (merge-on-read via DVs, which must SCAN
        the target to locate matched row positions), this path never
        reads the table: matched old rows die by the equality delete —
        which applies only to data files with strictly OLDER data
        sequence numbers, so the same commit's data files survive — and
        new keys simply insert.  Write cost is O(batch) regardless of
        table size, the property a CDC stream needs at 100 TB; the
        read-side merge cost accrues until ``convert_deletes_to_dvs`` /
        compaction folds the deletes down.

        The key is ``on`` or the schema's declared identifier fields
        (``set_identifier_fields``); no key → raise, never guess.
        Duplicate keys inside one batch collapse to the LAST occurrence
        (changelog order); a null key value raises.  Returns the
        snapshot id."""
        if not rows:
            raise ValueError("no upsert rows")
        key = _resolve_merge_key(self, on)
        deduped: dict[tuple, dict[str, Any]] = {}
        for r in rows:
            k = tuple(r.get(c) for c in key)
            if any(v is None for v in k):
                raise ValueError(f"null key value in upsert row: {r!r}")
            deduped[k] = r  # last occurrence wins (changelog order)
        snapshot_id = self._next_snapshot_id
        delete_entry = self._build_eq_delete_entry(
            [dict(zip(key, k)) for k in sorted(deduped, key=str)],
            snapshot_id,
        )
        data_entries = self._build_data_entries(
            list(deduped.values()), snapshot_id
        )
        self._commit(
            snapshot_id,
            [
                (self._global_delete_spec_id(), [delete_entry]),
                (self.current_spec_id, data_entries),
            ],
            "overwrite",
            extra_summary={"upsert-keys": ",".join(key)},
        )
        return snapshot_id

    def delete_rows_position(self, deletes: list[tuple[str, int]]) -> int:
        """v2 position-delete snapshot: (data file path, row ordinal)
        pairs removed on read; inherently sequence-correct since the
        target file is named explicitly."""
        if not deletes:
            raise ValueError("no position deletes")
        self._file_counter += 1
        rel = f"data/pos-delete-{self._file_counter:05d}-{self._instance}.parquet"
        path = f"{self.path}/{rel}"
        pq.write_table(
            pa.table(
                {
                    "file_path": pa.array([d[0] for d in deletes], pa.string()),
                    "pos": pa.array([d[1] for d in deletes], pa.int64()),
                }
            ),
            path,
        )
        self._format_version = 2
        snapshot_id = self._next_snapshot_id
        entry = {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 1,
                "file_path": path,
                "file_format": "PARQUET",
                "partition": {},
                "record_count": len(deletes),
                "file_size_in_bytes": os.path.getsize(path),
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
            },
        }
        self._commit(snapshot_id, [(self.current_spec_id, [entry])], "delete")
        return snapshot_id

    def delete_positions_dv(self, positions_by_file: dict[str, list[int]]) -> int:
        """v3 deletion-vector snapshot: one Puffin file holding a
        ``deletion-vector-v1`` roaring-bitmap blob per target data file,
        committed as content=1 delete entries carrying
        ``referenced_data_file`` + the blob's byte range (spec field ids
        143-145).  The v3 replacement for position-delete parquet: at
        most one DV per data file, O(1) blobs to open per scan instead
        of O(delete-commits) files, and bitmap bytes (~2 bytes/row dense)
        instead of (path, pos) rows.  Upgrades the table to
        format-version 3."""
        from daskberg_spark.iceberg.puffin import dv_blob

        if not positions_by_file:
            raise ValueError("no deletion vectors")
        dvs = []
        for target in sorted(positions_by_file):
            positions = sorted(set(positions_by_file[target]))
            dvs.append((target, dv_blob(positions), len(positions)))
        snapshot_id = self._next_snapshot_id
        entries = _dv_manifest_entries(self, dvs, snapshot_id)
        return _commit_dv_snapshot(self, snapshot_id, entries)

    def delete_files(self, predicate) -> int:
        """New snapshot with DELETED entries for files whose *entry* matches
        ``predicate(data_file_record) -> bool`` (status reconciliation path,
        reference ice.py:191-204)."""
        snapshot_id = self._next_snapshot_id
        self._commit_removing(
            snapshot_id, lambda e, _mf: predicate(e["data_file"]), [], "delete"
        )
        return snapshot_id

    def _commit_removing(
        self,
        snapshot_id: int,
        hit,
        groups: list[Group],
        operation: str,
        extra_summary: dict[str, str] | None = None,
    ) -> None:
        """``_commit`` the new ``groups`` and remove the live entries
        matching ``hit`` (``_tombstone_rewrite``); the tombstones follow
        ``groups``."""
        carried, hits_by_spec = self._tombstone_rewrite(hit, snapshot_id)
        self._commit(
            snapshot_id,
            groups + _tombstones(hits_by_spec, snapshot_id),
            operation,
            carried,
            extra_summary,
        )

    def _tombstone_rewrite(
        self, hit, snapshot_id: int
    ) -> tuple[list[dict[str, Any] | Group], dict[int, list[Located]]]:
        """Plan the removal of the live entries matching ``hit(entry,
        manifest)`` WITHOUT committing — the one removal path of every
        writer commit: returns (carried manifests for ``_commit``,
        spec_id → hit ``(entry, manifest)`` pairs).  ``hit`` is called
        exactly once per entry whose key is live under the census
        (``_live_entries``), so a DELETED tombstone or an entry a later
        tombstone supersedes is never a hit.  A manifest holding a hit
        is carried as a group of its other entries (``_carry``), which
        ``_commit`` rewrites in its place; untouched manifests pass
        through, so the tombstone-only manifest ``_commit`` drops one
        snapshot later cannot resurrect a hit.  Callers turn the hits
        into tombstones (``_tombstones``) or, for a migration, into
        re-registered entries."""
        data, deletes, loaded = _live_entries(self)
        live = {"data": data, "delete": deletes}
        carried: list[dict[str, Any] | Group] = []
        hits_by_spec: dict[int, list[Located]] = {}
        for mf, entries in loaded:
            hits, kept = [], []
            for e in entries:
                kind, key = _entry_key(e["status"], e["data_file"])
                is_hit = key in live.get(kind, ()) and hit(e, mf)
                (hits if is_hit else kept).append(e)
            if not hits:
                carried.append(mf)
                continue
            mf_spec = mf.get("partition_spec_id", 0)
            hits_by_spec.setdefault(mf_spec, []).extend((e, mf) for e in hits)
            if kept:
                carried.append((mf_spec, [_carry(e, mf) for e in kept]))
        return carried, hits_by_spec

    def merge_rows(
        self, updates: list[dict[str, Any]], key_cols: list[str]
    ) -> int:
        """Copy-on-write MERGE (upsert) as ONE ``overwrite`` snapshot:
        data files containing a matching key are rewritten with the update
        applied ({**row, **update} — unnamed columns keep their values),
        their originals tombstoned; update rows matching no existing key
        are appended.  Untouched files carry forward unchanged, so write
        amplification is bounded by the matched-file set — the
        copy-on-write trade (zero read-time overhead) vs the merge-on-read
        alternative already provided by ``delete_rows_equality`` +
        ``append``.

        Rewritten rows are regrouped by partition tuple, so an update that
        moves a row across partitions lands in the right partition with
        correct metadata.  The driver-side rewrite is the test-scale path;
        a cluster runs the same rewrite as a Spark job over exactly the
        matched files and commits through this metadata layer
        (``commit_spark_output`` analogue)."""
        if not updates:
            raise ValueError("no update rows")
        for c in key_cols:
            if c not in self.types:
                raise ValueError(f"unknown key column {c!r}")
        ups_by_key = {tuple(u[c] for c in key_cols): u for u in updates}
        if len(ups_by_key) != len(updates):
            raise ValueError("duplicate keys in updates")
        snapshot_id = self._next_snapshot_id
        # Live v2 deletes must be APPLIED to any file being rewritten —
        # the rewritten file commits under the NEW snapshot, after which
        # older equality deletes stop applying to it on read; without
        # this, merging a file holding deleted rows resurrects them.
        eq_deletes, pos_pairs = _live_deletes(self)
        new_rows: list[dict[str, Any]] = []
        matched: set[tuple] = set()

        def rewrite(e: dict[str, Any], mf: dict[str, Any]) -> bool:
            # the hit test reads the file's live rows and, on a key
            # match, stages its rewrite: called once per live entry
            df_rec = e["data_file"]
            if df_rec.get("content", 0) in (1, 2):
                return False
            rows = _live_file_rows(
                e,
                eq_deletes,
                pos_pairs,
                [f["name"] for f in self.fields],
                file_key=_order_key(e, mf),
                # rewrites must not re-key v3 row identity (the
                # spark CoW/MOR twins and compaction all carry it)
                carry_lineage=True,
                file_seq=_entry_seq(e, mf),
                file_part=_part_scope_key(df_rec, mf, self.specs, self.properties),
            )
            if rows is None:
                raise NotImplementedError(
                    "cannot merge a schema-drifted data file "
                    f"({df_rec['file_path']})"
                )
            if not any(tuple(r.get(c) for c in key_cols) in ups_by_key for r in rows):
                return False
            for r in rows:
                k = tuple(r.get(c) for c in key_cols)
                if k in ups_by_key:
                    matched.add(k)
                    # identity (_row_id) survives the update; the
                    # carried last-updated sequence is dropped so
                    # the reader inherits THIS commit's sequence
                    r = {**r, **ups_by_key[k]}
                    r.pop("_last_updated_sequence_number", None)
                new_rows.append(r)
            return True

        carried, hits_by_spec = self._tombstone_rewrite(rewrite, snapshot_id)
        # unmatched updates are inserts
        for k, u in ups_by_key.items():
            if k not in matched:
                missing = [c for c in self.types if c not in u]
                new_rows.append({**{c: None for c in missing}, **u})
        self._commit(
            snapshot_id,
            [
                (self.current_spec_id, self._build_data_entries(new_rows, snapshot_id)),
                *_tombstones(hits_by_spec, snapshot_id),
            ],
            "overwrite",
            carried,
        )
        return snapshot_id

    def set_identifier_fields(self, cols: list[str]) -> None:
        """Declare the schema's ``identifier-field-ids`` (Iceberg spec
        "Identifier Field IDs" — the SQL PRIMARY KEY analogue): the
        columns that identify a row across updates.  ``upsert_spark``
        uses them as its default merge key.

        Spec validation: every field must exist, be ``required``, and
        not be float/double (NaN makes identity undefined).  Emits a
        metadata version immediately when the table has snapshots, like
        the other schema updates."""
        if not cols:
            raise ValueError("no identifier columns")
        ids = []
        for c in cols:
            f = next((f for f in self.fields if f["name"] == c), None)
            if f is None:
                raise ValueError(f"unknown identifier column {c!r}")
            t = f["type"]
            if isinstance(t, str) and t in ("float", "double"):
                raise ValueError(
                    f"identifier field {c!r} cannot be {t} (spec: NaN "
                    "makes row identity undefined)"
                )
            if not isinstance(t, str):
                raise ValueError(
                    f"identifier field {c!r} must be a primitive type"
                )
            if not f.get("required"):
                raise ValueError(
                    f"identifier field {c!r} must be required (spec rule; "
                    "re-create the column as required)"
                )
            ids.append(f["id"])
        self.identifier_field_ids = ids
        self._publish()

    def set_sort_order(self, cols: list[str | tuple[str, str]]) -> int:
        """Register a sort order over ``cols`` (name, or (name, "asc"/
        "desc")) and make it the default for future metadata.  Spec
        shape: identity transform, nulls-first for asc / nulls-last for
        desc (Iceberg defaults).  Returns the new order id."""
        fields = []
        for c in cols:
            name, direction = (c, "asc") if isinstance(c, str) else c
            if name not in self.ids:
                raise ValueError(f"unknown sort column {name!r}")
            if direction not in ("asc", "desc"):
                raise ValueError(f"bad direction {direction!r}")
            fields.append(
                {
                    "transform": "identity",
                    "source-id": self.ids[name],
                    "direction": direction,
                    "null-order": "nulls-first" if direction == "asc" else "nulls-last",
                }
            )
        order_id = max(o["order-id"] for o in self.sort_orders) + 1
        self.sort_orders.append({"order-id": order_id, "fields": fields})
        self.default_sort_order_id = order_id
        self._publish()
        return order_id

    def set_properties(self, props: dict[str, str]) -> None:
        """Set/overwrite table properties (Iceberg metadata ``properties``
        map — write configs, retention policies, engine hints).  Emits a
        new metadata version immediately when the table has snapshots;
        otherwise the properties ride out with the first commit."""
        self.properties.update({str(k): str(v) for k, v in props.items()})
        self._publish()

    def set_ref(
        self,
        name: str,
        ref_type: str = "tag",
        snapshot_id: int | None = None,
        max_ref_age_ms: int | None = None,
        min_snapshots_to_keep: int | None = None,
        max_snapshot_age_ms: int | None = None,
    ) -> None:
        """Create/update a named ref (branch or tag) pointing at
        ``snapshot_id`` (default: current head).  Tags pin a snapshot for
        retention ("the corpus release we trained on"); branches are
        movable heads.  Readers resolve via
        ``IcebergTable.open_snapshot(ref=...)``.

        The three optional knobs are the spec's per-ref retention fields
        (``max-ref-age-ms`` on either kind; ``min-snapshots-to-keep`` /
        ``max-snapshot-age-ms`` on branches only), persisted verbatim in
        the metadata ``refs`` map and surfaced by ``refs_df``."""
        if ref_type not in ("tag", "branch"):
            raise ValueError("ref_type must be 'tag' or 'branch'")
        if name == "main":
            raise ValueError("'main' is managed automatically")
        if ref_type == "tag" and (
            min_snapshots_to_keep is not None or max_snapshot_age_ms is not None
        ):
            raise ValueError(
                "min_snapshots_to_keep / max_snapshot_age_ms apply to "
                "branches only (Iceberg spec refs map)"
            )
        if not self.snapshots:
            raise ValueError("no snapshot to reference")
        if snapshot_id is None:
            snapshot_id = self.head_snapshot["snapshot-id"]
        elif snapshot_id not in {s["snapshot-id"] for s in self.snapshots}:
            raise ValueError(f"unknown snapshot {snapshot_id}")
        ref: dict[str, Any] = {"snapshot-id": snapshot_id, "type": ref_type}
        if max_ref_age_ms is not None:
            ref["max-ref-age-ms"] = int(max_ref_age_ms)
        if min_snapshots_to_keep is not None:
            ref["min-snapshots-to-keep"] = int(min_snapshots_to_keep)
        if max_snapshot_age_ms is not None:
            ref["max-snapshot-age-ms"] = int(max_snapshot_age_ms)
        self.refs[name] = ref
        self._publish()

    def drop_ref(self, name: str) -> None:
        if name not in self.refs:
            raise ValueError(f"no such ref {name!r}")
        del self.refs[name]
        self._publish()

    # -- metadata emission --------------------------------------------------

    def _write_manifest(
        self, entries: list[dict[str, Any]], snapshot_id: int, spec_id: int
    ) -> dict[str, Any]:
        """Write one manifest of ``entries`` (``_commit``'s layout is the
        only caller).  ``spec_id`` is the partition spec the entries'
        partition records follow — rewrites of pre-evolution manifests
        keep their ORIGINAL spec, or partition values decode under the
        wrong fields."""
        self._refuse_if_poisoned()
        spec = self.specs[spec_id]
        # v3 row lineage: every ADDED data file claims the next
        # [_next_row_id, +record_count) id block.  EXISTING/DELETED
        # entries (and entries re-serialized from loaded manifests) keep
        # whatever they already carry; delete files never get one.
        for e in entries:
            rec = e["data_file"]
            if (
                e["status"] == 1
                and rec.get("content", 0) == 0
                and rec.get("first_row_id") is None
            ):
                rec["first_row_id"] = self._next_row_id
                self._next_row_id += int(rec.get("record_count") or 0)
        self._manifest_counter += 1
        name = f"manifest-{snapshot_id}-{self._manifest_counter:04d}-{self._instance}.avro"
        path = f"{self.path}/metadata/{name}"
        schema = _manifest_entry_schema(spec, self.types)
        write_avro_file(path, schema, entries)

        # partition summaries (transformed space) for manifest-list pruning
        summaries = []
        for i, pf in enumerate(spec):
            rtype = transform_result_type(pf["transform"], self.types[pf["_source_name"]])
            vals = [
                e["data_file"]["partition"].get(pf["name"])
                for e in entries
                if e["status"] != 2
            ]
            non_null = [v for v in vals if v is not None]
            summaries.append(
                {
                    "contains_null": any(v is None for v in vals),
                    "lower_bound": encode_bound(min(non_null), rtype) if non_null else None,
                    "upper_bound": encode_bound(max(non_null), rtype) if non_null else None,
                }
            )
        n_added = sum(1 for e in entries if e["status"] == 1)
        n_existing = sum(1 for e in entries if e["status"] == 0)
        n_deleted = sum(1 for e in entries if e["status"] == 2)

        def _this_commit(e: dict[str, Any]) -> bool:
            # survivor entries re-serialized into a rewrite's manifest
            # keep their ORIGINAL adding snapshot id — only entries of
            # THIS snapshot are commit deltas
            return e.get("snapshot_id") in (None, snapshot_id)

        def _agg(status: int, contents: tuple, field: str | None = None) -> int:
            # sum of ``field`` (the entry count when None) over this
            # commit's entries of ``status`` and content kind
            return sum(
                int(e["data_file"].get(field) or 0) if field else 1
                for e in entries
                if e["status"] == status
                and _this_commit(e)
                and e["data_file"].get("content", 0) in contents
            )

        # per-content commit deltas for the snapshot summary (real
        # Iceberg's SnapshotSummary fields) — private keys, never
        # serialized (the Avro writer emits schema fields only)
        summary_delta = {
            "added-data-files": _agg(1, (0,)),
            "added-delete-files": _agg(1, (1, 2)),
            "deleted-data-files": _agg(2, (0,)),
            "removed-delete-files": _agg(2, (1, 2)),
            "added-records": _agg(1, (0,), "record_count"),
            "deleted-records": _agg(2, (0,), "record_count"),
            # real Iceberg's SnapshotSummary row censuses for delete
            # files: positions (incl. DV cardinalities — record_count is
            # the spec's cardinality field for DVs) and equality keys.
            # The stats refresh uses them to bound how many rows a
            # delete-only window can have killed.
            "added-position-deletes": _agg(1, (1,), "record_count"),
            "added-equality-deletes": _agg(1, (2,), "record_count"),
            "added-files-size": _agg(1, (0, 1, 2), "file_size_in_bytes"),
            "removed-files-size": _agg(2, (0, 1, 2), "file_size_in_bytes"),
        }
        return {
            "_summary": summary_delta,
            "manifest_path": path,
            "manifest_length": os.path.getsize(path),
            "partition_spec_id": spec_id,
            # sequence_number is allocated by _commit (one per commit);
            # min_sequence_number starts from the oldest EXISTING entry
            # carried in, and _commit folds the new commit's sequence in.
            "sequence_number": None,
            "min_sequence_number": min(
                (
                    e["sequence_number"]
                    for e in entries
                    if e.get("sequence_number") is not None
                ),
                default=None,
            ),
            "added_snapshot_id": snapshot_id,
            "added_data_files_count": n_added,
            "existing_data_files_count": n_existing,
            "deleted_data_files_count": n_deleted,
            "partitions": summaries,
            "added_rows_count": sum(
                e["data_file"]["record_count"] for e in entries if e["status"] == 1
            ),
            "existing_rows_count": 0,
            "deleted_rows_count": 0,
        }

    @property
    def head_snapshot(self) -> dict[str, Any] | None:
        """The current-head snapshot record: ``head_id`` when a rollback
        repointed it, else the newest commit."""
        if self.head_id is not None:
            for s in self.snapshots:
                if s["snapshot-id"] == self.head_id:
                    return s
        return self.snapshots[-1] if self.snapshots else None

    def _commit(
        self,
        snapshot_id: int,
        groups: list[Group],
        operation: str,
        manifests: list[dict[str, Any] | Group] | None = None,
        extra_summary: dict[str, str] | None = None,
    ) -> None:
        """Commit one ``operation`` snapshot — the one manifest layout of
        every writer commit.  Each ``(spec id, entries)`` group of new
        entries becomes manifests of at most ``MANIFEST_ENTRIES`` entries
        under its own spec, listed after the carried ``manifests``
        (default ``self.manifests``), whose groups — manifests that
        ``_tombstone_rewrite`` rewrote — are written in place the same
        way.  A commit adding no entry writes one empty manifest."""
        carried = self.manifests if manifests is None else manifests
        groups = [g for g in groups if g[1]] or [(self.current_spec_id, [])]
        manifests = []
        for item in [*carried, *groups]:
            if isinstance(item, dict):
                manifests.append(item)
                continue
            spec_id, entries = item
            manifests += [
                self._write_manifest(
                    entries[i : i + MANIFEST_ENTRIES], snapshot_id, spec_id=spec_id
                )
                for i in range(0, max(len(entries), 1), MANIFEST_ENTRIES)
            ]
        # Drop DELETED-tombstone-only manifests created by PRIOR snapshots:
        # real Iceberg keeps delete tombstones for exactly one snapshot
        # (incremental consumers read them there), after which they are
        # stale — carrying them forward makes every scan reprocess them
        # and would wrongly tombstone a re-added file path.
        def _keeps_files(m: dict[str, Any]) -> bool:
            # foreign manifest lists may store explicit NULL counts
            # (nullable per the v1 spec): unknown means KEEP — treating
            # None as 0 (or comparing None > 0, which raises) would
            # drop a manifest that still carries live files
            a = m.get("added_data_files_count")
            e = m.get("existing_data_files_count")
            if a is None and e is None:
                return True
            return (a or 0) > 0 or (e or 0) > 0

        manifests = [
            m
            for m in manifests
            if m.get("added_snapshot_id") == snapshot_id or _keeps_files(m)
        ]
        # Allocate this commit's data sequence number and stamp the
        # manifests written by it (sequence_number still None); carried
        # manifests keep the sequence of the commit that wrote them.
        seq = self._last_sequence_number + 1
        for m in manifests:
            if m.get("sequence_number") is None:
                if m.get("added_snapshot_id") == snapshot_id:
                    mmin = m.get("min_sequence_number")
                    m["sequence_number"] = seq
                    m["min_sequence_number"] = (
                        seq if mmin is None else min(mmin, seq)
                    )
                else:
                    # carried sequence-less manifest: v1-era metadata that
                    # bypassed load()'s assignment — the upgrade rule reads
                    # it at 0, never at THIS commit's sequence (which would
                    # tie an old delete to its older target data files)
                    m["sequence_number"] = 0
                    if m.get("min_sequence_number") is None:
                        m["min_sequence_number"] = 0
        self._last_sequence_number = seq
        ml_name = f"snap-{snapshot_id}-{self._instance}-{self.version + 1}.avro"
        ml_path = f"{self.path}/metadata/{ml_name}"
        write_avro_file(ml_path, _MANIFEST_FILE_SCHEMA, manifests)
        self.manifests = manifests

        self._next_snapshot_id = snapshot_id + 1
        head = self.head_snapshot
        parent = head["snapshot-id"] if head else None
        # SnapshotSummary parity: exact per-content commit deltas from
        # this commit's freshly-written manifests (annotated by
        # _write_manifest), plus running table totals — real engines
        # read these for costless stats.  Totals stop being emitted if
        # the running state was ever invalidated (rollback, or loading
        # a table whose head summary lacks them).
        commit_summary: dict[str, str] = {}
        deltas = [
            m["_summary"]
            for m in manifests
            if m.get("added_snapshot_id") == snapshot_id and "_summary" in m
        ]
        if deltas:
            agg = {k: sum(d[k] for d in deltas) for k in deltas[0]}
            commit_summary = {k: str(v) for k, v in agg.items()}
            if self._totals is not None:
                self._totals["total-data-files"] += (
                    agg["added-data-files"] - agg["deleted-data-files"]
                )
                self._totals["total-delete-files"] += (
                    agg["added-delete-files"] - agg["removed-delete-files"]
                )
                self._totals["total-records"] += (
                    agg["added-records"] - agg["deleted-records"]
                )
                self._totals["total-files-size"] += (
                    agg["added-files-size"] - agg["removed-files-size"]
                )
                commit_summary.update(
                    {k: str(v) for k, v in self._totals.items()}
                )
        snap = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": 1700000000000 + snapshot_id,
            "manifest-list": ml_path,
            "schema-id": self.current_schema_id,
            "summary": {
                "operation": operation,
                **commit_summary,
                **(extra_summary or {}),
            },
        }
        if parent is not None:
            snap["parent-snapshot-id"] = parent
        self.snapshots.append(snap)
        # the new commit becomes the head (clears any rollback repoint);
        # a WAP pin, if set, keeps current-snapshot-id at the pin
        self.head_id = None

        self._publish()

    def _publish_hint(self, version: int) -> None:
        """Atomically point ``version-hint.text`` at ``version`` — the
        single publication act every reader discovers state through."""
        hint_tmp = f"{self.path}/metadata/.version-hint.{version}.tmp"
        with open(hint_tmp, "w") as f:
            f.write(str(version))
        os.replace(hint_tmp, f"{self.path}/metadata/version-hint.text")

    def _refuse_if_poisoned(self) -> None:
        """Raise ``RuntimeError`` if this handle is POISONED: it lost the
        link race (or was aborted in a Transaction), so its in-memory
        state is ahead of the published table.  ``_publish`` calls it so
        no later version links over the winner's commit, and the data
        file and manifest writers call it first so a refused driver-side
        commit writes nothing."""
        if self._poisoned:
            raise RuntimeError(
                f"{self.path} writer {self._poisoned}; its in-memory state "
                "is ahead of the published table — reload with "
                "IcebergWriter.load"
            )

    def _publish(self) -> None:
        """Emit the current state as the next metadata version — the one
        commit seam every metadata change goes through: version bump,
        v{N}.metadata.json written once and linked, hint flip (or
        Transaction staging) and metadata-log entry.  With no snapshot
        yet it emits nothing; the state rides out with the first commit.
        A poisoned handle refuses (:meth:`_refuse_if_poisoned`)."""
        self._refuse_if_poisoned()
        if not self.snapshots:
            return
        self.version += 1
        last = self.head_snapshot
        # snapshot-log holds only the HEAD's lineage (reference Iceberg
        # truncates entries that leave the current branch on rollback, so
        # FOR TIMESTAMP AS OF never resolves to a rolled-past snapshot);
        # stranded snapshots stay in ``snapshots`` — time-travelable by
        # id until expiry — just not in the log.
        by_id = {s["snapshot-id"]: s for s in self.snapshots}
        lineage: list[dict[str, Any]] = []
        cur: dict[str, Any] | None = last
        while cur is not None:
            lineage.append(cur)
            cur = by_id.get(cur.get("parent-snapshot-id"))
        lineage.reverse()
        meta = {
            # format-version 2 only once row-level delete files exist; the
            # plain append/delete-files subset stays a valid v1 table
            "format-version": self._format_version,
            "table-uuid": self.table_uuid,
            "location": self.path,
            "last-sequence-number": self._last_sequence_number,
            # v3 row lineage: next _row_id to allocate (readers on lower
            # format versions ignore unknown keys per spec)
            "next-row-id": self._next_row_id,
            # the internal WAP marker lets load() distinguish a staging
            # pin from a rollback repoint (both park current-snapshot-id
            # behind the newest commit); foreign readers ignore unknown
            # properties per spec
            "properties": (
                {**self.properties, "daskberg.wap-pin": str(self.main_pin)}
                if self.main_pin is not None
                else self.properties
            ),
            "last-updated-ms": last["timestamp-ms"],
            # max over ALL schemas: last-column-id never decreases (spec),
            # and a dropped column's id stays retired
            "last-column-id": max(_max_field_id(s) for s in self.schemas),
            "schemas": [
                {
                    "type": "struct",
                    "schema-id": i,
                    "fields": fields,
                    # identity declaration rides the CURRENT schema (the
                    # one it was validated against); older schemas may
                    # predate the identified columns
                    **(
                        {"identifier-field-ids": self.identifier_field_ids}
                        if self.identifier_field_ids
                        and i == self.current_schema_id
                        else {}
                    ),
                }
                for i, fields in enumerate(self.schemas)
            ],
            "current-schema-id": self.current_schema_id,
            "partition-specs": [
                {
                    "spec-id": i,
                    "fields": [
                        {k: v for k, v in pf.items() if not k.startswith("_")}
                        for pf in spec
                    ],
                }
                for i, spec in enumerate(self.specs)
            ],
            "default-spec-id": self.current_spec_id,
            "partition-spec": [
                {k: v for k, v in pf.items() if not k.startswith("_")} for pf in self.spec
            ],
            # spec-shape completeness (real Spark-written tables carry
            # these; see the golden v5.metadata.json): highest assigned
            # partition field id, the (unsorted) sort order, and the
            # history logs — snapshot-log derived from live snapshots so
            # expiry drops its entries per spec
            "last-partition-id": max(
                (pf["field-id"] for spec in self.specs for pf in spec),
                default=999,
            ),
            "sort-orders": self.sort_orders,
            "default-sort-order-id": self.default_sort_order_id,
            "snapshot-log": [
                {"snapshot-id": s["snapshot-id"], "timestamp-ms": s["timestamp-ms"]}
                for s in lineage
            ],
            "metadata-log": self._metadata_log,
            "statistics": self.statistics,
            "partition-statistics": self.partition_statistics,
            "current-snapshot-id": (
                self.main_pin if self.main_pin is not None else last["snapshot-id"]
            ),
            "snapshots": self.snapshots,
            # Iceberg refs map: named branches/tags plus the implicit main
            # branch tracking the head (spec v2 §Table Metadata "refs") —
            # or the WAP pin while commits are staged
            "refs": {
                **self.refs,
                "main": {
                    "snapshot-id": (
                        self.main_pin
                        if self.main_pin is not None
                        else last["snapshot-id"]
                    ),
                    "type": "branch",
                },
            },
        }
        # Optimistic concurrency (Iceberg commit protocol): each metadata
        # version is written exactly once; losing a race to v{N} means a
        # concurrent writer committed first — surface it instead of
        # silently clobbering their snapshot.  Write-complete-then-link:
        # the JSON is fully written to a temp name first, and os.link
        # both publishes it ATOMICALLY (no reader can observe a
        # half-written metadata file via the directory scan) and keeps
        # the exclusive-create conflict check — link fails with
        # FileExistsError if a concurrent writer committed this version
        # first.
        text = metadata_json(meta)
        target = f"{self.path}/metadata/v{self.version}.metadata.json"
        tmp = f"{self.path}/metadata/.v{self.version}.{uuid.uuid4().hex[:8]}.tmp"
        with open(tmp, "w") as f:
            f.write(text)
        try:
            os.link(tmp, target)
        except FileExistsError:
            self._poisoned = f"lost the commit race for v{self.version}"
            raise CommitConflictError(
                f"metadata version v{self.version} already committed by a "
                "concurrent writer; reload and retry"
            ) from None
        finally:
            os.unlink(tmp)
        # atomic replace: a concurrent reader (e.g. the streaming
        # source's latestOffset poll) must never observe a truncated or
        # empty hint mid-write
        if self._txn_staged is not None:
            # inside a Transaction: metadata JSON is durable but the
            # hint flip — the publication act readers discover through —
            # is deferred to Transaction.__exit__'s phase 2
            self._txn_staged.append((self.version, target))
        else:
            self._publish_hint(self.version)
        # Stamp the log entry with the metadata WRITE time, not the last
        # snapshot's commit time: operations that emit metadata without a
        # snapshot (schema/spec evolution) must still advance the log
        # clock, as real engines do.  Derived from the version counter so
        # fixture builds stay byte-deterministic; version increments on
        # every metadata write, so entries are distinct and monotonic.
        self._metadata_log.append(
            {"metadata-file": target, "timestamp-ms": 1700000000000 + self.version}
        )


# -- the staged-output path every Spark writer shares ----------------------
# Executors write files into a stage directory under ``{path}/data``
# (``_stage_dir``; hive-partitioned on ``_with_partition_columns``'
# spec-field columns), the driver lifts manifest entries from the files
# (``_entries_from_spark_dir`` for data, ``_delete_entries`` for delete
# files) and ``IcebergWriter._commit`` lays them out in manifests and
# commits one snapshot.


def _stage_dir(writer: "IcebergWriter", prefix: str) -> str:
    """A fresh stage directory for one Spark write, under the table's
    ``data/`` so the files it ends up committing (and those of a failed
    job) stay inside the table — ``remove_orphan_files`` walks only
    the table directory."""
    import tempfile

    data = os.path.join(writer.path, "data")
    os.makedirs(data, exist_ok=True)
    return tempfile.mkdtemp(prefix=prefix, dir=data)


def _with_partition_columns(
    writer: "IcebergWriter", df: Any
) -> tuple[Any, list[str], list[str]]:
    """Attach one hive column ``__p_<spec field>`` per spec field,
    holding the TRANSFORMED value (identity passes through; the other
    transforms run the spec-exact Python implementation —
    ``spark_partition_value``, Iceberg murmur3 for bucket, never Spark's
    ``hash()``), so data files keep their partition source columns and
    the commit lifts prunable partition values from the hive segments.
    Returns (df, spec field names, hive column names): the lift keys on
    spec FIELD names, which stay unambiguous when a spec carries several
    transforms of one source column (``bucket[4](k)`` + ``identity(k)``)."""
    names: list[str] = []
    cols: list[str] = []
    for pf in writer.spec:
        src = pf["_source_name"]
        rtype = transform_result_type(pf["transform"], writer.types[src])
        # the UDF's Spark result type: the hive segment is text either
        # way, so a type Spark DDL cannot spell travels as a string
        ddl = (
            rtype
            if rtype in ("int", "long", "string", "date")
            or rtype.startswith("decimal")
            else "string"
        )
        col = f"__p_{pf['name']}"
        df = df.withColumn(col, spark_partition_value(src, pf["transform"], ddl))
        names.append(pf["name"])
        cols.append(col)
    return df, names, cols


def _delete_entries(
    writer: "IcebergWriter",
    stage: str,
    snapshot_id: int,
    content: int,
    equality_ids: list[int] | None = None,
) -> list[dict[str, Any]]:
    """Lift a stage directory of executor-written delete parquet into
    ADDED delete entries with an empty partition tuple — position
    deletes (``content=1``) or equality deletes on ``equality_ids``
    (``content=2``); [] when no file holds a row (empty task outputs are
    removed).  Equality deletes are GLOBAL: callers commit them under
    the unpartitioned spec (``_global_delete_spec_id``), because a
    delete under a partitioned spec with an all-NULL partition tuple is
    scoped to the NULL partition."""
    import glob as _glob

    entries = []
    for path in sorted(
        _glob.glob(os.path.join(stage, "**", "*.parquet"), recursive=True)
    ):
        rows = pq.read_metadata(path).num_rows
        if rows == 0:
            os.remove(path)
            continue
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "data_file": {
                    "content": content,
                    "file_path": path,
                    "file_format": "PARQUET",
                    "partition": {},
                    "record_count": rows,
                    "file_size_in_bytes": os.path.getsize(path),
                    "lower_bounds": None,
                    "upper_bounds": None,
                    "equality_ids": equality_ids,
                },
            }
        )
    if entries:
        writer._format_version = max(writer._format_version, 2)
    return entries


def commit_spark_output(
    writer: "IcebergWriter",
    data_dir: str,
    partition_col: str | None = None,
    path_col: str | None = None,
    extra_summary: dict[str, str] | None = None,
    file_format: str = "PARQUET",
    spark: Any = None,
) -> int:
    """Commit a directory of (optionally hive-partitioned) parquet files —
    e.g. the output of a distributed ``df.write.partitionBy(...).parquet``
    job — as one Iceberg append snapshot.

    This is the cluster-scale write path: executors produce the data
    files in parallel; only the metadata commit (one manifest per 100
    files, bounds lifted from parquet footers, no data IO) runs on the
    driver.  ``partition_col`` names a partition SOURCE column of the
    writer's spec; the hive ``col=value`` path segments must carry the
    TRANSFORMED value (identity: the value itself; bucket[n]: the bucket
    int — compute it Spark-side with ``spark_partition_value``), which
    lands in the manifest under the spec field's name so transform-aware
    pruning works on the result.
    """
    snapshot_id = writer._next_snapshot_id
    entries = _entries_from_spark_dir(
        writer,
        data_dir,
        snapshot_id,
        partition_col,
        path_col,
        file_format=file_format,
        spark=spark,
    )
    writer._commit(
        snapshot_id,
        [(writer.current_spec_id, entries)],
        "append",
        extra_summary=extra_summary,
    )
    return snapshot_id


def write_df(
    writer: "IcebergWriter",
    df: Any,
    mode: str = "hash",
    sort_by: list[str] | None = None,
    num_tasks: int | None = None,
    staging_dir: str | None = None,
    extra_summary: dict[str, str] | None = None,
    file_format: str = "parquet",
) -> int:
    """One-call distributed Iceberg append with real Iceberg's
    ``write.distribution-mode`` semantics — the defense against the
    small-files problem that kills partitioned tables operationally:

    - ``mode="none"``: tasks write rows wherever they sit, so EVERY
      task holding rows for a partition emits a file there — up to
      tasks × partitions files per commit (a 200-task job over 100
      partitions can mint 20k ~tiny files in one append).
    - ``mode="hash"`` (default, matching Iceberg's default for
      partitioned tables): one shuffle on the spec's TRANSFORMED
      partition values first, so each partition tuple lands in exactly
      one task → one file per partition tuple per commit.
    - ``mode="range"``: ``repartitionByRange`` + in-task sort on the
      partition values then ``sort_by`` — same file-count bound as
      hash, plus clustered ``sort_by`` bounds so stats pruning fires on
      those columns (the write-side half of a sorted table).

    Transforms are computed with the spec-exact helpers
    (``spark_partition_value`` — Iceberg murmur3 for bucket, never
    Spark's ``hash()``), written as duplicate hive columns so data
    files keep their partition source columns, and committed through
    ``commit_spark_output`` (footer-lifted stats, driver does metadata
    only).  Unpartitioned specs skip the shuffle for ``hash`` (nothing
    to co-locate) but still honor ``range`` when ``sort_by`` is given.
    ``num_tasks`` pins the shuffle width (file-size control); left None,
    the session's shuffle partitioning — including AQE's advisory-size
    coalescing, which is exactly what sizes output files at scale —
    decides.  For AVRO it is additionally the ENCODE-throughput lever:
    one from-scratch container encoder runs per task, and the r12
    witness (SCALING.md, 2M rows fixed, local[32]) scales 13.5 s → 3.3 s
    → 1.8 s at 1/8/32 tasks — near-linear to 8, Amdahl-flattened by the
    fixed shuffle+commit beyond.  Returns the snapshot id."""
    from pyspark.sql import functions as F

    if mode not in ("none", "hash", "range"):
        raise ValueError(f"unknown write distribution mode {mode!r}")
    out, spec_names, pcols = _with_partition_columns(writer, df)
    if mode == "hash" and pcols:
        hash_cols = [F.col(c) for c in pcols]
        out = (
            out.repartition(num_tasks, *hash_cols)
            if num_tasks
            else out.repartition(*hash_cols)
        )
        if sort_by:
            # real Iceberg applies the table sort order within tasks
            # under EVERY distribution mode — silently dropping a
            # requested clustering would write non-selective bounds
            out = out.sortWithinPartitions(*pcols, *sort_by)
    elif mode == "range" and (pcols or sort_by):
        range_cols = [F.col(c) for c in pcols + list(sort_by or [])]
        out = (
            out.repartitionByRange(num_tasks, *range_cols)
            if num_tasks
            else out.repartitionByRange(*range_cols)
        )
        out = out.sortWithinPartitions(*range_cols)
    elif mode == "none":
        if num_tasks:
            # honor the promised task-width pin under mode="none" too:
            # a round-robin repartition spreads the encode across
            # num_tasks cores by construction — the throughput lever for
            # the python AVRO container writer (one encoder per task),
            # and file-size control for all formats when the input's own
            # partitioning is too coarse
            out = out.repartition(num_tasks)
        if sort_by:
            out = out.sortWithinPartitions(*(pcols + list(sort_by)))
    fmt = file_format.lower()
    if fmt not in ("parquet", "orc", "avro"):
        raise ValueError(f"unknown data file format {file_format!r}")
    data_dir = staging_dir or _stage_dir(writer, "write_df_")
    if fmt == "avro":
        # no native Spark Avro writer in this environment: executor
        # tasks encode containers with the from-scratch writer and ship
        # (path, pickled stats entry) rows — stats computed in-task, so
        # the commit needs no second pass and no data reaches the driver
        return _write_df_avro_tasks(
            writer, out, data_dir, pcols, spec_names, extra_summary
        )
    getattr(out.write.mode("overwrite").partitionBy(*pcols), fmt)(data_dir)
    return commit_spark_output(
        writer,
        data_dir,
        partition_col=spec_names,
        path_col=pcols,
        extra_summary=extra_summary,
        file_format=fmt.upper(),
        spark=df.sparkSession,
    )


def _resolve_merge_key(
    writer: "IcebergWriter", on: list[str] | None
) -> list[str]:
    """The upsert merge key: ``on`` when given, else the schema's
    declared identifier fields; validated against the schema and never
    guessed — shared by every upsert entry point."""
    key = on
    if key is None:
        by_id = {f["id"]: f["name"] for f in writer.fields}
        key = [by_id[i] for i in writer.identifier_field_ids if i in by_id]
    if not key:
        raise ValueError(
            "no merge key: pass on=[...] or declare identifier fields "
            "(set_identifier_fields)"
        )
    for c in key:
        if c not in writer.types:
            raise ValueError(f"unknown key column {c!r}")
    return key


def upsert_spark_output(
    writer: "IcebergWriter",
    spark: Any,
    batch_df: Any,
    on: list[str] | None = None,
    dir_token: str | None = None,
    extra_summary: dict[str, str] | None = None,
    partition_col: str | list[str] | None = None,
    path_col: str | list[str] | None = None,
) -> int:
    """Distributed blind equality-delete UPSERT — ``upsert_rows_equality``
    at cluster scale: EXECUTORS write both halves of the commit (the
    batch's data files via a parquet job, and the equality-delete files
    as a key-column projection — a valid eq-delete file IS just a
    parquet of key columns), the driver only footer-lifts O(files)
    metadata and commits once.  No target read, no row ever touches the
    driver: the write cost of applying a CDC batch is O(batch) whether
    the table is 1 GB or 100 TB.  This is the shape Flink's Iceberg
    upsert writer commits per checkpoint.

    ``dir_token`` keys the output directories (callers pass the epoch id
    so a replayed micro-batch overwrites its own files — exactly-once
    with the snapshot-summary guard in ``iceberg_upsert_sink``).
    Duplicate keys within one batch collapse via ``dropDuplicates``
    (which survivor is unspecified — feed changelog-ordered batches
    through ``upsert_rows_equality`` if in-batch order matters).
    Partitioned targets follow ``commit_spark_output``'s convention:
    ``partition_col``/``path_col`` hive-partition the DATA half and the
    commit lifts the transformed values; the eq-delete half stays a
    GLOBAL delete (empty partition tuple — spec-legal, applies
    everywhere), so the key need not determine the partition."""
    if writer.spec and (partition_col is None or path_col is None):
        missing = "partition_col" if partition_col is None else "path_col"
        raise ValueError(
            f"partitioned table: pass {missing} (partition_col/path_col, "
            "the commit_spark_output convention) so the data half is "
            "written hive-partitioned and lands with prunable partition "
            "values"
        )
    key = _resolve_merge_key(writer, on)
    if dir_token is None:
        writer._file_counter += 1
        dir_token = f"{writer._file_counter:05d}-{writer._instance}"
    # persist: the data write and the key projection are two jobs over
    # the same lineage (incl. dropDuplicates' shuffle) — don't pay the
    # source scan twice
    deduped = batch_df.dropDuplicates(key).persist()
    try:
        null_cond = None
        for c in key:
            cond = deduped[c].isNull()
            null_cond = cond if null_cond is None else (null_cond | cond)
        if deduped.filter(null_cond).limit(1).count() > 0:
            # same rule as upsert_rows_equality: a NULL key would
            # null-safe-match and delete NULL-keyed rows table-wide
            raise ValueError(f"null key value in upsert batch (key={key})")
        data_dir = os.path.join(writer.path, "data", f"upsert-{dir_token}")
        segs = [path_col] if isinstance(path_col, str) else path_col or []
        deduped.write.mode("overwrite").partitionBy(*segs).parquet(data_dir)
        del_dir = os.path.join(writer.path, "data", f"upsert-del-{dir_token}")
        deduped.select(*key).write.mode("overwrite").parquet(del_dir)
    finally:
        deduped.unpersist()

    snapshot_id = writer._next_snapshot_id
    data_entries = _entries_from_spark_dir(
        writer, data_dir, snapshot_id, partition_col, path_col
    )
    del_entries = _delete_entries(
        writer, del_dir, snapshot_id, 2, [writer.ids[c] for c in key]
    )
    groups = [(writer.current_spec_id, data_entries)]
    if del_entries:
        groups.insert(0, (writer._global_delete_spec_id(), del_entries))
    writer._commit(
        snapshot_id,
        groups,
        "overwrite",
        extra_summary={"upsert-keys": ",".join(key), **(extra_summary or {})},
    )
    return snapshot_id


def rows_bounds(
    fields: list[dict[str, Any]], rows: list[dict[str, Any]]
) -> tuple[list, list, list, list]:
    """(lower_bounds, upper_bounds, null_value_counts,
    nan_value_counts) for one file's rows.  Null counts (spec field
    110) are emitted for every top-level leaf — they make
    stats-based whole-file proofs (metadata-only DELETE) sound on
    optional columns; NaN counts (field 138) only for float/double,
    where bounds exclude NaN.  Nested leaves emit bounds only: a
    null ancestor makes per-leaf null totals ambiguous.  Module-level
    so executor tasks (the distributed AVRO write leg) compute the
    SAME stats the driver writer does."""
    lowers, uppers, nulls, nans = [], [], [], []

    def emit(fid: int, type_str: str, vals: list, top: bool) -> None:
        non_null = [v for v in vals if v is not None]
        if top:
            nulls.append({"key": fid, "value": len(vals) - len(non_null)})
        if type_str in ("float", "double"):
            # NaN census + NaN-free bounds at EVERY nesting level:
            # the spec excludes NaN from bounds, and gt/gtEq pruning
            # is only sound when the census is provably zero.  A
            # null ancestor contributes no leaf VALUE, so the NaN
            # count (unlike the null count) stays unambiguous on
            # nested leaves.
            n_nan = sum(1 for v in non_null if v != v)
            nans.append({"key": fid, "value": n_nan})
            non_null = [v for v in non_null if v == v]
        if not non_null or type_str == "variant":
            # variant values carry no spec-defined bound encoding
            # (shredded stats prune at scan time from parquet
            # footers instead — scan.variant_prune_files)
            return
        lowers.append(
            {"key": fid, "value": encode_bound(min(non_null), type_str)}
        )
        uppers.append(
            {"key": fid, "value": encode_bound(max(non_null), type_str)}
        )

    def walk(field: dict[str, Any], vals: list, top: bool) -> None:
        t = field["type"]
        if isinstance(t, str):
            emit(field["id"], t, vals, top)
        elif t["type"] == "struct":
            # Iceberg keys bounds by LEAF field id: recurse into
            # struct members (list/map contents carry no usable
            # min/max for pruning — skipped, conservative)
            for sub in t["fields"]:
                walk(
                    sub,
                    [
                        v.get(sub["name"]) if isinstance(v, dict) else None
                        for v in vals
                        if v is not None
                    ],
                    False,
                )

    for f in fields:
        walk(f, [r.get(f["name"]) for r in rows], True)
    return lowers, uppers, nulls, nans


def arrow_table_bounds(
    fields: list[dict[str, Any]], tbl: "pa.Table"
) -> tuple[list, list, list, list]:
    """``rows_bounds`` computed COLUMN-WISE from an arrow table —
    byte-identical output (differential-tested), no per-row python
    dicts.  Flat primitive schemas only (the distributed write legs');
    NaN excluded from float/double bounds and counted per spec field
    138, a column arrow cannot min/max just skips its bounds
    (conservative: pruning keeps the file)."""
    import pyarrow.compute as pc

    lowers, uppers, nulls, nans = [], [], [], []
    for f in fields:
        t = f["type"]
        if not isinstance(t, str):
            raise NotImplementedError(
                "arrow_table_bounds covers flat primitive schemas"
            )
        col = tbl[f["name"]]
        fid = f["id"]
        nulls.append({"key": fid, "value": int(col.null_count)})
        vals = col
        if t in ("float", "double"):
            nan_mask = pc.is_nan(col)
            n_nan = int(pc.sum(nan_mask).as_py() or 0)
            nans.append({"key": fid, "value": n_nan})
            if n_nan:
                vals = pc.filter(
                    col,
                    pc.and_kleene(pc.is_valid(col), pc.invert(nan_mask)),
                )
        if t == "variant":
            continue
        try:
            mm = pc.min_max(vals)
        except Exception:
            continue  # no arrow kernel for the type: skip bounds, stay sound
        lo, hi = mm["min"].as_py(), mm["max"].as_py()
        if lo is None:
            continue
        lowers.append({"key": fid, "value": encode_bound(lo, t)})
        uppers.append({"key": fid, "value": encode_bound(hi, t)})
    return lowers, uppers, nulls, nans


def write_avro_data_file(
    fields: list[dict[str, Any]], tbl: "pa.Table", path: str
) -> None:
    """Encode an arrow table as an Iceberg AVRO data file: schema
    derived from the table schema (field-id annotated), values per
    the Iceberg Avro single-value spec — timestamps long
    microseconds, dates int epoch-days.  Nested/decimal/uuid
    columns fail loudly (scan's AVRO decode matches).  Module-level
    (fields is a plain list of dicts) so EXECUTOR tasks can run it —
    the distributed AVRO leg of ``write_df``."""
    from daskberg_spark.iceberg.avro import write_avro_file

    prim = {
        "int": "int",
        "long": "long",
        "float": "float",
        "double": "double",
        "boolean": "boolean",
        "string": "string",
        "binary": "bytes",
        "uuid": "string",
    }
    afields, cols = [], {}
    for f in fields:
        t = f["type"]
        if isinstance(t, str) and t in prim:
            atype: Any = prim[t]
            vals = tbl[f["name"]].to_pylist()
        elif isinstance(t, str) and t in ("timestamp", "timestamptz"):
            atype = {
                "type": "long",
                "logicalType": "timestamp-micros",
                "adjust-to-utc": t == "timestamptz",
            }
            vals = tbl[f["name"]].cast(pa.int64()).to_pylist()
        elif isinstance(t, str) and t == "date":
            atype = {"type": "int", "logicalType": "date"}
            vals = tbl[f["name"]].cast(pa.int32()).to_pylist()
        else:
            raise NotImplementedError(
                f"AVRO data files with {t!r} columns"
            )
        afield = {"name": f["name"], "type": atype, "field-id": f["id"]}
        if not f.get("required"):
            afield["type"] = ["null", atype]
            afield["default"] = None
        afields.append(afield)
        cols[f["name"]] = vals
    # materialized v3 lineage columns (rewrite paths carry explicit
    # _row_id / _last_updated_sequence_number): encode them like the
    # parquet/ORC writers do — dropping them would silently re-key
    # row identity on the next read
    for extra in LINEAGE_COLS:
        if extra in tbl.column_names:
            afields.append(
                {"name": extra, "type": ["null", "long"], "default": None}
            )
            cols[extra] = tbl[extra].to_pylist()
    schema = {"type": "record", "name": "r", "fields": afields}
    keys = list(cols)
    col_lists = [cols[k] for k in keys]
    # generator, not a list: the container writer iterates once, so
    # peak memory holds one row dict at a time on top of the columns
    records = (
        dict(zip(keys, vals)) for vals in zip(*col_lists)
    )
    write_avro_file(path, schema, records)


def _hive_fmt(v: Any, rtype: str) -> str:
    """One hive path segment value, matching what ``_hive_segment_value``
    parses back: NULL → the Spark sentinel, ints un-floated (pandas
    nullable ints arrive as float64), dates ISO."""
    import datetime as _dt
    import urllib.parse

    import pandas as pd

    if v is None or (not isinstance(v, (str, bytes)) and pd.isna(v)):
        return "__HIVE_DEFAULT_PARTITION__"
    if rtype in ("int", "long"):
        return str(int(v))
    if rtype == "date" and isinstance(v, _dt.date):
        return v.isoformat()
    return urllib.parse.quote(str(v), safe="")


# Rows an AVRO append task buffers per partition tuple before it spills
# the group to its own container (bounds task memory on skewed input).
AVRO_WRITE_FLUSH_ROWS = 500_000


def _write_df_avro_tasks(
    writer: "IcebergWriter",
    out: Any,
    data_dir: str,
    pcols: list[str],
    spec_names: list[str],
    extra_summary: dict[str, str] | None,
) -> int:
    """Distributed AVRO append: each task groups its rows by the
    transformed partition columns, encodes ONE Avro container per
    (task, partition tuple) with the from-scratch writer, computes the
    file's manifest stats in-task columnar-side (``arrow_table_bounds``,
    differential-tested equal to the driver writer's ``rows_bounds`` in
    test_formatwrite.py, so pruning bounds can never diverge by
    path), and ships only (path, pickled data_file record) to the
    driver.  Data bytes never reach the driver; a failed/speculative
    task attempt's files are never committed (fresh uuid4 per file) and
    the orphan sweep reclaims them — the staged-parquet path's exact
    semantics."""
    import pickle

    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    fields = [dict(f) for f in writer.fields]
    names = [f["name"] for f in fields]
    rtypes = [
        transform_result_type(
            pf["transform"], writer.types[pf["_source_name"]]
        )
        for pf in writer.spec
    ]
    arrow_schema_items = [(f["name"], _pa_type(f["type"])) for f in fields]
    ddir = data_dir
    seg_names = list(pcols)

    flush_rows = AVRO_WRITE_FLUSH_ROWS

    def task(iterator):
        # arrow, NOT pandas, end to end: pandas folds NULL and NaN
        # doubles together and routes nullable int64 through float64,
        # silently corrupting longs past 2^53 (caught by the randomized
        # write→read differential)
        import os as _os
        import pickle as _pickle
        import uuid as _uuid

        import pyarrow as _pa

        schema = _pa.schema(
            [_pa.field(n, t) for n, t in arrow_schema_items]
        )
        out_rows = []

        def flush(key: tuple, gs: list) -> None:
            tbl = (
                _pa.concat_tables(gs) if len(gs) > 1 else gs[0]
            ).combine_chunks()
            segs = [
                f"{seg}={_hive_fmt(v, rt)}"
                for seg, rt, v in zip(seg_names, rtypes, key)
            ]
            d = _os.path.join(ddir, *segs) if segs else ddir
            _os.makedirs(d, exist_ok=True)
            path = _os.path.join(d, f"part-{_uuid.uuid4().hex}.avro")
            write_avro_data_file(fields, tbl, path)
            lowers, uppers, nulls, nans = arrow_table_bounds(fields, tbl)
            data_file = {
                "file_path": path,
                "file_format": "AVRO",
                "partition": {},
                "record_count": tbl.num_rows,
                "file_size_in_bytes": _os.path.getsize(path),
                "lower_bounds": lowers,
                "upper_bounds": uppers,
                "null_value_counts": nulls,
                "nan_value_counts": nans,
            }
            out_rows.append((path, _pickle.dumps(data_file)))

        # streaming accumulation with a per-group flush budget: a task
        # holding GBs for one partition tuple must not buffer them all
        # before its first container — the manifest tolerates several
        # files per tuple, so overflow just becomes another file
        groups: dict[tuple, list] = {}
        counts: dict[tuple, int] = {}
        for batch in iterator:
            tb = _pa.Table.from_batches([batch])
            data = tb.select(names).cast(schema)
            if seg_names:
                key_cols = [tb[c].to_pylist() for c in seg_names]
                idx_by_key: dict[tuple, list[int]] = {}
                for i, key in enumerate(zip(*key_cols)):
                    idx_by_key.setdefault(key, []).append(i)
                parts = [
                    (key, data.take(idxs))
                    for key, idxs in idx_by_key.items()
                ]
            else:
                parts = [((), data)]
            for key, g in parts:
                groups.setdefault(key, []).append(g)
                counts[key] = counts.get(key, 0) + g.num_rows
                if counts[key] >= flush_rows:
                    flush(key, groups.pop(key))
                    counts[key] = 0
        for key, gs in groups.items():
            flush(key, gs)
        yield _pa.RecordBatch.from_pydict(
            {
                "path": [p for p, _ in out_rows],
                "blob": [b for _, b in out_rows],
            },
            schema=_pa.schema(
                [
                    _pa.field("path", _pa.string()),
                    _pa.field("blob", _pa.binary()),
                ]
            ),
        )

    res = out.mapInArrow(
        task,
        schema=StructType(
            [
                StructField("path", StringType()),
                StructField("blob", BinaryType()),
            ]
        ),
    ).collect()
    snapshot_id = writer._next_snapshot_id
    entries = []
    for r in sorted(res, key=lambda r: r["path"]):
        data_file = pickle.loads(bytes(r["blob"]))
        data_file["partition"] = _partition_from_path(
            writer, data_file["file_path"], spec_names, seg_names
        )
        entries.append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "data_file": data_file,
            }
        )
    writer._commit(
        snapshot_id,
        [(writer.current_spec_id, entries)],
        "append",
        extra_summary=extra_summary,
    )
    return snapshot_id


def _partition_from_path(
    writer: "IcebergWriter",
    path: str,
    partition_col: str | list[str] | None,
    path_col: str | list[str] | None,
) -> dict[str, Any]:
    """Typed manifest partition dict from a file's hive ``col=value``
    path segments.  ``path_col`` is the hive directory name (Spark's
    partitionBy drops that column from file contents, so callers
    partition on a *duplicate* column and keep the real one in the
    data).  Multi-field specs pass parallel lists — one hive level per
    field."""
    import urllib.parse

    partition: dict[str, Any] = {}
    if not partition_col:
        return partition
    pcols = (
        [partition_col]
        if isinstance(partition_col, str)
        else list(partition_col)
    )
    if path_col is None:
        segcols = list(pcols)
    elif isinstance(path_col, str):
        segcols = [path_col]
    else:
        segcols = list(path_col)
    if len(segcols) != len(pcols):
        raise ValueError("path_col must parallel partition_col")
    for pcol, seg_name in zip(pcols, segcols):
        # resolve by SPEC FIELD name first, then by source
        # column: a spec may carry several transforms of ONE
        # source (bucket(id) + identity(id)), and source-name
        # lookup alone would key every segment to the first
        # (``_with_partition_columns`` returns spec-field names
        # for exactly this)
        spec_field = next(
            (pf for pf in writer.spec if pf["name"] == pcol),
            None,
        ) or next(
            (pf for pf in writer.spec if pf["_source_name"] == pcol),
            None,
        )
        if spec_field is None:
            raise ValueError(
                f"{pcol!r} is not a partition source column "
                "or spec field name"
            )
        rtype = transform_result_type(
            spec_field["transform"],
            writer.types[spec_field["_source_name"]],
        )
        for seg in path.split(os.sep):
            if seg.startswith(seg_name + "="):
                raw = urllib.parse.unquote(seg.split("=", 1)[1])
                # key by the SPEC FIELD name (what the planner
                # checks), typed by the transform's result
                partition[spec_field["name"]] = _hive_segment_value(
                    raw, rtype
                )
    return partition


def _entries_from_spark_dir(
    writer: "IcebergWriter",
    data_dir: str,
    snapshot_id: int,
    partition_col: str | list[str] | None = None,
    path_col: str | list[str] | None = None,
    file_format: str = "PARQUET",
    spark: Any = None,
) -> list[dict[str, Any]]:
    """Stats-lift a directory of Spark-written data files into ADDED
    manifest entries (partition values from hive path segments) —
    shared by append and overwrite commits.  PARQUET lifts bounds from
    row-group footers at zero data IO; ORC (pyarrow exposes no ORC
    column statistics) lifts them with ONE distributed JVM-side
    aggregate over the fresh files — grouped by ``input_file_name()``,
    collecting one stats row per file, never data."""
    import glob as _glob

    fmt = file_format.upper()
    ext = {"PARQUET": "*.parquet", "ORC": "*.orc"}.get(fmt)
    if ext is None:
        raise NotImplementedError(
            f"directory commits for {file_format} (AVRO goes through "
            "write_df's task-write path, which carries its own stats)"
        )
    entries = []
    paths = sorted(
        _glob.glob(os.path.join(data_dir, "**", ext), recursive=True)
    )
    orc_stats = None
    if fmt == "ORC" and paths:
        # `paths` gate: spark.read.orc on a directory holding only
        # _SUCCESS raises (no schema to infer) — an empty append must
        # commit an empty snapshot like the parquet/AVRO legs do
        if spark is None:
            raise ValueError("ORC directory commits need `spark` for the stats pass")
        orc_stats = _orc_dir_stats(spark, data_dir, writer.types)
    for path in paths:
        partition = _partition_from_path(
            writer, path, partition_col, path_col
        )
        if fmt == "ORC":
            stats = orc_stats.get(os.path.realpath(path))
            entries.append(
                _orc_entry(writer, path, snapshot_id, partition, stats)
            )
        else:
            entries.append(
                _footer_entry(writer, path, snapshot_id, partition)
            )
    return entries


def _orc_dir_stats(
    spark: Any, data_dir: str, types: dict[str, Any]
) -> dict[str, dict[str, Any]]:
    """Per-file column statistics for a directory of fresh ORC files:
    one JVM-side aggregate grouped by ``input_file_name()`` — data
    never crosses into Python, the driver collects one row per file.
    Returns {realpath: {"rows": n, "lo": {col: v}, "hi": {col: v},
    "nulls": {col: n}, "nans": {col: n}}}.  Bounds exclude NaN and a
    NaN-tainted column still counts (Iceberg spec field 138
    semantics); nested columns get counts only (no leaf bounds —
    conservative, pruning just keeps the file)."""
    import urllib.parse

    from pyspark.sql import functions as F
    from pyspark.sql import types as _pst

    df = spark.read.orc(data_dir)
    prim = [
        (c, t)
        for c, t in types.items()
        if isinstance(t, str) and c in df.columns and t != "variant"
    ]
    aggs = [F.count(F.lit(1)).alias("__rows")]
    for i, (c, t) in enumerate(prim):
        col = F.col(c)
        if t in ("float", "double"):
            clean = F.when(~F.isnan(col), col)
            aggs += [
                F.min(clean).alias(f"__lo{i}"),
                F.max(clean).alias(f"__hi{i}"),
                F.count(col).alias(f"__nn{i}"),
                F.sum(
                    F.when(F.isnan(col), 1).otherwise(0)
                ).alias(f"__na{i}"),
            ]
        elif t in ("timestamp", "timestamptz") and isinstance(
            df.schema[c].dataType, _pst.TimestampType
        ):
            # instant-typed TIMESTAMP: aggregate as epoch MICROS, not as
            # timestamps — collect() renders instants as session-local
            # naive datetimes which encode_bound would re-read as UTC
            # (bounds shifted by the session TZ offset, silently wrong
            # pruning).  Ints are TZ-proof and encode_bound takes micros
            # directly.  TIMESTAMP_NTZ takes the plain min/max branch:
            # its collected naive datetime IS the stored wall-clock, so
            # the UTC re-read is already exact (and unix_micros would
            # reject the type).
            mic = F.unix_micros(col)
            aggs += [
                F.min(mic).alias(f"__lo{i}"),
                F.max(mic).alias(f"__hi{i}"),
                F.count(col).alias(f"__nn{i}"),
            ]
        elif t == "string":
            # Iceberg bounds must order by Unicode CODE POINT; aggregate
            # over the UTF-8 bytes (BinaryType compares unsigned
            # byte-wise == code-point order) so supplementary-plane
            # characters can never yield an understated upper bound,
            # whatever collation the session's string min/max uses.
            enc = F.encode(col, "UTF-8")
            aggs += [
                F.min(enc).alias(f"__lo{i}"),
                F.max(enc).alias(f"__hi{i}"),
                F.count(col).alias(f"__nn{i}"),
            ]
        else:
            aggs += [
                F.min(col).alias(f"__lo{i}"),
                F.max(col).alias(f"__hi{i}"),
                F.count(col).alias(f"__nn{i}"),
            ]
    rows = (
        df.groupBy(F.input_file_name().alias("__path")).agg(*aggs).collect()
    )
    out: dict[str, dict[str, Any]] = {}
    for r in rows:
        p = urllib.parse.urlparse(r["__path"])
        key = os.path.realpath(urllib.parse.unquote(p.path))
        st = {"rows": r["__rows"], "lo": {}, "hi": {}, "nulls": {}, "nans": {}}
        for i, (c, t) in enumerate(prim):
            if r[f"__lo{i}"] is not None:
                lo, hi = r[f"__lo{i}"], r[f"__hi{i}"]
                if t == "string":
                    lo, hi = bytes(lo).decode(), bytes(hi).decode()
                st["lo"][c] = lo
                st["hi"][c] = hi
            st["nulls"][c] = int(r["__rows"]) - int(r[f"__nn{i}"])
            if t in ("float", "double"):
                st["nans"][c] = int(r[f"__na{i}"] or 0)
        out[key] = st
    return out


def _orc_entry(
    writer: "IcebergWriter",
    path: str,
    snapshot_id: int,
    partition: dict[str, Any],
    stats: dict[str, Any] | None,
) -> dict[str, Any]:
    """ADDED manifest entry for one Spark-written ORC file, bounds from
    the distributed stats pass (``_orc_dir_stats``).  A file the stats
    pass did not cover (shouldn't happen for a fresh directory) still
    commits — record count from the ORC footer, no bounds: pruning
    stays conservative rather than wrong."""
    import pyarrow.orc as _orc

    num_rows = _orc.ORCFile(path).nrows
    if stats is not None and int(stats["rows"]) != int(num_rows):
        raise ValueError(
            f"ORC stats pass saw {stats['rows']} rows for {path} but the "
            f"footer says {num_rows} — refusing to commit mismatched stats"
        )
    data_file: dict[str, Any] = {
        "file_path": path,
        "file_format": "ORC",
        "partition": partition,
        "record_count": int(num_rows),
        "file_size_in_bytes": os.path.getsize(path),
    }
    if stats is not None:
        data_file["lower_bounds"] = [
            {"key": writer.ids[c], "value": encode_bound(v, writer.types[c])}
            for c, v in stats["lo"].items()
        ]
        data_file["upper_bounds"] = [
            {"key": writer.ids[c], "value": encode_bound(v, writer.types[c])}
            for c, v in stats["hi"].items()
        ]
        data_file["null_value_counts"] = [
            {"key": writer.ids[c], "value": int(v)}
            for c, v in stats["nulls"].items()
        ]
        data_file["nan_value_counts"] = [
            {"key": writer.ids[c], "value": int(v)}
            for c, v in stats["nans"].items()
        ]
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "data_file": data_file,
    }


def _hive_segment_value(raw: str, rtype: str) -> Any:
    """Typed partition value from one hive ``col=value`` path segment.
    Spark writes NULL partition values as the literal
    ``__HIVE_DEFAULT_PARTITION__`` — that must come back as None, not
    as a bogus string (or an int() crash for numeric transforms).
    ``date``-typed transforms (identity on a date column) parse the ISO
    segment to epoch days — the same int the driver write path encodes
    (``_avro_partition_value``); the manifest Avro writer would
    otherwise crash on the string."""
    if raw == "__HIVE_DEFAULT_PARTITION__":
        return None
    if rtype in ("int", "long"):
        return int(raw)
    if rtype == "date":
        import datetime as _dt

        return (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
    return raw


def _footer_entry(
    writer: "IcebergWriter",
    path: str,
    snapshot_id: int,
    partition: dict[str, Any],
) -> dict[str, Any]:
    """ADDED manifest entry for one existing parquet file: record count
    and per-column bounds lifted from footer row-group statistics —
    zero data IO.  Stat lifting (``conversions.lift_footer_stats``) and
    the entry shape (``_parquet_entry``) are shared with
    ``add_files_spark``'s executor path."""
    import json as _json

    from daskberg_spark.iceberg.conversions import lift_footer_stats

    num_rows, file_size, lowers, uppers, nulls, nans = lift_footer_stats(
        path, writer.types
    )
    variant_bounds = None
    vcols = [n for n, t in writer.types.items() if t == "variant"]
    if vcols:
        from daskberg_spark.iceberg.variant import shredded_footer_bounds

        vb = shredded_footer_bounds(path, vcols)
        if vb:
            variant_bounds = _json.dumps(vb, sort_keys=True)
    return _parquet_entry(
        writer,
        snapshot_id,
        path,
        partition,
        num_rows,
        file_size,
        {n: encode_bound(v, writer.types[n]) for n, v in lowers.items()},
        {n: encode_bound(v, writer.types[n]) for n, v in uppers.items()},
        nulls,
        nans,
        variant_bounds,
    )


def _parquet_entry(
    writer: "IcebergWriter",
    snapshot_id: int,
    path: str,
    partition: dict[str, Any],
    num_rows: int,
    file_size: int,
    lowers: dict[str, bytes],
    uppers: dict[str, bytes],
    nulls: dict[str, int],
    nans: dict[str, int],
    variant_bounds: str | None = None,
) -> dict[str, Any]:
    """ADDED manifest entry for one parquet data file from its footer
    stats, keyed by column name (bounds already spec-encoded)."""
    return {
        "status": 1,
        "snapshot_id": snapshot_id,
        "data_file": {
            "file_path": path,
            "file_format": "PARQUET",
            "partition": partition,
            "record_count": int(num_rows),
            "file_size_in_bytes": int(file_size),
            **({"variant_bounds": variant_bounds} if variant_bounds else {}),
            "lower_bounds": [
                {"key": writer.ids[n], "value": v} for n, v in lowers.items()
            ],
            "upper_bounds": [
                {"key": writer.ids[n], "value": v} for n, v in uppers.items()
            ],
            "null_value_counts": [
                {"key": writer.ids[n], "value": int(v)}
                for n, v in nulls.items()
            ],
            "nan_value_counts": [
                {"key": writer.ids[n], "value": int(v)}
                for n, v in nans.items()
            ],
        },
    }


def add_files(
    writer: "IcebergWriter",
    paths: list[str],
    partition_values: dict[str, dict[str, Any]] | None = None,
) -> int:
    """Register EXISTING parquet files in place as one Iceberg append
    snapshot — the real-Iceberg ``add_files`` migration action: no data
    is copied or rewritten, record counts and column bounds are lifted
    from the parquet footers, so a hive-style directory (or any external
    parquet set) becomes queryable table content at metadata cost only.
    ``partition_values`` optionally maps file path → {spec field name:
    transformed value} for partitioned specs.  Files may live outside
    the table directory (they are referenced, not owned; the orphan
    sweep only walks the table's own data/).  Returns the snapshot id.
    """
    if not paths:
        raise ValueError("no files to add")
    _record_name_mapping(writer)
    snapshot_id = writer._next_snapshot_id
    entries = []
    for p in sorted(paths):
        if not os.path.exists(p):
            raise FileNotFoundError(p)
        part = (partition_values or {}).get(p, {})
        entries.append(_footer_entry(writer, p, snapshot_id, part))
    writer._commit(snapshot_id, [(writer.current_spec_id, entries)], "append")
    return snapshot_id


def _record_name_mapping(writer: "IcebergWriter") -> None:
    """Spec ``schema.name-mapping.default``: imported parquet carries no
    Iceberg field ids, so record the physical-name → field-id assignment
    at import time.  Any reader (this engine's scan on unpinned
    metadata, or a foreign engine) can then resolve post-import column
    renames instead of silently null-filling.  Repeated imports after a
    rename APPEND the new physical name to the field's names list (the
    spec allows several names per field)."""
    try:
        mapping = json.loads(
            writer.properties.get("schema.name-mapping.default", "[]")
        )
    except ValueError:
        mapping = []
    by_id = {e.get("field-id"): e for e in mapping if isinstance(e, dict)}
    for f in writer.fields:
        e = by_id.get(f["id"])
        if e is None:
            mapping.append({"field-id": f["id"], "names": [f["name"]]})
            by_id[f["id"]] = mapping[-1]
        elif f["name"] not in e.get("names", []):
            e.setdefault("names", []).append(f["name"])
    writer.properties["schema.name-mapping.default"] = json.dumps(mapping)


def add_files_spark(
    writer: "IcebergWriter",
    spark: Any,
    paths: list[str],
    partition_values: dict[str, dict[str, Any]] | None = None,
) -> int:
    """Distributed ``add_files``: the cluster-scale twin of the driver
    loop above.  A 100k-file hive migration must not read 100k parquet
    footers sequentially on the driver — here the path list fans out as
    a DataFrame, EXECUTORS open the footers (record count, file size,
    per-column min/max already spec-encoded as bound bytes via
    ``encode_bound``), and the driver receives one slim stats ROW per
    file from which it builds manifest entries.  Driver memory is
    O(files × schema width) metadata — the same order the manifests it
    writes already are — and footer IO parallelism is the cluster's.
    Same commit shape and name-mapping recording as ``add_files``."""
    import base64

    from pyspark.sql import functions as F  # noqa: F401

    if not paths:
        raise ValueError("no files to add")
    _record_name_mapping(writer)
    types = dict(writer.types)  # plain dict → closure-pickled to executors

    def lift(batches):
        import base64 as _b64
        import json as _json

        import pandas as _pd

        from daskberg_spark.iceberg.conversions import (
            encode_bound,
            lift_footer_stats,
        )

        for pdf in batches:
            rows = []
            for path in pdf["path"]:
                num_rows, file_size, lowers, uppers, nulls, nans = (
                    lift_footer_stats(path, types)
                )
                bounds = {
                    n: [
                        _b64.b64encode(
                            encode_bound(lowers[n], types[n])
                        ).decode(),
                        _b64.b64encode(
                            encode_bound(uppers[n], types[n])
                        ).decode(),
                    ]
                    for n in lowers
                }
                rows.append(
                    (
                        path,
                        num_rows,
                        file_size,
                        _json.dumps(bounds),
                        _json.dumps(nulls),
                        _json.dumps(nans),
                    )
                )
            yield _pd.DataFrame(
                rows,
                columns=["path", "num_rows", "size", "bounds", "nulls", "nans"],
            )

    from daskberg_spark.iceberg.scan import _driver_rows_df

    df = _driver_rows_df(
        spark, [(p,) for p in sorted(paths)], "path string"
    )
    n_part = max(1, min(len(paths) // 32 + 1, 256))
    stats_rows = (
        df.repartition(n_part)
        .mapInPandas(
            lift,
            "path string, num_rows long, size long, bounds string, "
            "nulls string, nans string",
        )
        .collect()
    )
    snapshot_id = writer._next_snapshot_id
    entries = []
    for r in sorted(stats_rows, key=lambda r: r["path"]):
        bounds = json.loads(r["bounds"])
        entries.append(
            _parquet_entry(
                writer,
                snapshot_id,
                r["path"],
                (partition_values or {}).get(r["path"], {}),
                r["num_rows"],
                r["size"],
                {n: base64.b64decode(v[0]) for n, v in bounds.items()},
                {n: base64.b64decode(v[1]) for n, v in bounds.items()},
                json.loads(r["nulls"]),
                json.loads(r["nans"]),
            )
        )
    writer._commit(snapshot_id, [(writer.current_spec_id, entries)], "append")
    return snapshot_id


def rollback_to(writer: "IcebergWriter", snapshot_id: int) -> None:
    """Metadata-only rollback (the real-Iceberg ``rollback_to_snapshot``
    management op): make an earlier snapshot current again by emitting a
    new metadata version whose ``current-snapshot-id`` points at it.  No
    snapshots are deleted — the rolled-past commits stay time-travelable
    until ``expire_snapshots`` — and the writer's working state (manifest
    list, next parent) is restored to the target so subsequent commits
    build on it.  Sequence numbers stay monotonic per spec: a rollback
    never rewinds the sequence clock."""
    from daskberg_spark.iceberg.avro import read_avro_file

    snaps = {s["snapshot-id"]: s for s in writer.snapshots}
    if snapshot_id not in snaps:
        raise KeyError(f"unknown snapshot {snapshot_id}")
    target = snaps[snapshot_id]
    _, manifests = read_avro_file(target["manifest-list"])
    writer.manifests = manifests
    # running summary totals no longer describe the repointed head —
    # resume from the target's summary when it carries them, else stop
    # emitting totals (per-commit deltas continue either way)
    total_keys = (
        "total-data-files", "total-delete-files",
        "total-records", "total-files-size",
    )
    tsum = target.get("summary") or {}
    writer._totals = (
        {k: int(tsum[k]) for k in total_keys}
        if all(k in tsum for k in total_keys)
        else None
    )
    # Keep the snapshots list in COMMIT order and repoint the head
    # explicitly: the next commit parents on the target, and
    # _publish truncates the snapshot-log to the head's lineage
    # (reference Iceberg drops log entries that leave the current branch
    # on rollback, so FOR TIMESTAMP AS OF cannot resolve to a
    # rolled-past snapshot).  Rolled-past snapshots stay in ``snapshots``
    # — time-travelable by id until expire_snapshots.
    writer.head_id = (
        None
        if writer.snapshots[-1]["snapshot-id"] == snapshot_id
        else snapshot_id
    )
    writer._publish()


def fast_forward(writer: "IcebergWriter", name: str, to: int | str) -> int:
    """Fast-forward a ref (the real-Iceberg ``fast_forward`` procedure):
    move branch ``name`` to ``to`` (a snapshot id or another ref's name)
    when the target is a DESCENDANT of the branch's current position —
    publish-style pointer movement, never a rewrite.  A missing branch
    is created at the target (upstream behavior).  ``name='main'``
    fast-forwards the table head itself — the publish move after a
    rollback stranded newer audited commits (the head repoints through
    the same machinery as ``rollback_to``; ancestry is checked first so
    it can only move FORWARD along the target's lineage)."""
    snaps = {s["snapshot-id"]: s for s in writer.snapshots}
    target = (
        writer.refs[to]["snapshot-id"] if isinstance(to, str) else int(to)
    )
    if target not in snaps:
        raise KeyError(f"unknown snapshot {target}")

    def is_ancestor(anc: int, node: int) -> bool:
        cur = snaps.get(node)
        while cur is not None:
            if cur["snapshot-id"] == anc:
                return True
            parent = cur.get("parent-snapshot-id")
            cur = snaps.get(parent) if parent is not None else None
        return False

    if name == "main":
        head = writer.head_snapshot
        assert head is not None
        cur_id = head["snapshot-id"]
        if cur_id == target:
            return target
        if not is_ancestor(cur_id, target):
            raise ValueError(
                f"not a fast-forward: {target} does not descend from the "
                f"current head {cur_id}"
            )
        rollback_to(writer, target)  # ancestry-checked: moves forward
        return target
    cur = writer.refs.get(name)
    if cur is None:
        writer.set_ref(name, "branch", snapshot_id=target)
        return target
    if cur.get("type") != "branch":
        raise ValueError(f"ref {name!r} is a tag; tags cannot move")
    if cur["snapshot-id"] == target:
        return target
    if not is_ancestor(cur["snapshot-id"], target):
        raise ValueError(
            f"not a fast-forward: {target} does not descend from "
            f"{cur['snapshot-id']}"
        )
    moved = dict(cur)
    moved["snapshot-id"] = target
    writer.refs[name] = moved
    writer._publish()
    return target


def cherrypick_snapshot(writer: "IcebergWriter", snapshot_id: int) -> int:
    """Cherry-pick (the real-Iceberg ``cherrypick_snapshot`` action, the
    publish half of write-audit-publish): re-commit the data files ADDED
    by a non-ancestor snapshot — typically one staged on a WAP branch or
    stranded by a rollback — onto the CURRENT head as a fresh append
    snapshot.  Metadata-only: the data files are referenced, not
    rewritten, and get the new commit's sequence number (so equality
    deletes between staging and publish apply correctly).  Only append
    snapshots cherry-pick; anything else raises."""
    snaps = {s["snapshot-id"]: s for s in writer.snapshots}
    if snapshot_id not in snaps:
        raise KeyError(f"unknown snapshot {snapshot_id}")
    src = snaps[snapshot_id]
    op = (src.get("summary") or {}).get("operation", "append")
    if op != "append":
        raise ValueError(
            f"cherrypick supports append snapshots only (got {op!r}): "
            "replaying deletes/overwrites against a moved base is not "
            "well-defined"
        )
    # an ANCESTOR of the current head is already published — re-adding
    # its files would return every one of its rows twice (real Iceberg
    # validates the same)
    head = writer.head_snapshot
    cur = head
    while cur is not None:
        if cur["snapshot-id"] == snapshot_id:
            raise ValueError(
                f"snapshot {snapshot_id} is an ancestor of the current "
                "head — its files are already live; cherry-picking it "
                "would duplicate every row"
            )
        parent = cur.get("parent-snapshot-id")
        cur = snaps.get(parent) if parent is not None else None
    from daskberg_spark.iceberg.avro import read_avro_file

    _, src_manifests = read_avro_file(src["manifest-list"])
    new_id = writer._next_snapshot_id
    # the files keep the spec their partition records were written with
    by_spec: dict[int, list[dict[str, Any]]] = {}
    for mf in src_manifests:
        if mf.get("added_snapshot_id") != snapshot_id:
            continue
        entries = by_spec.setdefault(mf.get("partition_spec_id", 0), [])
        _, mf_entries = read_avro_file(mf["manifest_path"])
        for e in mf_entries:
            entry_snap = (
                e.get("snapshot_id")
                if e.get("snapshot_id") is not None
                else snapshot_id
            )
            if e["status"] == 1 and entry_snap == snapshot_id:
                entries.append(
                    {
                        "status": 1,
                        "snapshot_id": new_id,
                        # sequence_number None → inherit the NEW commit's
                        "data_file": e["data_file"],
                    }
                )
    if not any(by_spec.values()):
        raise ValueError(f"snapshot {snapshot_id} added no data files")
    writer._commit(
        new_id,
        list(by_spec.items()),
        "append",
        extra_summary={"cherry-picked-snapshot-id": str(snapshot_id)},
    )
    return new_id


def _sketch_colspecs(writer: "IcebergWriter") -> list[tuple[str, str]]:
    from daskberg_spark.iceberg.theta import sketchable

    return [
        (f["name"], f["type"])
        for f in writer.fields
        if isinstance(f["type"], str) and sketchable(f["type"])
    ]


def _publish_statistics(
    writer: "IcebergWriter",
    snapshot_id: int,
    sketches: dict[str, Any],
    ndv: dict[str, int],
) -> str:
    from daskberg_spark.iceberg.statsblobs import publish_blobs
    from daskberg_spark.iceberg.theta import THETA_BLOB_TYPE

    seq = writer._last_sequence_number
    blobs = [
        {
            "type": THETA_BLOB_TYPE,
            "fields": [writer.ids[c]],
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "properties": {"ndv": str(ndv[c])},
            "data": sketches[c].serialize(),
        }
        for c in sketches
    ]
    def replaces(e: dict[str, Any]) -> bool:
        # engine-extension statistics files (bloom/token-bloom indexes,
        # quantile histograms) coexist with the NDV entry on one
        # snapshot — replacing them here would silently drop them every
        # time NDV stats re-run
        return e["snapshot-id"] == snapshot_id and not any(
            str(b.get("type", "")).startswith("daskberg-")
            for b in e.get("blob-metadata", [])
        )

    return publish_blobs(
        writer, "stats", snapshot_id, f"stats{snapshot_id}", blobs, replaces
    )


def write_table_statistics(
    writer: "IcebergWriter", spark: Any, exact: bool = False
) -> str:
    """Table-statistics file (Iceberg spec "Table statistics"): one
    Puffin blob per primitive column carrying its NDV for the CURRENT
    snapshot, registered in the metadata ``statistics`` list — what
    engines feed cost-based join ordering.

    Blob type is the SPEC-STANDARD ``apache-datasketches-theta-v1``: the
    payload is a compact theta sketch over the column's values in
    Iceberg single-value serialization (``theta.py`` — hashing and
    serialization verified byte-identical against the Apache
    DataSketches Java library), with the estimate in the ``ndv`` blob
    property where engines read it without decoding.  Sketches come
    from ONE distributed pass over the delete-aware read: bounded
    per-partition partials union on the driver, so driver state is
    sketches, never values.  Sketches are MERGEABLE — see
    ``refresh_table_statistics`` for the incremental path.  Below the
    sketch's nominal k (4096) the estimate is EXACT; ``exact=True``
    additionally runs exact distinct counts for the ``ndv`` property
    (meaningful only past k).  Re-running for a snapshot replaces that
    snapshot's entry (idempotent content); ``expire_snapshots`` drops
    entries with their snapshots.  Returns the statistics file path."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from pyspark.sql import functions as F
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.theta import build_column_sketches

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    snapshot_id = writer.head_snapshot["snapshot-id"]
    colspecs = _sketch_colspecs(writer)
    cols = [c for c, _ in colspecs]
    t = IcebergTable(writer.path)
    df = t.to_df(spark, columns=cols)
    sketches = build_column_sketches(df, colspecs)
    if exact:
        row = df.agg(
            *[F.count_distinct(F.col(c)).alias(c) for c in cols]
        ).collect()[0]
        ndv = {c: int(row[c]) for c in cols}
    else:
        ndv = {c: int(round(sketches[c].estimate())) for c in cols}
    return _publish_statistics(writer, snapshot_id, sketches, ndv)


# Largest fraction of the table's rows a refresh window's deletes may
# have killed while the incremental theta path is still taken: the
# union sketch then overestimates NDV by at most this fraction of the
# row count (each killed row removes at most one distinct value), an
# error the CBO consumer tolerates by construction (growth factors only
# shrink).  Above it, rebuild — the stats should track reality.
STATS_REFRESH_MAX_DELETED_FRACTION = 0.2


def refresh_table_statistics(
    writer: "IcebergWriter", spark: Any, scan_source: Any = None
) -> tuple[str, str]:
    """Incremental NDV maintenance — the reason the blobs are theta
    sketches and not bare counts: union the most recent ancestor
    snapshot's sketches with sketches built over ONLY the data files
    added since it.  At 100 TB a stats refresh then scans the append
    window (a day's files), not the table.

    Window snapshots may be appends, or BOUNDED row-level deletes (r10
    verdict item 4): a delete cannot ADD distinct values, so the union
    sketch is an OVERESTIMATE of true NDV by at most the number of rows
    the window's deletes killed.  The CBO is the consumer, and for it
    an NDV overestimate only shrinks a join's estimated growth factor —
    it can mis-rank join order, never produce wrong results — so the
    overestimate is accepted while it is small: delete snapshots stay
    incremental iff their summaries carry exact row censuses
    (``added-position-deletes`` / ``deleted-records``, written by this
    engine's commits; DVs count their cardinality), they added NO
    equality deletes (one eq key can kill unboundedly many rows), and
    the summed killed rows are at most
    ``STATS_REFRESH_MAX_DELETED_FRACTION`` (20%) of the head's
    ``total-records`` — bounding the relative NDV error by the same
    fraction.

    Falls back to a FULL rebuild (returns mode ``"full"``) when:
    no prior theta stats exist on an ancestor; any window snapshot is
    neither an append nor a bounded delete as defined above (missing
    summaries and overwrites included); or a sketchable column carries
    an ``initial-default`` with no base blob (pre-existing files then
    read a value the added-files scan cannot see).  A column ADDED
    plainly after the base is safe: old files read NULL for it, so its
    full-table NDV lives entirely in the added files.

    Tables opted into per-file theta partials
    (``theta.write_file_theta_partials``, r13) bypass the window logic
    entirely: clean files union their stored sketches, dirty files
    take one delete-aware scan — EXACT at O(new + dirty files) under
    any commit shape (overwrites, compaction, unbounded deletes),
    returned as mode ``"partials"`` with the IO census on
    ``writer.last_theta_refresh``.  Returns
    ``(statistics_path, "partials" | "incremental" | "full")``."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.puffin import read_blob
    from daskberg_spark.iceberg.theta import (
        THETA_BLOB_TYPE,
        ThetaSketch,
        build_column_sketches,
    )

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    # partials path (r13): tables that opted in via
    # write_file_theta_partials refresh EXACTLY at O(new + dirty files)
    # under ANY commit shape — overwrites, compaction ("replace"
    # snapshots), and unbounded deletes included — where the
    # append-window union below must fall back to a full rebuild
    from daskberg_spark.iceberg.theta import (
        refresh_column_sketches_from_partials,
    )

    got = refresh_column_sketches_from_partials(
        writer, spark, scan_source=scan_source
    )
    if got is not None:
        merged_p, p_report = got
        writer.last_theta_refresh = p_report  # type: ignore[attr-defined]
        ndv_p = {c: int(round(s.estimate())) for c, s in merged_p.items()}
        return (
            _publish_statistics(
                writer, writer.head_snapshot["snapshot-id"], merged_p, ndv_p
            ),
            "partials",
        )
    head = writer.head_snapshot
    head_id = head["snapshot-id"]
    stats_by_snap = {
        e["snapshot-id"]: e
        for e in writer.statistics
        if any(
            b.get("type") == THETA_BLOB_TYPE
            for b in e.get("blob-metadata", [])
        )
    }
    snaps_by_id = {s["snapshot-id"]: s for s in writer.snapshots}
    base_entry = None
    window: list[dict[str, Any]] = []
    cur = head
    while True:
        sid = cur["snapshot-id"]
        if sid != head_id and sid in stats_by_snap:
            base_entry = stats_by_snap[sid]
            break
        window.append(cur)
        parent = cur.get("parent-snapshot-id")
        if parent is None or parent not in snaps_by_id:
            break
        cur = snaps_by_id[parent]
    colspecs = _sketch_colspecs(writer)
    cols = [c for c, _ in colspecs]

    def _int_or_none(summ: dict[str, Any], key: str) -> int | None:
        v = summ.get(key)
        try:
            return int(v)
        except (TypeError, ValueError):
            return None

    def _window_ok() -> bool:
        # A snapshot with NO summary/operation (externally-written
        # metadata) is treated as an unknown non-append: routing an
        # unknown delete/overwrite through the incremental union would
        # silently keep inflated NDVs (theta sketches only grow).
        killed = 0
        for s in window:
            summ = s.get("summary") or {}
            op = summ.get("operation")
            if op == "append":
                continue
            if op != "delete":
                return False
            eq = _int_or_none(summ, "added-equality-deletes")
            pos = _int_or_none(summ, "added-position-deletes")
            dropped = _int_or_none(summ, "deleted-records")
            if eq is None or pos is None or dropped is None or eq > 0:
                # missing censuses (foreign/pre-r11 metadata) or
                # equality deletes (one key kills unboundedly many
                # rows): the overestimate is unbounded — rebuild
                return False
            killed += pos + dropped
        if killed == 0:
            return True
        total = _int_or_none(head.get("summary") or {}, "total-records")
        if total is None:
            return False
        return killed <= STATS_REFRESH_MAX_DELETED_FRACTION * max(1, total)

    if base_entry is None or not _window_ok():
        return write_table_statistics(writer, spark), "full"
    blob_by_fid = {
        b["fields"][0]: b
        for b in base_entry.get("blob-metadata", [])
        if b.get("type") == THETA_BLOB_TYPE and len(b.get("fields", [])) == 1
    }
    for f in writer.fields:
        if (
            f["name"] in cols
            and "initial-default" in f
            and writer.ids[f["name"]] not in blob_by_fid
        ):
            return write_table_statistics(writer, spark), "full"
    t = IcebergTable(writer.path)
    now_recs = t.plan_files()
    t.open_snapshot(snapshot_id=base_entry["snapshot-id"])
    try:
        then_paths = {f["file_path"] for f in t.plan_files()}
    finally:
        t.open_snapshot(snapshot_id=head_id)
    added = [
        f["file_path"] for f in now_recs if f["file_path"] not in then_paths
    ]
    if added:
        df = t.to_df(spark, columns=cols, file_subset=added)
        new_sketches = build_column_sketches(df, colspecs)
    else:
        new_sketches = {c: ThetaSketch.from_hashes([]) for c in cols}
    stats_path = base_entry["statistics-path"]
    merged: dict[str, Any] = {}
    for c, _typ in colspecs:
        base_blob = blob_by_fid.get(writer.ids[c])
        if base_blob is None:
            merged[c] = new_sketches[c]
        else:
            merged[c] = ThetaSketch.deserialize(
                read_blob(stats_path, base_blob)
            ).union(new_sketches[c])
    ndv = {c: int(round(merged[c].estimate())) for c in cols}
    return _publish_statistics(writer, head_id, merged, ndv), "incremental"


def write_partition_statistics(writer: "IcebergWriter") -> str:
    """Partition-statistics file (Iceberg spec "Partition statistics"):
    one spec-shaped parquet row per (spec_id, partition tuple) with data
    record/file counts, byte totals, and delete-file counts, registered
    under the metadata ``partition-statistics`` list.  METADATA-ONLY —
    derived from manifests, zero data IO — which is the point: engines
    answer per-partition row counts and plan partition-grained
    maintenance from this file instead of scanning manifests each time.
    Replaces the current snapshot's entry idempotently; returns the
    file path."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.planner import transform_result_type

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    # unified partition tuple: the union of all specs' fields, nullable
    part_fields: list[tuple[str, Any]] = []
    seen = set()
    for spec in writer.specs:
        for pf in spec:
            if pf["name"] in seen:
                continue
            seen.add(pf["name"])
            rtype = transform_result_type(
                pf["transform"], writer.types[pf["_source_name"]]
            )
            part_fields.append(
                (pf["name"], _PA_TYPES.get(rtype, pa.string()))
            )
    groups: dict[tuple, dict[str, int]] = {}

    def slot(spec_id: int, partition: dict[str, Any]) -> dict[str, int]:
        key = (spec_id, tuple(sorted((partition or {}).items())))
        return groups.setdefault(
            key,
            {
                "data_record_count": 0,
                "data_file_count": 0,
                "total_data_file_size_in_bytes": 0,
                "position_delete_record_count": 0,
                "position_delete_file_count": 0,
                "equality_delete_record_count": 0,
                "equality_delete_file_count": 0,
            },
        )

    for f in t.plan_files():
        s = slot(f.get("_spec_id", 0), f.get("partition"))
        s["data_record_count"] += f.get("record_count") or 0
        s["data_file_count"] += 1
        s["total_data_file_size_in_bytes"] += f.get("file_size_in_bytes") or 0
    for d in t.plan_deletes():
        s = slot(d.get("_spec_id", 0), d.get("partition"))
        if d.get("content") == 2:
            s["equality_delete_record_count"] += d.get("record_count") or 0
            s["equality_delete_file_count"] += 1
        else:
            s["position_delete_record_count"] += d.get("record_count") or 0
            s["position_delete_file_count"] += 1
    keys = sorted(groups, key=lambda k: (k[0], str(k[1])))
    arrays: dict[str, Any] = {}
    arrays["partition"] = pa.array(
        [dict(k[1]) for k in keys],
        type=pa.struct([pa.field(n, typ) for n, typ in part_fields]),
    ) if part_fields else pa.array(
        [{}] * len(keys), type=pa.struct([pa.field("__unpartitioned", pa.bool_())])
    )
    arrays["spec_id"] = pa.array([k[0] for k in keys], pa.int32())
    for col, typ in (
        ("data_record_count", pa.int64()),
        ("data_file_count", pa.int32()),
        ("total_data_file_size_in_bytes", pa.int64()),
        ("position_delete_record_count", pa.int64()),
        ("position_delete_file_count", pa.int32()),
        ("equality_delete_record_count", pa.int64()),
        ("equality_delete_file_count", pa.int32()),
    ):
        arrays[col] = pa.array([groups[k][col] for k in keys], typ)
    name = f"partition-stats-{snapshot_id}-{uuid.uuid5(uuid.NAMESPACE_URL, f'pstats{snapshot_id}').hex[:8]}.parquet"
    path = f"{writer.path}/metadata/{name}"
    pq.write_table(pa.table(arrays), path)
    entry = {
        "snapshot-id": snapshot_id,
        "statistics-path": path,
        "file-size-in-bytes": os.path.getsize(path),
    }
    writer.partition_statistics = [
        e
        for e in writer.partition_statistics
        if e["snapshot-id"] != snapshot_id
    ] + [entry]
    writer._publish()
    return path


def _norm_data_path(p: str) -> str:
    """Canonical form for comparing data-file paths across the Spark scan
    (``_metadata.file_path``, ``file:``-prefixed) and manifest entries
    (writer-relative or scheme-prefixed): strip the file: scheme, resolve
    symlinks/relative segments."""
    return os.path.realpath(re.sub(r"^file:/+", "/", p))


def commit_spark_overwrite(
    writer: "IcebergWriter",
    data_dir: str,
    removed_paths: list[str],
    partition_col: str | list[str] | None = None,
    path_col: str | list[str] | None = None,
) -> int:
    """Commit a distributed rewrite as ONE overwrite snapshot: the files
    under ``data_dir`` are added (footer-lifted), ``removed_paths`` are
    tombstoned, untouched manifests carry forward.  The metadata-side
    half of ``merge_rows_spark`` / a Spark compaction job.

    Paths are compared scheme-stripped + realpath'd on both sides, and a
    removed path matching no manifest entry raises — a silent no-match
    would leave the "removed" file live alongside its rewrite,
    duplicating rows."""
    snapshot_id = writer._next_snapshot_id
    add_entries = _entries_from_spark_dir(
        writer, data_dir, snapshot_id, partition_col, path_col
    )
    removed = {_norm_data_path(p) for p in removed_paths}
    found: set[str] = set()

    def is_removed(e: dict[str, Any], _mf: dict[str, Any]) -> bool:
        norm = _norm_data_path(e["data_file"]["file_path"])
        if norm in removed:
            found.add(norm)
            return True
        return False

    carried, hits_by_spec = writer._tombstone_rewrite(is_removed, snapshot_id)
    missing = removed - found
    if missing:
        raise ValueError(
            f"{len(missing)} removed path(s) matched no live manifest entry "
            f"(first: {sorted(missing)[0]!r}); refusing a commit that would "
            "leave rewritten files' originals live"
        )
    writer._commit(
        snapshot_id,
        [
            (writer.current_spec_id, add_entries),
            *_tombstones(hits_by_spec, snapshot_id),
        ],
        "overwrite",
        carried,
    )
    return snapshot_id


# Catalyst size estimate above which the update side of a distributed
# MERGE is NOT hint-forced to broadcast (same rationale as
# scan.BROADCAST_DELETE_MAX_BYTES: a real MERGE can carry a multi-GB
# update set, and a forced broadcast of it OOMs the driver).  Below the
# threshold the hint saves a shuffle deterministically; above — or when
# no estimate is available — the join is left unhinted so AQE decides
# from runtime sizes.
BROADCAST_UPDATES_MAX_BYTES = 32 << 20


def _maybe_broadcast_updates(u: Any) -> Any:
    from pyspark.sql import functions as F

    try:
        est = int(
            u._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return u
    return F.broadcast(u) if est <= BROADCAST_UPDATES_MAX_BYTES else u


def overwrite_partitions_spark(
    writer: "IcebergWriter",
    spark: Any,
    df: Any,
    partition_col: str | list[str],
    path_col: str | list[str] | None = None,
) -> int | None:
    """Dynamic partition overwrite (``INSERT OVERWRITE`` semantics):
    replace ALL existing files of exactly the partitions present in
    ``df`` — untouched partitions carry forward — as ONE overwrite
    snapshot.  Executors write the replacement files in parallel
    (``partitionBy``); the driver derives the replaced partition tuples
    from the written output's hive segments and runs the pure-metadata
    ``commit_spark_overwrite``, so driver cost is O(files-in-replaced-
    partitions), never O(rows).  ``partition_col``/``path_col`` follow
    ``commit_spark_output``'s convention (the hive segment carries the
    TRANSFORMED value under a duplicate column).  Partition identity is
    compared on the spec fields ``partition_col`` names — pass every
    partition source of the spec for full-tuple replacement.  Returns
    the snapshot id, or None for an empty frame."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    pcols = [partition_col] if isinstance(partition_col, str) else list(partition_col)
    seg = path_col or partition_col
    segs = [seg] if isinstance(seg, str) else list(seg)
    stage = _stage_dir(writer, "dpo_")
    df.write.mode("overwrite").partitionBy(*segs).parquet(stage)
    probe = _entries_from_spark_dir(writer, stage, 0, pcols, segs)
    if not probe:
        return None
    keys = sorted({k for e in probe for k in e["data_file"]["partition"]})
    new_parts = {
        tuple(e["data_file"]["partition"].get(k) for k in keys) for e in probe
    }
    t = IcebergTable(writer.path)
    removed = [
        f["file_path"]
        for f in t.plan_files()
        if tuple((f.get("partition") or {}).get(k) for k in keys) in new_parts
    ]
    return commit_spark_overwrite(writer, stage, removed, pcols, segs)


def merge_rows_spark(
    writer: "IcebergWriter",
    spark: Any,
    updates: Any,
    key_cols: list[str],
) -> int:
    """Distributed copy-on-write MERGE: the cluster-scale twin of
    ``merge_rows``.  Spark identifies the matched files (semi join
    against the update set — broadcast only when its Catalyst size
    estimate is small, otherwise AQE decides), rewrites ONLY those
    files' rows with updates applied plus inserts for unmatched keys,
    and writes the replacement files in parallel; the driver then runs
    the pure-metadata ``commit_spark_overwrite``.  Driver state is
    O(matched files) paths — never rows.  The matched-file filter is a
    semi-join against the file-list DataFrame, not an ``isin`` literal,
    so the plan stays O(1) in the file count.

    Update semantics mirror ``merge_rows``' ``{**row, **update}``: a
    matched row takes the update's value for every update column —
    including explicit NULLs (presence-marker join, not coalesce).
    Duplicate keys in ``updates`` raise, as in ``merge_rows`` — a
    duplicate would fan out the rewrite join and silently duplicate
    matched rows.

    v2 deletes apply during the tagged read (``to_df(keep_file=True)``
    routes through the delete-aware scan), so rewrites never resurrect
    deleted rows.  Partitioned tables (any number of spec fields) hive-
    partition the rewrite on the transformed values; updates that move
    rows across partitions land correctly because the dup columns are
    computed from the FINAL row values."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from pyspark.sql import functions as F

    t = IcebergTable(writer.path)
    # row_lineage: a CoW merge rewrites EVERY row of the matched files —
    # carried-over and updated rows alike keep their _row_id (updated
    # rows drop _last_updated_sequence_number so it re-inherits the new
    # commit's sequence; carried rows keep their original)
    tagged = t.to_df(spark, keep_file=True, row_lineage=True)
    data_cols = [f["name"] for f in writer.fields]
    upd_cols = [c for c in updates.columns if c in data_cols]
    if not set(key_cols) <= set(upd_cols):
        raise ValueError("updates must carry every key column")
    u = updates.select(*upd_cols)
    if (
        u.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    ):
        raise ValueError("duplicate keys in updates")
    ug = _maybe_broadcast_updates(u)
    matched_files_df = (
        tagged.join(ug, key_cols, "left_semi")
        .select("__file")
        .distinct()
        .localCheckpoint()
    )
    # the metadata commit needs the paths on the driver (metadata-scale:
    # file names, not rows); the rewrite plan reuses the DataFrame via a
    # semi-join so no O(files) literal ever enters a plan
    matched_files = [r["__file"] for r in matched_files_df.collect()]
    rewrite_src = tagged.join(matched_files_df, "__file", "left_semi").alias("t")
    ub = _maybe_broadcast_updates(
        u.withColumn("__matched", F.lit(True))
    ).alias("u")
    applied = rewrite_src.join(ub, key_cols, "left").select(
        *[
            (
                F.when(F.col("u.__matched"), F.col(f"u.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                if c in upd_cols and c not in key_cols
                else F.col(f"t.{c}").alias(c)
            )
            for c in data_cols
        ],
        F.col("t._row_id").alias("_row_id"),
        F.when(
            F.col("u.__matched").isNull(),
            F.col("t._last_updated_sequence_number"),
        ).alias("_last_updated_sequence_number"),
    )
    inserts = u.join(tagged, key_cols, "left_anti").select(
        *[
            (F.col(c) if c in upd_cols else F.lit(None)).cast(
                dict(tagged.dtypes)[c]
            ).alias(c)
            for c in data_cols
        ],
        F.lit(None).cast("long").alias("_row_id"),
        F.lit(None).cast("long").alias("_last_updated_sequence_number"),
    )
    out, spec_names, hive_cols = _with_partition_columns(
        writer, applied.unionByName(inserts)
    )
    stage = _stage_dir(writer, "merge_rw_")
    out.write.mode("overwrite").partitionBy(*hive_cols).parquet(stage)
    return commit_spark_overwrite(
        writer, stage, matched_files, spec_names, hive_cols
    )


def commit_with_retries(
    path: str,
    attempt: Any,
    removes: Any = None,
    max_retries: int = 5,
) -> Any:
    """Iceberg optimistic-concurrency retry loop with CONFLICT SCOPING —
    what every caller of ``CommitConflictError`` otherwise hand-rolls.

    ``attempt(writer)`` runs the operation against a freshly loaded
    writer and returns its result (typically a snapshot id).  Losing the
    metadata-version race raises ``CommitConflictError``; this reloads
    and re-validates instead of failing outright:

    - **append-vs-anything always merges** (``removes=None``): appends
      compose with any concurrent commit, so the attempt simply re-runs
      on the new head — real Iceberg's fastAppend retry semantics.
    - **overwrites re-validate**: ``removes(writer)`` declares the data
      files the operation rewrites/removes.  The retry only proceeds
      when the concurrent commit left ALL of them live; if it removed or
      rewrote any (compaction, a competing overwrite), the lost update
      is real and the conflict re-raises — matching real Iceberg's
      ``validateNoConflicting*`` serializable checks at file
      granularity (partition-scoped overwrites pass the replaced files).

    Data files staged by a failed attempt become unreferenced and are
    reclaimed by ``remove_orphan_files``.  Bounded at ``max_retries``
    re-attempts; the final conflict re-raises."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    for i in range(max_retries + 1):
        w = IcebergWriter.load(path)
        ours = set(removes(w)) if removes is not None else set()
        try:
            return attempt(w)
        except CommitConflictError:
            if i == max_retries:
                raise
            post_live = {
                f["file_path"] for f in IcebergTable(path).plan_files()
            }
            gone = ours - post_live
            if gone:
                raise CommitConflictError(
                    "concurrent commit removed/rewrote files this overwrite "
                    f"targets ({sorted(gone)[:3]}...); retrying would lose "
                    "its update"
                ) from None
    raise AssertionError("unreachable")


# -- write-audit-publish (WAP) staging ---------------------------------------


def stage_append(
    writer: "IcebergWriter", rows: list[dict[str, Any]], branch: str
) -> int:
    """WAP step 1 (write): append ``rows`` as a snapshot visible ONLY via
    ``branch`` — plain readers (current-snapshot-id / main) keep seeing
    the pre-stage table.  Repeated staged appends chain on the branch.
    Audit with ``IcebergTable.open_snapshot(ref=branch)``, then
    ``publish_branch`` (fast-forward main) or ``abort_stage`` (discard).
    The pattern every production ingestion pipeline runs: validate the
    batch on the real table before anyone can read it."""
    if not writer.snapshots:
        raise ValueError("stage_append requires a published snapshot to pin")
    if writer.main_pin is None:
        # pin the CURRENT HEAD (head_snapshot), not the newest commit:
        # after a rollback those differ, and pinning snapshots[-1] would
        # republish the rolled-past state for the whole stage window
        writer.main_pin = writer.head_snapshot["snapshot-id"]
    staged_id = writer._next_snapshot_id
    writer.refs[branch] = {"snapshot-id": staged_id, "type": "branch"}
    writer.append(rows)
    return staged_id


def publish_branch(writer: "IcebergWriter", branch: str) -> int:
    """WAP step 3 (publish): fast-forward main to the branch head — a
    pure-metadata commit; the audited files become visible atomically."""
    if branch not in writer.refs:
        raise ValueError(f"no such branch {branch!r}")
    head = writer.refs[branch]["snapshot-id"]
    last = writer.snapshots[-1]["snapshot-id"]
    writer.main_pin = None if head == last else head
    del writer.refs[branch]
    writer._publish()
    return head


def abort_stage(writer: "IcebergWriter", branch: str) -> list[int]:
    """WAP abort: drop the staged snapshots (everything after the pin)
    and restore the writer's live-manifest state to the published head.
    The staged data files become unreferenced (reclaimed by
    ``remove_orphan_files``).  Requires the stage being aborted to be
    the only in-flight stage (staged commits chain linearly)."""
    from daskberg_spark.iceberg.avro import read_avro_file

    if branch not in writer.refs:
        raise ValueError(f"no such branch {branch!r}")
    if writer.main_pin is None:
        raise ValueError("no stage is pinned")
    pin = writer.main_pin
    # the staged chain is exactly the branch tip's parent walk down to
    # the pin — NOT "ids greater than the pin", which after a rollback
    # would also sweep away unrelated rolled-past snapshots
    by_id = {s["snapshot-id"]: s for s in writer.snapshots}
    dropped: list[int] = []
    cur = by_id.get(writer.refs[branch]["snapshot-id"])
    while cur is not None and cur["snapshot-id"] != pin:
        dropped.append(cur["snapshot-id"])
        parent = cur.get("parent-snapshot-id")
        cur = by_id.get(parent) if parent is not None else None
    if cur is None:
        raise ValueError(f"branch {branch!r} does not descend from the pin")
    writer.snapshots = [
        s for s in writer.snapshots if s["snapshot-id"] not in set(dropped)
    ]
    published = by_id[pin]
    _, writer.manifests = read_avro_file(published["manifest-list"])
    # running summary totals include the dropped staged commits' deltas;
    # resume from the published head's summary (same rule as rollback),
    # else stop emitting totals
    _tkeys = (
        "total-data-files", "total-delete-files",
        "total-records", "total-files-size",
    )
    _psum = published.get("summary") or {}
    writer._totals = (
        {k: int(_psum[k]) for k in _tkeys}
        if all(k in _psum for k in _tkeys)
        else None
    )
    del writer.refs[branch]
    writer.main_pin = None
    writer.head_id = (
        None
        if writer.snapshots[-1]["snapshot-id"] == pin
        else pin
    )
    writer._publish()
    return dropped


def delete_where_spark(
    writer: "IcebergWriter", spark: Any, predicate: Any
) -> int | None:
    """Distributed merge-on-read DELETE: executors scan the table through
    the delete-aware tagged read (``keep_pos``), find the rows matching
    ``predicate`` (a SQL string or Column), and write their (file, pos)
    identities as v2 position-delete parquet — one file per write task,
    footer-lifted into a single ``delete`` snapshot.  The row data is
    never rewritten (contrast ``merge_rows``' copy-on-write): the cost is
    O(matches) + metadata, the read-time cost one anti-join — the
    standard trade for frequent small deletes on a 100 TB table, with
    ``compact_files`` folding the deletes in later.  Driver state is
    O(delete files), never O(rows).  Each delete file commits under its
    targets' spec and partition (staged hive-partitioned by a scope id
    attached like ``to_df``'s ``__seq``): Iceberg v2 planning applies a
    position delete only to files of the delete's spec and partition.
    Returns the snapshot id, or None when nothing matches."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.scan import _attach_path_value

    t = IcebergTable(writer.path)
    scopes: dict[tuple[int, tuple], int] = {}  # (spec id, partition) → id
    pairs = [
        (
            f["file_path"],
            scopes.setdefault(
                (f.get("_spec_id", 0), tuple((f.get("partition") or {}).items())),
                len(scopes),
            ),
        )
        for f in t.plan_files()
    ]
    tagged = t.to_df(spark, keep_pos=True)
    hits = _attach_path_value(
        tagged.filter(predicate), spark, "__file", "__scope", pairs
    ).select(
        F.col("__file").alias("file_path"), F.col("__pos").alias("pos"), "__scope"
    )
    # spec recommends position deletes sorted by (file_path, pos); sorting
    # within tasks keeps the write fully parallel
    stage = _stage_dir(writer, "pos_del_")
    hits.sortWithinPartitions("__scope", "file_path", "pos").write.mode(
        "overwrite"
    ).partitionBy("__scope").parquet(stage)
    snapshot_id = writer._next_snapshot_id
    entries = _delete_entries(writer, stage, snapshot_id, 1)
    if not entries:
        return None
    by_id = {i: scope for scope, i in scopes.items()}
    groups: dict[int, list[dict[str, Any]]] = {}
    for e in entries:
        m = re.search(r"/__scope=(\d+)/", e["data_file"]["file_path"])
        spec_id, partition = by_id[int(m.group(1))]
        e["data_file"]["partition"] = dict(partition)
        groups.setdefault(spec_id, []).append(e)
    writer._commit(snapshot_id, sorted(groups.items()), "delete")
    return snapshot_id


def delete_where_dv_spark(
    writer: "IcebergWriter", spark: Any, predicate: Any
) -> int | None:
    """Distributed v3 deletion-vector DELETE: executors scan the table
    through the delete-aware tagged read, filter to ``predicate``'s
    matches, and build one serialized roaring bitmap per target data
    file (``applyInPandas`` keyed on ``__file`` — position lists never
    leave the executors as rows).  The driver collects only the
    FINISHED bitmap blobs (~2 bytes per dense deleted row, one blob per
    touched file) and packs them into a single Puffin file committed as
    one ``delete`` snapshot, so driver state is O(touched files ×
    compressed bitmap), never O(rows).  The v3 counterpart of
    ``delete_where_spark``; returns the snapshot id or None when
    nothing matches."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(writer.path)
    tagged = t.to_df(spark, keep_pos=True)
    hits = tagged.filter(predicate).select("__file", "__pos")
    snapshot_id = writer._next_snapshot_id
    entries = _dv_manifest_entries_spark(writer, spark, hits, snapshot_id)
    if not entries:
        return None
    return _commit_dv_snapshot(writer, snapshot_id, entries)


def delete_where_fast(
    writer: "IcebergWriter", spark: Any, filters: Any
) -> int | None:
    """Stats/partition-aligned DELETE — real Iceberg's metadata-delete
    fast path, extended with a pruned merge-on-read tail:

    1. Plan live data files; keep only those that MAY contain matches
       (the ordinary may-match prune — non-candidates cost nothing).
    2. Files where EVERY row provably matches the DNF filter
       (``planner.file_all_rows_match``: identity/ordered-transform
       partition values, or min-max bounds + a no-NULLs proof from
       ``null_value_counts``/required-ness) become DELETED tombstone
       entries — ZERO data IO.  Dropping a whole day partition of a
       100 TB table is a pure metadata commit.
    3. Only the PARTIAL files — candidates without a whole-file proof —
       are scanned (``to_df(file_subset=...)``), and their matching
       (file, pos) identities become v3 deletion vectors on the shared
       executor blob path.

    All of it lands as ONE ``delete`` snapshot, so readers never see an
    intermediate state.  ``filters`` must be the planner's DNF tuple
    form (that is what makes the whole-file proof decidable — an opaque
    SQL string routes to ``delete_where_dv_spark``).  ``spark`` is only
    touched when partial files exist: the pure-partition-drop case runs
    entirely on the driver at manifest scale.  Returns the snapshot id,
    or None when no file may contain a match."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.planner import (
        apply_filters,
        file_all_rows_match,
    )

    if not filters or not isinstance(filters, (list, tuple)):
        raise ValueError(
            "delete_where_fast needs DNF filters (list of (col, op, val) "
            "tuples, or a list of such lists); use delete_where_dv_spark "
            "for arbitrary predicates"
        )
    t = IcebergTable(writer.path)
    live = t.plan_files(None)
    fields = t.fields  # property walks the schema — resolve once
    may = apply_filters(live, filters, fields, t._spec_fields)
    if not may:
        return None
    spec_cache: dict[int, dict[int, dict[str, Any]]] = {}

    def spec_map(f: dict[str, Any]) -> dict[int, dict[str, Any]]:
        sid = f.get("_spec_id", 0)
        if sid not in spec_cache:
            spec_cache[sid] = {
                sf["source-id"]: sf for sf in t._spec_fields(sid)
            }
        return spec_cache[sid]

    full_paths: set[str] = set()
    partial: list[dict[str, Any]] = []
    for f in may:
        if file_all_rows_match(f, filters, fields, spec_map(f)):
            full_paths.add(_norm_data_path(f["file_path"]))
        else:
            partial.append(f)
    snapshot_id = writer._next_snapshot_id
    dv_entries: list[dict[str, Any]] = []
    if partial:
        tagged = t.to_df(
            spark,
            keep_pos=True,
            filters=filters,
            file_subset={f["file_path"] for f in partial},
        )
        hits = tagged.select("__file", "__pos")
        dv_entries = _dv_manifest_entries_spark(
            writer, spark, hits, snapshot_id
        )
    if not full_paths and not dv_entries:
        return None
    superseded = _superseded_by(dv_entries)
    # one rewrite for both removals: two would each start from
    # writer.manifests and the second would undo the first's rewrite
    carried, hits_by_spec = writer._tombstone_rewrite(
        lambda e, mf: superseded(e, mf)
        or e["data_file"].get("content", 0) == 0
        and _norm_data_path(e["data_file"]["file_path"]) in full_paths,
        snapshot_id,
    )
    writer._commit(
        snapshot_id,
        [
            *_tombstones(hits_by_spec, snapshot_id),
            (writer.current_spec_id, dv_entries),
        ],
        "delete",
        carried,
    )
    return snapshot_id


def _live_dv_records(writer: "IcebergWriter") -> dict[str, dict[str, Any]]:
    """Live deletion vectors by target data file, from the writer's
    census (``_live_entries`` — the staged head, not a WAP-pinned
    snapshot, so a DV committed earlier in the staged chain is merged
    rather than doubled, which would break the one-DV-per-file
    invariant for newest-DV-only readers)."""
    _data, deletes, _ = _live_entries(writer)
    live_dvs: dict[str, dict[str, Any]] = {}
    for e, mf in deletes.values():
        rec = e["data_file"]
        if (
            (rec.get("file_format") or "").upper() == "PUFFIN"
            and rec.get("content") == 1
            and rec.get("referenced_data_file")
        ):
            # key by the NORMALIZED target path: callers look up with
            # the scan's scheme-stripped/realpathed __file, and a
            # verbatim key (e.g. a file:-prefixed user-supplied target)
            # would miss — skipping the prior-DV merge and leaving TWO
            # live DVs for one file (newest-only readers then resurrect
            # rows)
            live_dvs[_norm_data_path(rec["referenced_data_file"])] = dict(
                rec, _sequence_number=_entry_seq(e, mf)
            )
    return live_dvs


def _write_dv_puffin(
    path: str,
    items: list[tuple[str, bytes, int]],
    snapshot_id: int,
    seq: int,
) -> list[tuple[str, str, int, int, int, int]]:
    """Write ``(target, blob bytes, cardinality)`` deletion vectors as
    the ``deletion-vector-v1`` blobs of ONE puffin file — the one body
    of the driver-side writer and the executor shard task.  Returns one
    ``(target, path, file size, offset, length, cardinality)`` row per
    blob."""
    from daskberg_spark.iceberg.puffin import write_puffin

    metas = write_puffin(
        path,
        [
            {
                "type": "deletion-vector-v1",
                "fields": [],
                "snapshot-id": snapshot_id,
                "sequence-number": seq,
                "properties": {
                    "referenced-data-file": target,
                    "cardinality": str(int(cardinality)),
                },
                "data": bytes(blob),
            }
            for target, blob, cardinality in items
        ],
    )
    size = os.path.getsize(path)
    return [
        (
            m["properties"]["referenced-data-file"],
            path,
            size,
            m["offset"],
            m["length"],
            int(m["properties"]["cardinality"]),
        )
        for m in metas
    ]


def _dv_entries(
    writer: "IcebergWriter",
    added: list[tuple[str, str, int, int, int, int]],
    snapshot_id: int,
) -> list[dict[str, Any]]:
    """Manifest entries for written DV blobs (``_write_dv_puffin`` rows):
    one ADDED entry per blob.  The prior live DVs they supersede are
    removed by the committing writer (``_superseded_by``)."""
    writer._format_version = 3
    return [
        {
            "status": 1,
            "snapshot_id": snapshot_id,
            "data_file": {
                "content": 1,
                "file_path": path,
                "file_format": "PUFFIN",
                "partition": {},
                "record_count": cardinality,
                "file_size_in_bytes": file_size,
                "lower_bounds": None,
                "upper_bounds": None,
                "equality_ids": None,
                "referenced_data_file": target,
                "content_offset": offset,
                "content_size_in_bytes": length,
            },
        }
        for target, path, file_size, offset, length, cardinality in added
    ]


def _superseded_by(dv_entries: list[dict[str, Any]]):
    """``_tombstone_rewrite`` hit test for the live DVs that the new
    ``dv_entries`` supersede: each new blob holds its target's prior
    positions (``_live_dv_records``), so the target's live DV goes —
    at most one live DV per data file, as the v3 spec requires."""
    targets = {e["data_file"]["referenced_data_file"] for e in dv_entries}

    def hit(e: dict[str, Any], _mf: dict[str, Any]) -> bool:
        rec = e["data_file"]
        return (
            rec.get("content") == 1
            and bool(rec.get("referenced_data_file"))
            and (rec.get("file_format") or "").upper() == "PUFFIN"
            and _norm_data_path(rec["referenced_data_file"]) in targets
        )

    return hit


def _dv_manifest_entries(
    writer: "IcebergWriter",
    dvs: list[tuple[str, bytes, int]],
    snapshot_id: int,
) -> list[dict[str, Any]]:
    """Pack finished ``(target, blob bytes, cardinality)`` deletion
    vectors into ONE puffin file and return the manifest entries for a
    committing snapshot — the driver-side path (small DV sets and the
    driver key-list API); the distributed writers route through
    ``_dv_manifest_entries_spark``.

    Maintains the v3 invariant of AT MOST ONE deletion vector per data
    file: when a target already carries a live DV, its positions are
    merged into the new blob, and the committing writer removes the
    superseded DV (``_superseded_by``) — a spec-conformant foreign
    reader that applies only the newest DV per file then sees every
    deleted position."""
    from daskberg_spark.iceberg.puffin import dv_blob, dv_decode, dv_decode_file

    live_dvs = _live_dv_records(writer)
    rows = []
    for target, blob, cardinality in dvs:
        old = live_dvs.get(target)
        if old is not None:
            positions = sorted(
                set(dv_decode(blob))
                | set(
                    dv_decode_file(
                        old["file_path"],
                        old["content_offset"],
                        old["content_size_in_bytes"],
                    )
                )
            )
            blob, cardinality = dv_blob(positions), len(positions)
        rows.append({"file": target, "blob": blob, "cardinality": cardinality})
    return _dv_entries_from_rows(writer, rows, snapshot_id)


# Distributed-DV commit shape: at or below the gate the finished blobs
# collect to the driver and pack into ONE puffin (typical blobs are
# ~40 B-2 KB, so 1000 files is well under a MB of driver heap); above it
# the blobs NEVER leave the executors — each shard task writes its own
# puffin and ships only slim (target, path, offset, length, cardinality)
# rows, keeping driver heap flat in touched-file count (a merge touching
# millions of files otherwise puts the sum of all bitmaps on the driver).
DV_SHARD_FILE_GATE = 1000
DV_BLOBS_PER_SHARD = 1000


def _dv_entries_from_rows(
    writer: "IcebergWriter", rows: list, snapshot_id: int
) -> list[dict[str, Any]]:
    """Driver-side puffin write from already-prior-merged ``(file, blob,
    cardinality)`` rows — the small-commit tail shared by
    ``_dv_manifest_entries`` and both gates of
    ``_dv_manifest_entries_spark``."""
    writer._file_counter += 1
    path = (
        f"{writer.path}/data/"
        f"dv-{writer._file_counter:05d}-{writer._instance}.puffin"
    )
    added = _write_dv_puffin(
        path,
        [(r["file"], r["blob"], r["cardinality"]) for r in rows],
        snapshot_id,
        writer._last_sequence_number + 1,
    )
    return _dv_entries(writer, added, snapshot_id)


def _dv_manifest_entries_spark(
    writer: "IcebergWriter",
    spark: Any,
    matched_pos: Any,
    snapshot_id: int,
) -> list[dict[str, Any]]:
    """Build DV manifest entries from a ``(__file, __pos)`` DataFrame —
    the distributed twin of ``_dv_manifest_entries``.

    Stage 1 (executors): per target file, positions → one roaring blob,
    MERGED with the file's prior live DV (decoded executor-side from a
    broadcast ``{target: (path, offset, length)}`` map) so the v3
    one-DV-per-file invariant holds with zero driver decode.  Commits at
    or below ``DV_SHARD_FILE_GATE`` touched files collect the blobs and
    write one driver-side puffin; larger commits add stage 2: the blob
    rows shuffle into ``ceil(files / DV_BLOBS_PER_SHARD)`` partitions
    and each task writes its own puffin SHARD, shipping only blob
    METADATA rows to the driver.  Returns [] when nothing matched."""
    live_dvs = _live_dv_records(writer)
    prior = {
        t: (
            r["file_path"],
            int(r["content_offset"]),
            int(r["content_size_in_bytes"]),
        )
        for t, r in live_dvs.items()
    }
    prior_bc = spark.sparkContext.broadcast(prior)

    def make_dv(key, pdf):
        import pandas as pd

        from daskberg_spark.iceberg.puffin import dv_blob, dv_decode_file

        target = key[0]
        positions = set(int(p) for p in pdf["__pos"])
        old = prior_bc.value.get(target)
        if old is not None:
            positions |= set(dv_decode_file(*old))
        ordered = sorted(positions)
        return pd.DataFrame(
            {
                "file": [target],
                "blob": [dv_blob(ordered)],
                "cardinality": [len(ordered)],
            }
        )

    blobs = matched_pos.groupBy("__file").applyInPandas(
        make_dv, "file string, blob binary, cardinality long"
    )
    # upper bound on touched files from the manifest list alone: when the
    # TABLE holds fewer files than the gate the commit cannot exceed it,
    # so skip the persist+count pre-pass and collect in one action (the
    # hot small-commit path pays zero extra Spark jobs)
    table_files = sum(
        (mf.get("added_data_files_count") or 0)
        + (mf.get("existing_data_files_count") or 0)
        for mf in writer.manifests
    )
    if table_files <= DV_SHARD_FILE_GATE:
        rows = sorted(blobs.collect(), key=lambda r: r["file"])
        if not rows:
            return []
        return _dv_entries_from_rows(writer, rows, snapshot_id)
    blobs = blobs.persist()
    try:
        n_files = blobs.count()
        if n_files == 0:
            return []
        seq = writer._last_sequence_number + 1
        if n_files <= DV_SHARD_FILE_GATE:
            rows = sorted(blobs.collect(), key=lambda r: r["file"])
            return _dv_entries_from_rows(writer, rows, snapshot_id)
        else:
            table_path, instance = writer.path, writer._instance
            n_shards = max(1, -(-n_files // DV_BLOBS_PER_SHARD))

            def write_shard(batches):
                import uuid as _uuid

                import pandas as pd

                from daskberg_spark.iceberg.writer import _write_dv_puffin

                items = []
                for pdf in batches:
                    for f_, b_, c_ in pdf.itertuples(index=False):
                        items.append((str(f_), bytes(b_), int(c_)))
                if not items:
                    return
                items.sort(key=lambda t: t[0])
                shard = (
                    f"{table_path}/data/"
                    f"dv-{_uuid.uuid4().hex}-{instance}-shard.puffin"
                )
                yield pd.DataFrame(
                    _write_dv_puffin(shard, items, snapshot_id, seq),
                    columns=[
                        "file", "path", "size", "offset", "length", "cardinality"
                    ],
                )

            meta_rows = (
                blobs.repartition(n_shards)
                .mapInPandas(
                    write_shard,
                    "file string, path string, size long, offset long, "
                    "length long, cardinality long",
                )
                .collect()
            )
            added = [
                (
                    r["file"],
                    r["path"],
                    int(r["size"]),
                    int(r["offset"]),
                    int(r["length"]),
                    int(r["cardinality"]),
                )
                for r in sorted(meta_rows, key=lambda r: r["file"])
            ]
    finally:
        blobs.unpersist()
    return _dv_entries(writer, added, snapshot_id)


def _commit_dv_snapshot(
    writer: "IcebergWriter", snapshot_id: int, dv_entries: list[dict[str, Any]]
) -> int:
    """Commit new DV entries as one v3 ``delete`` snapshot that also
    removes the DVs they supersede — shared by the driver-side and
    distributed DV writers."""
    writer._commit_removing(
        snapshot_id,
        _superseded_by(dv_entries),
        [(writer.current_spec_id, dv_entries)],
        "delete",
    )
    return snapshot_id


def merge_rows_mor_spark(
    writer: "IcebergWriter",
    spark: Any,
    updates: Any,
    key_cols: list[str],
    not_matched_by_source_delete: bool = False,
) -> int:
    """Distributed MERGE-ON-READ MERGE: matched rows become v3
    deletion-vector tombstones on their (file, position) identity and
    their UPDATED values are appended as new data files, together with
    inserts for unmatched keys, all in ONE ``overwrite`` commit.

    This is the 100 TB merge path the copy-on-write twin
    (``merge_rows_spark``) cannot be: CoW rewrites EVERY file containing
    a matched row — a wide low-selectivity merge rewrites most of the
    table — while here write amplification is O(matched rows), not
    O(rows in matched files).  Executors build one roaring bitmap per
    touched file (``applyInPandas`` keyed on ``__file``; position lists
    never leave the executors as rows) and write the replacement rows in
    parallel; the driver holds finished bitmap blobs and parquet footer
    stats only.  The plan is FLAT in the matched-file count — no
    per-file union legs, no file-path literals.

    Update semantics mirror ``merge_rows_spark``: a matched row takes
    the update's value for every update column including explicit NULLs;
    duplicate update keys raise.  Reads reconcile by sequence number:
    the DV (this commit's sequence) suppresses the old row versions, the
    appended files carry the same sequence and stay live.  Readers that
    apply only the newest DV per file stay correct — existing DV
    positions merge into the new blobs (v3 single-DV invariant).
    Returns the snapshot id.  Reference has no writing at all
    (``README.md:92-94``); real Iceberg calls this
    ``merge-on-read`` / ``write.merge.mode=merge-on-read``.

    ``not_matched_by_source_delete=True`` adds SQL MERGE's ``WHEN NOT
    MATCHED BY SOURCE THEN DELETE`` clause (the full-sync shape: the
    source IS the desired table state): target rows whose key has no
    source row are DV-tombstoned in the same commit.  Merge-on-read is
    the only sane physical plan for this clause at scale — under CoW it
    degenerates to rewriting every file holding any unmatched row,
    i.e. normally the whole table — which is why only this twin grows
    the option."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from pyspark.sql import functions as F

    t = IcebergTable(writer.path)
    # row_lineage: the replacement rows MATERIALIZE their source row's
    # v3 _row_id, so an update keeps stable row identity (the spec's
    # "engines should carry row ids through updates"); inserted rows
    # write NULL and inherit fresh ids from the new file's first_row_id
    tagged = t.to_df(spark, keep_pos=True, row_lineage=True)
    data_cols = [f["name"] for f in writer.fields]
    upd_cols = [c for c in updates.columns if c in data_cols]
    if not set(key_cols) <= set(upd_cols):
        raise ValueError("updates must carry every key column")
    u = updates.select(*upd_cols)
    if (
        u.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .limit(1)
        .count()
    ):
        raise ValueError("duplicate keys in updates")
    ub = _maybe_broadcast_updates(u).alias("u")
    matched = tagged.alias("t").join(ub, key_cols, "inner")

    # replacement rows: matched rows with updates applied, plus inserts
    # for unmatched update keys (same semantics as the CoW twin)
    applied = matched.select(
        *[
            (
                F.col(f"u.{c}").alias(c)
                if c in upd_cols and c not in key_cols
                else F.col(f"t.{c}").alias(c)
            )
            for c in data_cols
        ],
        F.col("t._row_id").alias("_row_id"),
    )
    inserts = u.join(tagged, key_cols, "left_anti").select(
        *[
            (F.col(c) if c in upd_cols else F.lit(None))
            .cast(dict(tagged.dtypes)[c])
            .alias(c)
            for c in data_cols
        ],
        F.lit(None).cast("long").alias("_row_id"),
    )
    dead = matched.select("__file", "__pos")
    if not_matched_by_source_delete:
        # WHEN NOT MATCHED BY SOURCE THEN DELETE: target rows with no
        # source key join DV-tombstone alongside the matched rows — an
        # anti-join against the (broadcastable) update keys, positions
        # still never leaving the executors
        dead = dead.unionByName(
            tagged.join(_maybe_broadcast_updates(u), key_cols, "left_anti")
            .select("__file", "__pos")
        )
    return _commit_mor_changes(
        writer,
        dead,
        applied.unionByName(inserts),
        stage_prefix="merge_mor_",
    )


def upsert_spark(
    writer: "IcebergWriter",
    spark: Any,
    rows: Any,
    on: list[str] | None = None,
) -> int:
    """UPSERT by declared row identity: merge ``rows`` into the table
    keyed on the schema's ``identifier-field-ids``
    (``set_identifier_fields``) — the engine-level counterpart of
    writing to a table with a PRIMARY KEY.  ``on=`` overrides the key
    explicitly; without it, a table that never declared identifier
    fields raises rather than guessing.

    Physically a merge-on-read MERGE (``merge_rows_mor_spark``):
    matched rows DV-tombstone and re-append with the new values, new
    keys insert — write amplification O(upserted rows), the CDC-apply
    shape at 100 TB.  Returns the snapshot id."""
    return merge_rows_mor_spark(
        writer, spark, rows, _resolve_merge_key(writer, on)
    )


def update_where_mor_spark(
    writer: "IcebergWriter",
    spark: Any,
    predicate: Any,
    assignments: dict[str, Any],
) -> int | None:
    """Distributed merge-on-read UPDATE (``UPDATE t SET ... WHERE ...``
    under ``write.update.mode=merge-on-read``): rows matching
    ``predicate`` become DV tombstones on their (file, position)
    identity, and their values with ``assignments`` applied (column →
    SQL expression string or Column, evaluated against the current row)
    append as new files — one ``overwrite`` commit, write amplification
    O(matched rows).  The UPDATE specialization of
    ``merge_rows_mor_spark`` for when the new values are EXPRESSIONS of
    the old rather than a supplied key-value set.  Returns the snapshot
    id, or None when nothing matches."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from daskberg_spark.iceberg.metadata import IcebergTable
    from pyspark.sql import Column
    from pyspark.sql import functions as F

    data_cols = [f["name"] for f in writer.fields]
    for c in assignments:
        if c not in data_cols:
            raise ValueError(f"unknown column {c!r} in assignments")
    t = IcebergTable(writer.path)
    # carry each updated row's v3 _row_id into its replacement (stable
    # identity across the update; see merge_rows_mor_spark)
    tagged = t.to_df(spark, keep_pos=True, row_lineage=True)
    matched = tagged.filter(predicate)
    if matched.limit(1).count() == 0:
        return None
    dtypes = dict(tagged.dtypes)
    out = matched.select(
        *[
            (
                (
                    assignments[c]
                    if isinstance(assignments[c], Column)
                    else F.expr(assignments[c])
                )
                .cast(dtypes[c])
                .alias(c)
                if c in assignments
                else F.col(c)
            )
            for c in data_cols
        ],
        F.col("_row_id"),
    )
    return _commit_mor_changes(
        writer,
        matched.select("__file", "__pos"),
        out,
        stage_prefix="update_mor_",
    )


def _commit_mor_changes(
    writer: "IcebergWriter",
    matched_pos: Any,
    out: Any,
    stage_prefix: str,
) -> int:
    """Shared merge-on-read commit: DV-tombstone the (__file, __pos)
    identities in ``matched_pos`` (executor-built roaring bitmaps, one
    blob per touched file — position lists never reach the driver as
    rows) and append ``out``'s rows written in parallel, all in ONE
    ``overwrite`` snapshot under one sequence number."""
    out, spec_names, hive_cols = _with_partition_columns(writer, out)
    stage = _stage_dir(writer, stage_prefix)
    out.write.mode("overwrite").partitionBy(*hive_cols).parquet(stage)
    snapshot_id = writer._next_snapshot_id
    data_entries = _entries_from_spark_dir(
        writer, stage, snapshot_id, spec_names, hive_cols
    )
    dv_entries = _dv_manifest_entries_spark(
        writer, matched_pos.sparkSession, matched_pos, snapshot_id
    )
    writer._commit_removing(
        snapshot_id,
        _superseded_by(dv_entries),
        [
            (writer.current_spec_id, data_entries),
            (writer.current_spec_id, dv_entries),
        ],
        "overwrite",
    )
    return snapshot_id


def delete_keys_spark(
    writer: "IcebergWriter", spark: Any, keys_df: Any
) -> int | None:
    """Distributed merge-on-read DELETE by key set: ``keys_df``'s columns
    name the equality-delete key (every column must be a table column),
    and its rows — typically a CDC batch's deleted keys, any size — are
    written as v2 equality-delete parquet by the executors, one file per
    write task, committed as one ``delete`` snapshot.

    Sequence semantics make this safe for CDC ordering: the delete's data
    sequence number exceeds every prior commit's, so it hits all earlier
    versions of the keys while rows (re-)inserted by LATER commits stay
    live.  Contrast ``delete_rows_equality`` (driver-side key list) and
    ``delete_where_spark`` (predicate → position deletes): this is the
    path when the key set itself is data-sized.  Returns the snapshot id,
    or None for an empty key frame."""
    cols = sorted(keys_df.columns)
    for c in cols:
        if c not in writer.types:
            raise ValueError(f"unknown key column {c!r}")
    stage = _stage_dir(writer, "eq_del_")
    keys_df.select(*cols).distinct().write.mode("overwrite").parquet(stage)
    snapshot_id = writer._next_snapshot_id
    entries = _delete_entries(
        writer, stage, snapshot_id, 2, [writer.ids[c] for c in cols]
    )
    if not entries:
        return None
    writer._commit(
        snapshot_id, [(writer._global_delete_spec_id(), entries)], "delete"
    )
    return snapshot_id


def upgrade_format_version(writer: "IcebergWriter", to_version: int) -> None:
    """Explicit table format-version upgrade — upstream
    ``ALTER TABLE ... SET TBLPROPERTIES ('format-version'='3')``.

    The writer already bumps implicitly when a feature demands it
    (row-level deletes → 2, deletion vectors → 3); this is the explicit
    migration entry point so a table can opt into a higher version
    before the first feature use, and the one place the spec's one-way
    rule is enforced (downgrades are illegal — older readers would
    misread sequence numbers and delete files).  Metadata-only: emits a
    new metadata version immediately when the table has snapshots
    (otherwise the first commit carries the bump)."""
    if to_version not in (1, 2, 3):
        raise ValueError(f"unknown format version {to_version}")
    if to_version < writer._format_version:
        raise ValueError(
            f"cannot downgrade format version {writer._format_version} -> "
            f"{to_version} (the spec allows upgrades only)"
        )
    if to_version == writer._format_version:
        return
    writer._format_version = to_version
    writer._publish()


def rewrite_position_deletes(writer: "IcebergWriter") -> int | None:
    """Maintenance: convert every live v2 position-delete parquet into
    v3 deletion vectors — upstream ``rewrite_position_delete_files`` in
    its convert-to-DV form, the delete-file half of the v2→v3 migration
    path (beyond the read-only reference, README.md:92-94).

    Reads each live position-delete parquet (delete-sized IO, never a
    table scan), groups its (file, pos) pairs by live target data file,
    merges them with the target's existing live DV
    (``_dv_manifest_entries`` maintains the one-DV-per-file invariant),
    and commits ONE ``replace`` snapshot adding the merged blobs and
    tombstoning the consumed parquet files.  A representation rewrite
    with zero logical row change — the CDC/changelog paths treat it
    like compaction (emits nothing).  After it runs, pre-v3 histories
    stream cleanly through ``mode=cdc`` (which rejects live v2
    deletes) and a scan opens at most one delete blob per data file
    instead of O(delete-commits) parquet files.

    Position pairs whose target file is no longer live are dropped
    (dead weight).  Equality deletes are untouched: their keys are
    value-identified, not position-identified — compaction folds them.
    Returns the new snapshot id, or None when no live position-delete
    parquet exists."""
    from daskberg_spark.iceberg.puffin import dv_blob

    data, deletes, _ = _live_entries(writer)
    # normalized → recorded path
    live_data = {_norm_data_path(p): p for p in data}
    pos_parquet = {
        key: e
        for key, (e, _mf) in deletes.items()
        if e["data_file"].get("content") == 1
        and not e["data_file"].get("referenced_data_file")
    }
    if not pos_parquet:
        return None
    by_target: dict[str, set[int]] = {}
    for e in pos_parquet.values():
        for r in pq.read_table(e["data_file"]["file_path"]).to_pylist():
            norm = _norm_data_path(r["file_path"])
            if norm in live_data:
                by_target.setdefault(live_data[norm], set()).add(r["pos"])
    dvs = [
        (target, dv_blob(sorted(ps)), len(ps))
        for target, ps in sorted(by_target.items())
    ]
    snapshot_id = writer._next_snapshot_id
    entries = _dv_manifest_entries(writer, dvs, snapshot_id) if dvs else []
    # remove the consumed parquet files in the same commit
    superseded = _superseded_by(entries)
    writer._format_version = 3
    writer._commit_removing(
        snapshot_id,
        lambda e, mf: superseded(e, mf)
        or _entry_key(e["status"], e["data_file"])[1] in pos_parquet,
        [(writer.current_spec_id, entries)],
        "replace",
    )
    return snapshot_id


def remove_dangling_deletes(writer: "IcebergWriter") -> int | None:
    """Maintenance: drop delete files that can no longer apply to ANY
    live data file — upstream ``RemoveDanglingDeletes`` (folded into
    ``rewriteDataFiles`` there; standalone here).  Beyond the read-only
    reference.

    Dangling tests, per delete flavor:

    - **DV / position entry with ``referenced_data_file``**: the target
      data file is no longer live (compacted or deleted away);
    - **equality delete**: applies only to data files with strictly
      LOWER data sequence — dangling iff no live data file's sequence
      is below the delete's (after enough compaction/churn every old
      eq-delete ends up here, which is exactly the cleanup a blind-
      upsert table needs: the read-side applicability checks melt away
      without the full-scan ``convert_deletes_to_dvs``);
    - **position-delete parquet**: every target path it names is dead
      (delete-sized parquet read — the only non-metadata IO here).

    Pure metadata plus that one delta-sized read; ONE ``delete``
    snapshot tombstoning the dangling files.  Zero logical row change
    (a dangling delete by definition kills nothing), so the changelog
    across it is silent.  Returns the snapshot id, or None if nothing
    dangles."""
    data, deletes, _ = _live_entries(writer)
    live_data_norm = {_norm_data_path(p) for p in data}
    live_data_seqs = [_order_key(e, mf) for e, mf in data.values()]
    min_live_seq = min(live_data_seqs) if live_data_seqs else None
    dangling: set[tuple[str, int]] = set()
    for key, (e, mf) in deletes.items():
        rec = e["data_file"]
        if rec.get("referenced_data_file"):
            if _norm_data_path(rec["referenced_data_file"]) not in live_data_norm:
                dangling.add(key)
        elif rec.get("content") == 2:
            if min_live_seq is None or min_live_seq >= _order_key(e, mf):
                dangling.add(key)
        else:  # position-delete parquet: read its target paths
            targets = (
                pq.read_table(rec["file_path"], columns=["file_path"])
                .column("file_path")
                .unique()
                .to_pylist()
            )
            if all(
                _norm_data_path(str(p)) not in live_data_norm for p in targets
            ):
                dangling.add(key)
    if not dangling:
        return None
    # Rewrite every manifest that still CARRIES a dangling entry —
    # committing only tombstones would resurrect the deletes one commit
    # later (_commit drops tombstone-only manifests from prior
    # snapshots while the carried manifests still hold the entries).
    snapshot_id = writer._next_snapshot_id
    writer._commit_removing(
        snapshot_id,
        lambda e, _mf: _entry_key(e["status"], e["data_file"])[1] in dangling,
        [],
        "delete",
        extra_summary={"removed-delete-files": str(len(dangling))},
    )
    return snapshot_id


def convert_deletes_to_dvs(writer: "IcebergWriter", spark: Any) -> int | None:
    """Full v3 delete consolidation: replace EVERY live non-DV delete
    file — equality deletes included, which ``rewrite_position_deletes``
    cannot touch because their keys identify rows by VALUE — with
    deletion vectors, in one ``replace`` snapshot.

    The dead-position set is computed distributively as a difference of
    two tagged reads: the raw (file, pos) universe (``_read_file_groups``
    with no delete application) anti-joined against the delete-aware
    live set.  That set is exactly every currently-dead row whatever
    killed it (equality key, position parquet, existing DV), so the
    per-file blobs built from it — via the same sharded executor path as
    every DV commit, positions never reaching the driver — subsume and
    supersede the table's whole delete state; the consumed equality and
    position files tombstone in the same commit.  Sequence semantics
    survive because a DV applies to its named file unconditionally while
    the rows it covers were dead under the old sequence rules at
    conversion time — and rows appended AFTER this commit live in new
    files no converted blob references.

    A full-table maintenance scan (two reads, no shuffle beyond the
    anti-join and the DV aggregation), like upstream's rewrite
    procedures — run it once to migrate a v2 delete history, after which
    scans open at most one blob per file and ``mode=cdc`` streaming
    works.  Returns the snapshot id, or None when the table has no live
    non-DV delete files."""
    import daskberg_spark.iceberg.scan as _scan
    from daskberg_spark.iceberg.conversions import schema_to_struct
    from daskberg_spark.iceberg.metadata import IcebergTable

    _data, deletes, _ = _live_entries(writer)
    consumed = {
        key
        for key, (e, _mf) in deletes.items()
        if not e["data_file"].get("referenced_data_file")
    }
    if not consumed:
        return None
    t = IcebergTable(writer.path)
    files = t.plan_files()
    snapshot_id = writer._next_snapshot_id
    entries: list[dict[str, Any]] = []
    if files:
        struct = schema_to_struct(t.schema)
        raw = _scan._read_file_groups(
            t, spark, files, struct, tag_position=True
        ).select("__file", "__pos")
        live = t.to_df(spark, keep_pos=True).select("__file", "__pos")
        dead = raw.join(live, ["__file", "__pos"], "left_anti")
        entries = _dv_manifest_entries_spark(writer, spark, dead, snapshot_id)
    superseded = _superseded_by(entries)
    writer._format_version = 3
    writer._commit_removing(
        snapshot_id,
        lambda e, mf: superseded(e, mf)
        or _entry_key(e["status"], e["data_file"])[1] in consumed,
        [(writer.current_spec_id, entries)],
        "replace",
    )
    return snapshot_id


def rewrite_manifests(writer: "IcebergWriter") -> int | None:
    """Maintenance: consolidate the manifest LIST — reconcile DELETED
    tombstones, then rewrite every live entry as EXISTING into one
    manifest per (spec, ≤``MANIFEST_ENTRIES`` chunk).  A frequently-committed
    table accumulates O(commits) manifests and every scan plans across
    all of them; after rewrite, planning reads O(files/chunk) manifests.
    (The real-Iceberg ``rewrite_manifests`` action; metadata-only — zero
    data IO.)

    Sequence correctness is load-bearing here: each rewritten entry
    carries its EXPLICIT data sequence number (``_entry_seq``), so
    equality-delete applicability — data seq < delete seq — survives
    even though every entry now lives in a manifest committed later
    than all of them.  One ``replace`` snapshot; returns its id, or
    None when consolidation would not reduce the manifest count."""
    snapshot_id = writer._next_snapshot_id
    data, deletes, _ = _live_entries(writer)
    live_by_spec: dict[int, list[dict[str, Any]]] = {}
    for e, mf in [*data.values(), *deletes.values()]:
        live_by_spec.setdefault(mf.get("partition_spec_id", 0), []).append(
            _carry(e, mf)
        )
    n_target = sum(-(-len(v) // MANIFEST_ENTRIES) for v in live_by_spec.values()) or 1
    if n_target >= len(writer.manifests):
        return None
    groups = [
        (sid, sorted(live_by_spec[sid], key=lambda e: e["data_file"]["file_path"]))
        for sid in sorted(live_by_spec)
    ]
    writer._commit(snapshot_id, groups, "replace", [])
    return snapshot_id


def migrate_legacy_eq_deletes(writer: "IcebergWriter") -> int | None:
    """Migration action for the pre-scoping global-delete shape: rewrite
    every live all-None-scoped equality delete under a PARTITIONED spec
    onto an unpartitioned spec, after which the
    ``daskberg.legacy-global-eq-deletes`` property and the scan layer's
    ambiguity warning (``scan._scope_tuple``) are dead — spec-compliant
    readers (this engine and foreign ones) then apply the delete
    globally with no opt-in.  Metadata-only: the delete parquet files
    are re-registered under the new spec, never rewritten; affected
    manifests are rebuilt without the migrated entries (untouched
    manifests pass through); every carried entry keeps its EXPLICIT
    data sequence number, so delete applicability (data seq < delete
    seq) is unchanged.  One ``replace`` snapshot — the legacy property
    is dropped in the same commit.  Returns the snapshot id, or None
    when no legacy-shaped delete exists (the action is idempotent).

    Call it only when the all-None deletes are KNOWN to be global (a
    table this engine wrote before global deletes moved to an
    unpartitioned spec, or a foreign table whose owner asserts it); a
    genuine NULL-partition scope (e.g. a Flink upsert on a nullable
    partition source) must NOT be migrated — the default scoped read
    is already correct for it."""

    def is_legacy(e: dict[str, Any], mf: dict[str, Any]) -> bool:
        rec = e["data_file"]
        spec_id = mf.get("partition_spec_id", 0)
        if rec.get("content") != 2:
            return False
        if spec_id >= len(writer.specs) or not writer.specs[spec_id]:
            return False  # already global (unpartitioned spec)
        part = rec.get("partition") or {}
        return bool(part) and all(v is None for v in part.values())

    snapshot_id = writer._next_snapshot_id
    carried, hits_by_spec = writer._tombstone_rewrite(is_legacy, snapshot_id)
    if not hits_by_spec:
        return None
    # the delete parquet files are re-registered under the global spec
    # with the carry rule's explicit sequence/snapshot (the rebuilt
    # manifest is registered under the NEW snapshot)
    migrated = []
    for hits in hits_by_spec.values():
        for e, mf in hits:
            m = _carry(e, mf)
            m["data_file"] = dict(m["data_file"], partition={})
            migrated.append(m)
    # same-commit property drop: after migration the legacy read rule
    # has nothing left to apply to
    writer.properties.pop("daskberg.legacy-global-eq-deletes", None)
    writer._commit(
        snapshot_id,
        [(writer._global_delete_spec_id(), migrated)],
        "replace",
        carried,
    )
    return snapshot_id


def expire_snapshots(
    writer: "IcebergWriter",
    keep_last: int = 1,
    older_than_ms: int | None = None,
    now_ms: int | None = None,
) -> list[int]:
    """Maintenance: drop expired snapshots from the table metadata (time
    travel to them stops working; data files stay until
    ``remove_orphan_files``).  Returns expired ids.

    Retention follows real Iceberg's ``expireSnapshots`` semantics: a
    snapshot expires only when it is BOTH outside the last ``keep_last``
    commits AND (when ``older_than_ms`` is given) committed strictly
    before that timestamp — ``retain_last`` and ``expire_older_than``
    compose as a conjunction, so a burst of recent commits inside the
    age window always survives and old history is kept while fewer than
    ``keep_last`` snapshots exist.

    Snapshots pinned by a named branch/tag ref are RETAINED even when
    older than the keep window (Iceberg's ref-reachability rule):
    dropping them while ``_publish`` still emits the ref would
    break ``open_snapshot(ref=...)`` and let ``remove_orphan_files``
    delete the tagged snapshot's data files.

    Per-ref retention (upstream ``RemoveSnapshots`` semantics; knobs
    recorded by ``set_ref``) activates when ``now_ms`` is passed (an
    explicit clock keeps maintenance deterministic and testable):

    - a non-main ref whose referenced snapshot is older than its
      ``max-ref-age-ms`` is DROPPED first, releasing its pins;
    - a retained BRANCH protects its ancestor lineage: an ancestor
      survives while it is within the branch's
      ``min-snapshots-to-keep`` newest ancestors (default 1 — the head
      alone, matching prior behavior) OR newer than the branch's
      ``max-snapshot-age-ms`` cutoff;
    - a retained TAG protects exactly its referenced snapshot."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    if not writer.snapshots:
        raise ValueError("table has no snapshots to expire")
    snap_by_id = {s["snapshot-id"]: s for s in writer.snapshots}
    refs_dropped = False
    if now_ms is not None:
        for name, r in list(writer.refs.items()):
            max_age = r.get("max-ref-age-ms")
            snap = snap_by_id.get(r.get("snapshot-id"))
            if (
                max_age is not None
                and snap is not None
                and now_ms - snap["timestamp-ms"] > max_age
            ):
                del writer.refs[name]
                refs_dropped = True
    ref_pinned = {
        r["snapshot-id"] for r in writer.refs.values() if "snapshot-id" in r
    }
    # branch lineage retention: walk each surviving branch's ancestor
    # chain, protecting the newest min-snapshots-to-keep ancestors and
    # (given a clock) everything newer than its max-snapshot-age-ms
    for r in writer.refs.values():
        if r.get("type") != "branch":
            continue
        min_keep = r.get("min-snapshots-to-keep", 1)
        max_snap_age = r.get("max-snapshot-age-ms")
        cutoff = (
            now_ms - max_snap_age
            if (max_snap_age is not None and now_ms is not None)
            else None
        )
        cur = snap_by_id.get(r.get("snapshot-id"))
        kept = 0
        while cur is not None:
            protected = kept < min_keep or (
                cutoff is not None and cur["timestamp-ms"] >= cutoff
            )
            if not protected:
                break
            ref_pinned.add(cur["snapshot-id"])
            kept += 1
            parent = cur.get("parent-snapshot-id")
            cur = snap_by_id.get(parent) if parent is not None else None
    # the current head (rollback repoint) and a WAP pin are refs too —
    # expiring either would orphan current-snapshot-id
    if writer.head_id is not None:
        ref_pinned.add(writer.head_id)
    if writer.main_pin is not None:
        ref_pinned.add(writer.main_pin)
    # the keep window follows the HEAD'S LINEAGE (real retain-last
    # counts ancestors of the current snapshot): after a rollback the
    # head's recent ancestors stay protected, while stranded rolled-past
    # commits are retained only when a ref pins them
    by_id = {s["snapshot-id"]: s for s in writer.snapshots}
    keep_tail: set[int] = set()
    cur = writer.head_snapshot
    while cur is not None and len(keep_tail) < keep_last:
        keep_tail.add(cur["snapshot-id"])
        parent = cur.get("parent-snapshot-id")
        cur = by_id.get(parent) if parent is not None else None
    expired_set = {
        s["snapshot-id"]
        for s in writer.snapshots
        if s["snapshot-id"] not in keep_tail
        and s["snapshot-id"] not in ref_pinned
        and (older_than_ms is None or s["timestamp-ms"] < older_than_ms)
    }
    if not expired_set:
        if refs_dropped:
            # the ref sweep changed metadata even though no snapshot
            # expired — persist it or the drop silently evaporates
            writer._publish()
        return []
    survivors = [
        s for s in writer.snapshots if s["snapshot-id"] not in expired_set
    ]
    # detach any parent pointer that now refers to an expired snapshot
    writer.snapshots = [
        {k: v for k, v in s.items() if not (k == "parent-snapshot-id" and v in expired_set)}
        for s in survivors
    ]
    # statistics files of expired snapshots drop with them (spec rule);
    # their puffin bytes become orphan-reclaimable.  EXCEPTION:
    # RAW-FILE-CONTENT blobs — the bloom index (bloomindex.py), the
    # per-file sum blobs (sumstats.py), and the per-file CDF partials
    # (quantiles.py, r12) — are keyed by DATA FILE, not by snapshot
    # state: they stay valid as long as the files live, so they
    # reattach to the surviving head instead of dying with the snapshot
    # that happened to create them (dead files' blobs are simply never
    # probed; without the reattach, every expire would silently throw
    # away coverage the next refresh then re-scans to rebuild).
    from daskberg_spark.iceberg.bloomindex import (
        BLOOM_BLOB_TYPE,
        TOKEN_BLOOM_BLOB_TYPE,
    )
    from daskberg_spark.iceberg.quantiles import (
        FILE_QUANTILE_BLOB_TYPE,
        GROUPED_FILE_QUANTILE_BLOB_TYPE,
    )
    from daskberg_spark.iceberg.sumstats import SUM_BLOB_TYPE
    from daskberg_spark.iceberg.theta import GROUPED_THETA_FILE_BLOB_TYPE

    raw_file_types = (
        BLOOM_BLOB_TYPE,
        TOKEN_BLOOM_BLOB_TYPE,
        SUM_BLOB_TYPE,
        FILE_QUANTILE_BLOB_TYPE,
        GROUPED_FILE_QUANTILE_BLOB_TYPE,
        GROUPED_THETA_FILE_BLOB_TYPE,
    )
    head_id = (
        writer.head_snapshot["snapshot-id"] if writer.snapshots else None
    )
    kept_stats = []
    for e in writer.statistics:
        if e["snapshot-id"] not in expired_set:
            kept_stats.append(e)
        elif head_id is not None and any(
            b.get("type") in raw_file_types
            for b in e.get("blob-metadata", [])
        ):
            moved = dict(e)
            moved["snapshot-id"] = head_id
            kept_stats.append(moved)
    writer.statistics = kept_stats
    writer.partition_statistics = [
        e
        for e in writer.partition_statistics
        if e["snapshot-id"] not in expired_set
    ]
    writer._publish()
    return sorted(expired_set)


def remove_orphan_files(
    table_path: str,
    include_metadata: bool = True,
    older_than_ms: int | None = None,
) -> list[str]:
    """Maintenance: delete data files not referenced by any manifest of
    any snapshot in the *current* metadata version (run after
    expire_snapshots).  With ``include_metadata`` (default), unreferenced
    metadata Avro (manifest lists / manifests left behind by
    expire_snapshots or rewrite_manifests) is reclaimed too — versioned
    ``*.metadata.json`` and the version hint always stay.  Returns the
    removed paths.

    ``older_than_ms`` (epoch millis) skips files whose mtime is at or
    after the cutoff — real Iceberg's ``older_than`` guard (default 3
    days there) against reclaiming a CONCURRENT writer's
    staged-but-uncommitted files, which are unreferenced by definition
    until their commit lands.  Pass it whenever other writers may be
    in flight; None sweeps everything unreferenced (safe only on a
    quiesced table)."""
    from daskberg_spark.iceberg.avro import read_avro_file
    from daskberg_spark.iceberg.metadata import IcebergTable

    table_path = os.path.realpath(table_path)
    table = IcebergTable(table_path)
    referenced: set[str] = set()
    referenced_meta: set[str] = set()
    for snap in table.snapshots.values():
        ml = table._relocate(snap["manifest-list"])
        referenced_meta.add(os.path.realpath(ml))
        _, manifests = read_avro_file(ml)
        for mf in manifests:
            mpath = table._relocate(mf["manifest_path"])
            referenced_meta.add(os.path.realpath(mpath))
            _, entries = read_avro_file(mpath)
            for e in entries:
                # DELETED entries are tombstones, not references — a file
                # only they mention is reclaimable
                if e["status"] != 2:
                    referenced.add(
                        os.path.realpath(table._relocate(e["data_file"]["file_path"]))
                    )
    removed = []
    data_dir = os.path.join(table_path, "data")
    # walk RECURSIVELY: delete_where_spark / delete_keys_spark /
    # compact_files_spark stage parquet under pos_del_*/eq_del_*/
    # compact_rw_* subdirectories — files orphaned there (after
    # expire_snapshots, or abandoned on CommitConflictError) must be
    # reclaimable too, and emptied temp subdirectories pruned
    for dirpath, _dirnames, filenames in sorted(os.walk(data_dir)):
        for name in sorted(filenames):
            path = os.path.realpath(os.path.join(dirpath, name))
            if path not in referenced and name.endswith(
                # every data-file format the engine writes — orphaned
                # .avro/.orc data files must be reclaimable too
                (".parquet", ".puffin", ".avro", ".orc")
            ):
                if (
                    older_than_ms is not None
                    and os.path.getmtime(path) * 1000 >= older_than_ms
                ):
                    continue  # possibly a concurrent writer's staging
                os.remove(path)
                removed.append(path)
    # bottom-up (NOT sorted — that would put parents first) + re-listing
    # so a parent emptied by its children's removal prunes in one pass
    for dirpath, _dirnames, _filenames in os.walk(data_dir, topdown=False):
        if dirpath != data_dir and not os.listdir(dirpath):
            os.rmdir(dirpath)
    if include_metadata:
        # statistics puffin files referenced by the CURRENT metadata stay;
        # ones left behind by expire_snapshots are reclaimable
        for e in table.metadata.get("statistics", []) + table.metadata.get(
            "partition-statistics", []
        ):
            referenced_meta.add(
                os.path.realpath(table._relocate(e["statistics-path"]))
            )
        meta_dir = os.path.join(table_path, "metadata")
        for name in sorted(os.listdir(meta_dir)):
            if not name.endswith((".avro", ".puffin", ".parquet")):
                continue  # metadata JSONs and the version hint always stay
            path = os.path.realpath(os.path.join(meta_dir, name))
            if path not in referenced_meta:
                # same age guard as the data sweep: a concurrent writer
                # writes manifests + manifest list BEFORE linking the
                # metadata JSON, so a fresh unreferenced avro may be an
                # in-flight commit's — deleting it would leave the winning
                # metadata pointing at missing manifests
                if (
                    older_than_ms is not None
                    and os.path.getmtime(path) * 1000 >= older_than_ms
                ):
                    continue
                os.remove(path)
                removed.append(path)
    return removed


def spark_partition_value(col: Any, transform: str, result_type: str = "int") -> Any:
    """Spark Column computing an Iceberg partition transform of ``col``,
    for the duplicate hive-partition column of a distributed write.

    identity passes through; every other transform routes through the
    spec-exact Python implementation as a vectorized pandas UDF — bucket
    MUST use Iceberg murmur3 (``transforms.bucket``), never Spark's
    builtin ``hash()``/``F.bucket`` which disagree with the spec's hash
    and would mis-prune every external reader (SURVEY §2 A7b)."""
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.transforms import get_transform

    c = F.col(col) if isinstance(col, str) else col
    if transform == "identity":
        return c
    fn, _ = get_transform(transform)

    def _apply(s):
        return s.map(
            lambda v: None
            if v is None
            else fn(v.item() if hasattr(v, "item") else v)
        )

    return F.pandas_udf(_apply, result_type)(c)


def _live_deletes(
    writer: "IcebergWriter",
) -> tuple[list[tuple[int, list[str], set]], set[tuple[str, int]]]:
    """Collect the table's live v2 deletes for rewrite-time application:
    (equality deletes as (order_key, key_cols, key set), position deletes
    as a (path, pos) set).  Tombstoned delete files are excluded.

    ``order_key`` is the delete file's data sequence number (explicit or
    manifest-inherited); pre-sequence-number metadata falls back to the
    adding snapshot id, which this writer allocates monotonically."""
    id_to_name = {f["id"]: f["name"] for f in writer.fields}
    _data, deletes, _ = _live_entries(writer)
    eq_deletes, pos_pairs = [], set()
    for e, mf in deletes.values():
        rec = e["data_file"]
        content = rec.get("content", 0)
        if content == 1:
            if rec.get("referenced_data_file"):
                # v3 deletion vector: decode the puffin blob to its
                # (target, pos) pairs so compaction folds DVs exactly
                # like position-delete parquet
                from daskberg_spark.iceberg.puffin import dv_decode_file

                target = _norm_data_path(rec["referenced_data_file"])
                for p in dv_decode_file(
                    rec["file_path"],
                    int(rec["content_offset"]),
                    int(rec["content_size_in_bytes"]),
                ):
                    pos_pairs.add((target, p))
                continue
            # normalize the referenced paths the same way the scan layer
            # does (scheme strip + realpath): scheme-prefixed position
            # deletes must keep applying during driver-side rewrites
            for r in pq.read_table(rec["file_path"]).to_pylist():
                pos_pairs.add((_norm_data_path(r["file_path"]), r["pos"]))
        elif content == 2:
            # current key-column names come from the stable field ids; the
            # delete parquet's columns align POSITIONALLY with
            # equality_ids (delete_rows_equality emits them in that
            # order), so key extraction survives post-delete renames
            cols = [id_to_name[i] for i in rec["equality_ids"]]
            tbl = pq.read_table(rec["file_path"])
            arrs = [tbl.column(i).to_pylist() for i in range(len(cols))]
            keys = set(zip(*arrs)) if arrs else set()
            eq_deletes.append(
                (
                    _order_key(e, mf),
                    cols,
                    keys,
                    _part_scope_key(rec, mf, writer.specs, writer.properties),
                )
            )
    return eq_deletes, pos_pairs


def _part_scope_key(
    rec: dict[str, Any],
    mf: dict[str, Any],
    specs: list[list] | None = None,
    properties: dict[str, str] | None = None,
) -> tuple | None:
    """Partition-scope identity of an entry for rewrite-time equality-
    delete gating: (spec id, sorted partition items) for a partitioned
    entry, None for a global one — matching the scan layer's rule
    (``scan._scope_tuple``): global iff the entry's spec is
    unpartitioned.  An all-None tuple under a partitioned spec is a
    GENUINE scope (a foreign writer's NULL-valued partition) unless the
    table opts into the legacy rule via
    ``daskberg.legacy-global-eq-deletes=true``."""
    part = rec.get("partition") or {}
    spec_id = mf.get("partition_spec_id", 0)
    if specs is not None and (
        spec_id >= len(specs) or not specs[spec_id]
    ):
        return None
    if not part or all(v is None for v in part.values()):
        legacy = (properties or {}).get(
            "daskberg.legacy-global-eq-deletes"
        ) == "true"
        if not part or legacy:
            return None
    return (
        spec_id,
        tuple(sorted((k, str(v)) for k, v in part.items())),
    )


def _read_data_table(rec: dict[str, Any]) -> "pa.Table":
    """Driver-side read of ONE data file as an arrow table, dispatched
    by ``file_format`` — lets rewrite paths (compaction, CoW merge) fold
    AVRO/ORC data files the same as parquet (the consolidated output is
    always parquet; the spec allows formats to vary per file).  AVRO
    decodes through the container reader with Iceberg-Avro logical
    types (timestamp-micros, date) restored to typed arrays."""
    fmt = str(rec.get("file_format", "PARQUET")).upper()
    path = rec["file_path"]
    if fmt == "PARQUET":
        try:
            return pq.read_table(path)
        except OSError as e:
            if "LogicalType" in str(e):
                # Spark-written variant files carry the VARIANT parquet
                # annotation pyarrow cannot parse — driver-side rewrites
                # cannot fold them; the cluster path reads them natively
                raise NotImplementedError(
                    f"{path} uses a parquet logical type pyarrow cannot "
                    "read (Spark-written variant); use the Spark rewrite "
                    "path (compact_files_spark / merge_rows_spark) for "
                    "this table"
                ) from e
            raise
    if fmt == "ORC":
        import pyarrow.orc as _orc

        return _orc.read_table(path)
    if fmt == "AVRO":
        import json as _json

        from daskberg_spark.iceberg.avro import read_avro_file

        meta, records = read_avro_file(path)
        schema = _json.loads(meta["avro.schema"].decode())
        arrays, names = [], []
        for f in schema["fields"]:
            t = f["type"]
            if isinstance(t, list):
                t = next(x for x in t if x != "null")
            lt = t.get("logicalType") if isinstance(t, dict) else None
            vals = [r.get(f["name"]) for r in records]
            if lt == "timestamp-micros":
                arr = pa.array(vals, type=pa.int64()).cast(pa.timestamp("us"))
            elif lt == "date":
                arr = pa.array(vals, type=pa.int32()).cast(pa.date32())
            else:
                arr = pa.array(vals)
            names.append(f["name"])
            arrays.append(arr)
        return pa.table(dict(zip(names, arrays)))
    raise NotImplementedError(f"data file format {fmt}")


def _order_key(entry: dict[str, Any], manifest: dict[str, Any]) -> int:
    """Applicability ordering key for rewrite-time delete application:
    real data sequence number when the metadata carries one, else the
    adding snapshot id (legacy pre-sequence metadata, monotonic here)."""
    seq = _entry_seq(entry, manifest)
    return seq if seq is not None else (entry.get("snapshot_id") or 0)


def _live_file_rows(
    entry: dict[str, Any],
    eq_deletes: list[tuple[int, list[str], set, tuple | None]],
    pos_pairs: set[tuple[str, int]],
    current_names: list[str] | None = None,
    file_key: int | None = None,
    carry_lineage: bool = False,
    file_seq: int | None = None,
    file_part: tuple | None = None,
) -> list[dict[str, Any]] | None:
    """Rows of one data file with live v2 deletes applied
    (sequence-correct: an equality delete hits only files whose data
    sequence number — ``file_key``, from ``_order_key`` — precedes the
    delete's; falls back to adding-snapshot order on legacy metadata).

    With ``current_names``, pre-rename files (same column count, old
    names) are positionally renamed to the current schema — this writer
    emits columns in field order, and renames preserve position.  Returns
    None on real schema drift (added/dropped columns) so callers can skip
    the file instead of silently losing data.

    ``carry_lineage=True`` resolves each surviving row's v3 lineage
    (materialized ``_row_id``/``_last_updated_sequence_number`` columns
    win; null/absent inherit ``first_row_id + position`` and the file's
    data sequence number) into explicit row keys, so a REWRITE of the
    file preserves row identity across compaction."""
    rec = entry["data_file"]
    tbl = _read_data_table(rec)
    # materialized lineage columns are metadata, not schema: pull them
    # aside before the drift check or every rewritten file looks drifted
    mat: dict[str, list] = {}
    present = [c for c in LINEAGE_COLS if c in tbl.column_names]
    if present:
        mat = {c: tbl.column(c).to_pylist() for c in present}
        tbl = tbl.drop_columns(present)
    name_map = None
    if current_names is not None and set(tbl.column_names) != set(current_names):
        if set(tbl.column_names) <= set(current_names):
            pass  # older file missing later-added columns: keys are valid
        elif tbl.num_columns == len(current_names):
            name_map = dict(zip(tbl.column_names, current_names))
        else:
            return None
    rows = tbl.to_pylist()
    fsnap = file_key if file_key is not None else (entry.get("snapshot_id") or 0)
    first_row_id = rec.get("first_row_id")
    norm_path = _norm_data_path(rec["file_path"])
    out = []
    for i, r in enumerate(rows):
        if (norm_path, i) in pos_pairs:
            continue
        if name_map is not None:
            r = {name_map[k]: v for k, v in r.items()}
        dead = any(
            (dpart is None or dpart == file_part)
            and dsnap > fsnap
            # r.get: a file written before a delete-key column was
            # added stores no value for it — that reads as null, which
            # never matches a non-null delete key (a bare r[c] would
            # KeyError and abort the whole maintenance op)
            and tuple(r.get(c) for c in cols) in keys
            for dsnap, cols, keys, dpart in eq_deletes
        )
        if dead:
            continue
        if carry_lineage:
            rid = mat.get("_row_id", [None] * len(rows))[i]
            if rid is None and first_row_id is not None:
                rid = first_row_id + i
            seq = mat.get("_last_updated_sequence_number", [None] * len(rows))[i]
            if seq is None:
                seq = file_seq
            if rid is not None:
                r = dict(r, _row_id=rid)
            if seq is not None:
                r = dict(r, _last_updated_sequence_number=seq)
        out.append(r)
    return out


def maintain(
    writer: "IcebergWriter",
    spark: Any = None,
    min_file_bytes: int = 32 << 20,
    max_manifests: int = 8,
    keep_last: int = 5,
    expire_older_than_ms: int | None = None,
    orphan_older_than_ms: Any = "auto",
    now_ms: int | None = None,
    dry_run: bool = False,
    compact_dead_fraction: float | None = 0.3,
    stats_cache_budget_bytes: int | None = None,
) -> dict[str, Any]:
    """ONE-call table maintenance policy — the nightly job a 100 TB
    table operationally needs, composing the individual actions in
    dependency order:

    1. ``compact_files[_spark]`` when any (spec, partition) group holds
       ≥2 files under ``min_file_bytes`` (distributed when ``spark`` is
       given, driver-side otherwise);
    2. ``remove_dangling_deletes`` — tombstone delete files whose
       targets compaction just rewrote away;
    3. ``rewrite_manifests`` when the live manifest list exceeds
       ``max_manifests`` (metadata-only);
    4. the statistics refresh, when ``spark`` is given
       (``_refresh_statistics_one_scan``): every opted-in statistics
       family catches up from one shared scan, one family after
       another, then a materialized rollup catches up with its source.
       The first family that raises propagates at once and ends the
       call; earlier families keep their commits and later ones catch
       up on the next ``maintain()``;
    5. ``expire_snapshots(keep_last, expire_older_than_ms)`` — ref-
       and lineage-aware retention;
    6. ``remove_orphan_files`` — reclaim files no surviving snapshot
       references.  ``orphan_older_than_ms`` defaults to ``"auto"``:
       a 3-day mtime guard (real Iceberg's default) so a CONCURRENT
       writer's staged-but-uncommitted files are never swept; pass an
       explicit epoch-millis cutoff to tighten it, or ``None`` ONLY on
       quiesced tables (unguarded immediate sweep).

    Every step is a no-op when its threshold is not met — including a
    zero-snapshot table, where the whole call is a no-op report — so
    the call is idempotent at steady state: running it twice
    back-to-back performs zero work the second time.  ``dry_run``
    reports what WOULD run without committing anything.  Returns a
    report dict with one entry per step (snapshot id / expired ids /
    removed count / skipped)."""
    if orphan_older_than_ms == "auto":
        import time as _time

        base_ms = now_ms if now_ms is not None else int(_time.time() * 1000)
        orphan_older_than_ms = base_ms - 3 * 86_400_000
    report: dict[str, Any] = {}
    if not writer.snapshots:
        return {
            "compact": None,
            "rewrite_manifests": None,
            "expire_snapshots": [],
            "remove_orphans": 0,
        }
    # the small-file gate counts reconciled live files: tombstones live
    # in LATER manifests than the status-1 entries they kill
    data, deletes, _ = _live_entries(writer)
    by_group: dict[tuple, int] = {}
    for e, mf in data.values():
        rec = e["data_file"]
        if int(rec.get("file_size_in_bytes") or 0) < min_file_bytes:
            key = (
                mf.get("partition_spec_id", 0),
                str(rec.get("partition")),
            )
            by_group[key] = by_group.get(key, 0) + 1
    has_pos_deletes = any(
        e["data_file"].get("content") == 1 for e, _mf in deletes.values()
    )
    small_groups = sum(1 for n in by_group.values() if n >= 2)
    # DV/position-delete dead weight also triggers the Spark rewrite
    # (real Iceberg's delete-ratio): cheap metadata census — any live
    # data file referenced by a DV could be over threshold, and
    # compact_files_spark re-derives the exact fractions itself
    dead_candidates = (
        spark is not None
        and compact_dead_fraction is not None
        and has_pos_deletes
    )
    if (small_groups or dead_candidates) and not dry_run:
        if spark is not None:
            report["compact"] = compact_files_spark(
                writer,
                spark,
                min_file_bytes=min_file_bytes,
                min_dead_fraction=compact_dead_fraction,
            )
            report["dangling_deletes"] = remove_dangling_deletes(writer)
        else:
            try:
                report["compact"] = compact_files(
                    writer, min_file_bytes=min_file_bytes
                )
                report["dangling_deletes"] = remove_dangling_deletes(writer)
            except NotImplementedError as e:
                # a file only the Spark rewrite path can read (e.g.
                # Spark-written shredded variant) must not abort the
                # whole sweep — the metadata steps below still run
                report["compact"] = None
                report["compact_skipped"] = str(e)
    else:
        report["compact"] = (
            f"would compact {small_groups} group(s)"
            if small_groups
            else None
        )
    n_manifests = len(writer.manifests)
    if n_manifests > max_manifests and not dry_run:
        report["rewrite_manifests"] = rewrite_manifests(writer)
    else:
        report["rewrite_manifests"] = (
            f"would rewrite {n_manifests} manifests"
            if n_manifests > max_manifests
            else None
        )
    if dry_run:
        report["expire_snapshots"] = report["remove_orphans"] = "dry_run"
        return report
    if spark is not None:
        _refresh_statistics_one_scan(
            writer, spark, report, stats_cache_budget_bytes
        )
    report["expire_snapshots"] = expire_snapshots(
        writer,
        keep_last=keep_last,
        older_than_ms=expire_older_than_ms,
        now_ms=now_ms,
    )
    report["remove_orphans"] = len(
        remove_orphan_files(
            writer.path, older_than_ms=orphan_older_than_ms
        )
    )
    return report


def refresh_all_statistics(
    writer: "IcebergWriter",
    spark: Any,
    stats_cache_budget_bytes: int | None = None,
) -> dict[str, Any]:
    """Every statistics family's catch-up in ONE call with ONE shared
    scan (r14) — the stats-only slice of ``maintain()`` for pipelines
    that schedule statistics separately from compaction/retention.
    Each family is gated exactly as in ``maintain()`` (opt-in blob
    exists, head not yet covered; blooms/sums self-gate on coverage),
    so the call is idempotent: a second run performs zero data IO.
    Returns the per-family report incl. the ``stats_scan`` IO census
    (raw/dirty files read once total, served/fallback counts)."""
    report: dict[str, Any] = {}
    _refresh_statistics_one_scan(
        writer, spark, report, stats_cache_budget_bytes
    )
    return report


def _refresh_statistics_one_scan(
    writer: "IcebergWriter",
    spark: Any,
    report: dict[str, Any],
    stats_cache_budget_bytes: int | None,
) -> None:
    """ONE-SCAN statistics refresh (r14): every active family's next
    refresh reduces to "per new/dirty file, compute a partial" — plan
    the union of (files x columns) they need, read it ONCE into a
    persisted columnar frame, and serve each family from the cache
    (see onepass.py).  At 100 TB nightly this is the difference between
    reading the day's ingest once and once PER FAMILY (~5x).  Families
    fall back to direct reads for anything the cache can't serve —
    never to a wrong answer."""
    from daskberg_spark.iceberg.onepass import (
        DEFAULT_CACHE_BUDGET_BYTES,
        plan_shared_stats_scan,
    )

    scan_source = plan_shared_stats_scan(
        writer,
        spark,
        cache_budget_bytes=(
            DEFAULT_CACHE_BUDGET_BYTES
            if stats_cache_budget_bytes is None
            else stats_cache_budget_bytes
        ),
    )
    try:
        _maintain_statistics(writer, spark, report, scan_source)
    finally:
        if scan_source is not None:
            report["stats_scan"] = scan_source.report()
            scan_source.unpersist()
        else:
            report["stats_scan"] = None


def _maintain_statistics(
    writer: "IcebergWriter",
    spark: Any,
    report: dict[str, Any],
    scan_source,
) -> None:
    """The statistics-refresh half of ``maintain()`` — every family
    catch-up, fed from the shared one-scan frame (r14).

    Which families run is the family table (``statsblobs.stats_families``
    / ``gate_open``) that also plans the shared scan.  Every gate is
    read first; the open families then refresh one after another on
    the calling thread, in table order, and the report fills in that
    order.  Table order puts each global refresh before the grouped one
    that reuses its per-file partials (theta before grouped NDV,
    quantiles before grouped quantiles).

    Sequential because overlapping the families does not pay: a
    four-chain thread pool measured against this loop on the
    ``ingest_cycle`` benchmark (4-vCPU host, six interleaved pairs) read
    0.952 against 0.916 queries/s, each side ahead in 3 of 6 pairs with
    a pooled IQR of 0.08; in-process, a ~1.3 s ``maintain`` ran ~0.07 s
    faster pooled, inside its own spread; and the pool's driver RSS was
    higher in 6 of 6 pairs (143.7 against 141.9 MB).

    The first family that raises propagates at once.  Earlier families
    keep their commits; later ones catch up on the next run, because
    every refresh's gate stays open until it covers the head.  The
    materialized-rollup catch-up runs after the loop: it commits a
    snapshot (the head moves), which the statistics refreshes assume
    fixed."""
    from daskberg_spark.iceberg.statsblobs import gate_open, stats_families

    families = stats_families()
    # gates read before any family commits, as the shared scan read them
    gates = [gate_open(writer, fam) for fam in families]
    for fam, is_open in zip(families, gates):
        # a gated-out family reports None; an open one its refresh's
        # result (None too when it found nothing to do)
        report[fam.report_key] = (
            fam.refresh(writer, spark, scan_source) if is_open else None
        )
    # materialized-rollup catch-up: a table created by create_rollup
    # carries its source watermark in properties — the nightly job
    # advances it by the changelog delta
    from daskberg_spark.iceberg.rollup import PROP_SOURCE, refresh_rollup

    if PROP_SOURCE in writer.properties:
        report["refresh_rollup"] = refresh_rollup(spark, writer)["mode"]
    else:
        report["refresh_rollup"] = None


def compact_files(
    writer: "IcebergWriter",
    min_file_bytes: int = 32 << 20,
    partition_filter: dict[str, Any] | None = None,
) -> int | None:
    """Maintenance: bin-pack small data files (< ``min_file_bytes``)
    within each (spec, partition) group into one consolidated file — the
    ``rewrite_data_files`` analogue that keeps file counts O(data/target)
    instead of O(commits) on a frequently-appended 100 TB table.

    ``partition_filter`` (spec-field name → transformed value) restricts
    candidates to matching partitions — real Iceberg
    ``rewrite_data_files``' filtered form: compact ONE hot partition
    without reading the rest.

    Live v2 deletes are APPLIED to the rows being rewritten (position
    deletes by (path, pos); equality deletes only where the delete's data
    sequence number is newer than the file's, preserving
    sequence semantics) — the rewritten file starts delete-free, while
    untouched files keep relying on the carried delete files.  One
    ``replace`` snapshot; returns its id, or None if nothing to compact.

    Driver-side rewrite at test scale; a cluster runs the same per-group
    rewrite as Spark jobs committing through this metadata layer."""
    snapshot_id = writer._next_snapshot_id
    current_names = [f["name"] for f in writer.fields]
    # pass 1: the reconciled census
    data, deletes, _ = _live_entries(writer)
    eq_deletes, pos_pairs = _live_deletes(writer)

    def live_rows(
        entry: dict[str, Any], manifest: dict[str, Any]
    ) -> list[dict[str, Any]] | None:
        return _live_file_rows(
            entry,
            eq_deletes,
            pos_pairs,
            current_names,
            file_key=_order_key(entry, manifest),
            # rewrites must not re-key row identity: materialize each
            # surviving row's lineage into the consolidated file
            carry_lineage=True,
            file_seq=_entry_seq(entry, manifest),
            file_part=_part_scope_key(
                entry["data_file"], manifest, writer.specs, writer.properties
            ),
        )

    # pass 2: group small files per (spec, partition)
    groups: dict[tuple[int, tuple], list[Located]] = {}
    for e, mf in data.values():
        rec = e["data_file"]
        if rec.get("file_size_in_bytes", 0) >= min_file_bytes:
            continue
        part = rec.get("partition") or {}
        if partition_filter is not None and any(
            part.get(k) != v for k, v in partition_filter.items()
        ):
            # filtered rewrite (real Iceberg rewrite_data_files'
            # ``where`` on partition values): only matching partitions
            # become candidates — an incremental maintenance pass over a
            # 100 TB table compacts one hot partition without touching
            # (or even reading) the rest
            continue
        pkey = tuple(sorted(part.items()))
        groups.setdefault((mf.get("partition_spec_id", 0), pkey), []).append(
            (e, mf)
        )

    compacted_paths: set[str] = set()
    new_entries_by_spec: dict[int, list[dict[str, Any]]] = {}
    tombstones_by_spec: dict[int, list[dict[str, Any]]] = {}
    for (spec_id, _pkey), es in sorted(groups.items(), key=lambda kv: str(kv[0])):
        if len(es) < 2:
            continue
        rows_parts = [live_rows(e, mf) for e, mf in es]
        if any(p is None for p in rows_parts):
            continue  # schema-drifted member: leave the group alone
        merged = [r for part in rows_parts for r in part]
        fpath, fsize = writer._write_parquet(merged)
        lowers, uppers, nulls, nans = writer._bounds(merged)
        partition = dict(es[0][0]["data_file"].get("partition") or {})
        new_entries_by_spec.setdefault(spec_id, []).append(
            {
                "status": 1,
                "snapshot_id": snapshot_id,
                "data_file": {
                    "file_path": fpath,
                    "file_format": "PARQUET",
                    "partition": partition,
                    "record_count": len(merged),
                    "file_size_in_bytes": fsize,
                    "lower_bounds": lowers,
                    "upper_bounds": uppers,
                    "null_value_counts": nulls,
                    "nan_value_counts": nans,
                },
            }
        )
        for e, mf in es:
            compacted_paths.add(e["data_file"]["file_path"])
            tombstones_by_spec.setdefault(spec_id, []).append(
                _tombstone(e, mf, snapshot_id)
            )
    if not compacted_paths:
        return None

    # pass 2b: delete files fully SUPERSEDED by the rewrite are
    # tombstoned — the compacted output replays their effect, so carrying
    # them costs every future scan an anti-join input for nothing.
    # Position deletes/DVs are dead when every referenced target was
    # rewritten; an equality delete is dead when no SURVIVING data file
    # has a strictly lower sequence (new compacted entries take this
    # commit's higher sequence, so they never re-qualify).  A puffin
    # path tombstones only when ALL its blobs are superseded: the file
    # stays referenced while any blob is live, so dropping single blobs
    # would free no bytes.
    norm_compacted = {_norm_data_path(p) for p in compacted_paths}
    survivor_data_keys = [
        _order_key(e, mf)
        for path, (e, mf) in data.items()
        if path not in compacted_paths
    ]
    superseded: set[tuple[str, int]] = set()  # (path, blob offset)
    by_path: dict[str, list[tuple[tuple[str, int], Located]]] = {}
    for key, located in deletes.items():
        by_path.setdefault(key[0], []).append((key, located))

    def _delete_entry_dead(e: dict[str, Any], mf: dict[str, Any]) -> bool:
        rec = e["data_file"]
        if rec.get("content", 0) == 1 and rec.get("referenced_data_file"):
            return _norm_data_path(rec["referenced_data_file"]) in norm_compacted
        if rec.get("content", 0) == 1:
            targets = {
                _norm_data_path(r["file_path"])
                for r in pq.read_table(
                    rec["file_path"], columns=["file_path"]
                ).to_pylist()
            }
            return bool(targets) and targets <= norm_compacted
        dkey = _order_key(e, mf)
        return all(k >= dkey for k in survivor_data_keys)

    for items in by_path.values():
        if all(_delete_entry_dead(e, mf) for _key, (e, mf) in items):
            superseded.update(key for key, _located in items)
            _key0, (e0, mf0) = items[0]
            tombstones_by_spec.setdefault(
                mf0.get("partition_spec_id", 0), []
            ).append(_tombstone(e0, mf0, snapshot_id))

    # pass 3: rebuild the manifest list — survivors as EXISTING, grouped
    # by origin spec so partition records decode correctly
    survivors_by_spec: dict[int, list[dict[str, Any]]] = {}
    for key, (e, mf) in [*data.items(), *deletes.items()]:
        if key in compacted_paths or key in superseded:
            continue
        survivors_by_spec.setdefault(mf.get("partition_spec_id", 0), []).append(
            _carry(e, mf)
        )
    specs = set(survivors_by_spec) | set(new_entries_by_spec) | set(tombstones_by_spec)
    groups = [
        group
        for sid in sorted(specs)
        for group in (
            (sid, survivors_by_spec.get(sid, []) + new_entries_by_spec.get(sid, [])),
            (sid, tombstones_by_spec.get(sid, [])),
        )
    ]
    writer._commit(snapshot_id, groups, "replace", [])
    return snapshot_id


ZORDER_BITS = 16


def zorder_value(
    rows: Any,
    cols: list[str],
    bits: int = ZORDER_BITS,
    histograms: dict[str, list[float]] | None = None,
) -> Any:
    """Z-order (Morton) curve value over ``cols`` as a JVM-side Column.

    Each column is normalized to ``bits`` bits, then the bit planes are
    interleaved: bit b of column c lands at position ``b*len(cols)+c``.
    Rows close in z-value are close in EVERY input dimension, so
    range-partitioning by z yields files whose footer min/max are
    selective on all the z-order columns at once — multi-dimensional
    stats pruning, where a lexicographic sort only serves its leading
    column.

    Normalization: min-max by default (one tiny driver-side agg).  A
    column listed in ``histograms`` (equi-depth knots, the
    ``quantiles.py`` blob payload) instead maps through its measured
    CDF — RANK normalization.  Min-max collapses a skewed column: with
    95% of rows in a head band and a long tail, nearly every row lands
    in z-bucket 0 for that dimension and the curve degenerates to a
    sort on the other columns; rank normalization spreads the head
    across the full bit range so clustering (and therefore pruning)
    survives skew.

    Pure integer/double Catalyst expressions inside whole-stage
    codegen; no UDF, no shuffle of its own."""
    from pyspark.sql import functions as F

    n = len(cols)
    z = F.lit(0).cast("long")
    for ci, v in enumerate(normalized_axes(rows, cols, bits, histograms)):
        for b in range(bits):
            bit = F.shiftright(v, b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + ci))
    return z


def normalized_axes(
    rows: Any,
    cols: list[str],
    bits: int,
    histograms: dict[str, list[float]] | None = None,
) -> list[Any]:
    """Each column as a ``[0, 2^bits)`` long Column: min-max by default
    (one tiny driver-side agg over ``rows``), equi-depth-CDF rank when
    the column has ``histograms`` knots — shared by the Morton
    (``zorder_value``) and Hilbert (``hilbert.py``) curves."""
    from pyspark.sql import functions as F

    histograms = histograms or {}
    mm_cols = [c for c in cols if not histograms.get(c)]
    stats = (
        rows.agg(
            *[F.min(c).alias(f"mn_{c}") for c in mm_cols],
            *[F.max(c).alias(f"mx_{c}") for c in mm_cols],
        ).first()
        if mm_cols
        else None
    )
    top = (1 << bits) - 1
    out = []
    for c in cols:
        knots = histograms.get(c)
        if knots and len(knots) >= 2:
            nb = len(knots) - 1
            karr = F.array(*[F.lit(float(k)) for k in knots])
            vd = F.col(c).cast("double")
            # bucket index = #knots <= v, clamped to [1, nb]; linear
            # interpolation inside the bucket (zero-width -> 0)
            cnt = F.aggregate(
                karr,
                F.lit(0),
                lambda acc, k: acc + (vd >= k).cast("int"),
            )
            i = F.greatest(F.least(cnt, F.lit(nb)), F.lit(1))
            lo = F.element_at(karr, i)
            hi = F.element_at(karr, i + 1)
            frac = F.when(hi > lo, (vd - lo) / (hi - lo)).otherwise(
                F.lit(0.0)
            )
            rank = (
                (i - 1).cast("double")
                + F.least(F.greatest(frac, F.lit(0.0)), F.lit(1.0))
            ) / F.lit(float(nb))
            out.append((rank * F.lit(float(top))).cast("long"))
        else:
            mn = float(stats[f"mn_{c}"])
            mx = float(stats[f"mx_{c}"])
            span = (mx - mn) or 1.0
            out.append(
                (
                    (F.col(c).cast("double") - F.lit(mn)) * (top / span)
                ).cast("long")
            )
    return out


def compact_files_spark(
    writer: "IcebergWriter",
    spark: Any,
    min_file_bytes: int = 32 << 20,
    target_partitions: int = 1,
    sort_by: list[str] | None = None,
    zorder_by: list[str] | None = None,
    zorder_rank_normalize: bool = False,
    partition_filter: dict[str, Any] | None = None,
    curve: str = "morton",
    min_dead_fraction: float | None = None,
) -> int | None:
    """Distributed compaction: the cluster-scale twin of ``compact_files``.
    Spark reads ONLY the small files through the delete-aware tagged scan
    (so live v2 deletes are applied to the rewrite), coalesces them into
    ``target_partitions`` output tasks in parallel, and
    ``commit_spark_overwrite`` tombstones the originals — one
    replace-style snapshot, driver state O(paths).

    Partitioned tables compact per partition tuple: only partitions
    holding >= 2 small files are rewritten, and the rewrite is hive-
    partitioned on the spec's transformed values (any number of fields),
    so each output task writes one consolidated file per partition and
    the footer lift records prunable partition values.  The small-file
    filter is a semi-join against a file-list DataFrame (metadata-scale),
    never an O(files) ``isin`` literal in the plan.

    ``sort_by`` range-clusters the rewrite on the given columns
    (repartitionByRange + sortWithinPartitions): output files then cover
    DISJOINT value ranges, so the footer min/max bounds the commit lifts
    become selective and stats pruning skips whole files — the
    sort-order / Z-order data-clustering lever.  Without it, files
    written from interleaved appends all span the full value range and
    a point predicate prunes nothing.

    ``zorder_by`` clusters on the Morton curve over SEVERAL columns
    (see ``zorder_value``): output files get selective footer bounds on
    every listed column simultaneously, where ``sort_by`` only serves
    its leading column.  Mutually exclusive with ``sort_by``.

    ``partition_filter`` (spec-field name → transformed value) restricts
    candidates to matching partitions — ``rewrite_data_files``' filtered
    form, gated on metadata before any data IO.

    ``min_dead_fraction`` adds real Iceberg's delete-ratio trigger: any
    file whose position-delete/DV dead rows reach the fraction is
    rewritten regardless of size, folding its deletes away — MOR read
    amplification grows with dead weight, not bytes.  The census is
    DV manifest cardinalities plus one delta-sized read of path-named
    position-delete parquet; equality deletes don't count (run
    ``convert_deletes_to_dvs`` first)."""
    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(writer.path)
    by_part: dict[tuple, list[str]] = {}
    for f in t.plan_files():
        if (f.get("file_size_in_bytes") or 0) < min_file_bytes:
            part = f.get("partition") or {}
            if partition_filter is not None and any(
                part.get(k) != v for k, v in partition_filter.items()
            ):
                # filtered rewrite (mirrors compact_files): gate on
                # partition tuples before ANY data IO
                continue
            pkey = tuple(sorted(part.items()))
            by_part.setdefault(pkey, []).append(f["file_path"])
    small = [
        re.sub(r"^file:/+", "/", p)
        for paths in by_part.values()
        if len(paths) >= 2
        for p in paths
    ]
    if min_dead_fraction is not None:
        # real Iceberg's rewrite_data_files delete-ratio trigger: a file
        # whose row-level deletes cover >= the fraction gets rewritten
        # (folding its deletes) REGARDLESS of size — MOR read
        # amplification grows with dead weight, not file bytes.  Dead
        # census is metadata-first: DV manifest cardinalities, plus one
        # delta-sized read of path-named position-delete parquet.
        # Equality deletes stay uncounted (value-applied — cardinality
        # unknowable without a scan; convert_deletes_to_dvs first).
        # Over-count is possible (two delete files naming one position)
        # — a rewrite trigger, never a correctness input.
        dead: dict[str, int] = {}

        def _np(p: str) -> str:
            return re.sub(r"^file:/+", "/", p)

        for d in t.plan_deletes():
            if d.get("content") != 1:
                continue
            ref = d.get("referenced_data_file")
            rc = d.get("record_count")
            if ref and rc is not None:
                key = _np(ref)
                dead[key] = dead.get(key, 0) + int(rc)
            elif not ref:
                import pyarrow.parquet as _pq

                try:
                    targets = (
                        _pq.read_table(
                            _np(d["file_path"]), columns=["file_path"]
                        )
                        .column("file_path")
                        .to_pylist()
                    )
                except Exception:
                    continue  # unreadable → simply not a trigger
                for p in targets:
                    key = _np(p)
                    dead[key] = dead.get(key, 0) + 1
        small_set = set(small)
        for f in t.plan_files():
            rc = f.get("record_count")
            p = _np(f["file_path"])
            if not rc or p in small_set or not dead.get(p):
                continue
            part = f.get("partition") or {}
            if partition_filter is not None and any(
                part.get(k) != v for k, v in partition_filter.items()
            ):
                continue
            if dead[p] / int(rc) >= min_dead_fraction:
                small.append(p)  # no 2-per-partition rule: dropping
                # this file's delete overhead is worthwhile alone
    if not small:
        return None
    # row_lineage: like the driver-side compaction, the rewrite
    # MATERIALIZES each surviving row's _row_id /
    # _last_updated_sequence_number into the output so identity survives
    # the (file, pos) re-key (the columns ride through the sort/zorder
    # and the hive write; the footer lift ignores them)
    tagged = t.to_df(spark, keep_file=True, row_lineage=True)
    # __file carries the scan's scheme-stripped path; match it the same way
    from daskberg_spark.iceberg.scan import _driver_rows_df

    small_df = _driver_rows_df(
        spark, [(p,) for p in small], "__file string"
    )
    rows = tagged.join(small_df, "__file", "left_semi").drop("__file")
    if sort_by and zorder_by:
        raise ValueError("sort_by and zorder_by are mutually exclusive")
    if zorder_by:
        hists: dict[str, list[float]] = {}
        if zorder_rank_normalize:
            # equi-depth knots per z column: the table's quantile blob
            # when one covers the snapshot, else ONE percentile_approx
            # pass over the rewrite rows (same mergeable sketch the
            # stats writer uses) — min-max fallback only when a column
            # yields no knots (all NULL)
            from pyspark.sql import functions as F

            from daskberg_spark.iceberg.quantiles import DEFAULT_BUCKETS

            t_for_stats = IcebergTable(writer.path)
            missing = []
            for c in zorder_by:
                try:
                    hist = t_for_stats.column_quantiles(c)
                except Exception:
                    hist = None
                bounds = (hist or {}).get("bounds") or []
                if len(bounds) >= 2:
                    hists[c] = bounds
                else:
                    missing.append(c)
            if missing:
                probs = [
                    i / DEFAULT_BUCKETS for i in range(DEFAULT_BUCKETS + 1)
                ]
                row = rows.agg(
                    *[
                        F.percentile_approx(
                            F.col(c).cast("double"),
                            F.array(*[F.lit(p) for p in probs]),
                            F.lit(10000),
                        ).alias(c)
                        for c in missing
                    ]
                ).first()
                for c in missing:
                    if row[c]:
                        hists[c] = [float(b) for b in row[c]]
        if curve == "hilbert":
            # unit-step curve: tighter per-file bounds than Morton at
            # the same file count (hilbert.py; witness in its tests)
            from daskberg_spark.iceberg.hilbert import hilbert_attach

            rows = hilbert_attach(rows, zorder_by, "__z", histograms=hists)
        elif curve == "morton":
            rows = rows.withColumn(
                "__z", zorder_value(rows, zorder_by, histograms=hists)
            )
        else:
            raise ValueError(f"unknown clustering curve {curve!r}")
        rows = (
            rows.repartitionByRange(target_partitions, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif sort_by:
        rows = rows.repartitionByRange(target_partitions, *sort_by)
        rows = rows.sortWithinPartitions(*sort_by)
        # record the produced clustering as the table's default sort
        # order (spec metadata) so readers know which columns now carry
        # selective footer bounds
        writer.set_sort_order(list(sort_by))
    else:
        rows = rows.coalesce(target_partitions)
    rows, spec_names, hive_cols = _with_partition_columns(writer, rows)
    stage = _stage_dir(writer, "compact_rw_")
    rows.write.mode("overwrite").partitionBy(*hive_cols).parquet(stage)
    return commit_spark_overwrite(writer, stage, small, spec_names, hive_cols)
