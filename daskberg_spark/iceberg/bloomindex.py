"""File-level Bloom indexes: Puffin-persisted secondary index for
point-lookup file pruning.

Min/max bounds prune range predicates but are USELESS for equality on
high-cardinality unclustered columns — every file of a time-partitioned
table spans nearly the full id range, so ``l_orderkey == K`` scans all
of it.  Real engines reach for parquet's optional column bloom filters;
this engine persists one Bloom filter PER (data file, column) in a
Puffin statistics file (the same from-scratch Puffin writer the v3
deletion vectors use) and consults them at PLAN time: an equality/IN
predicate on an indexed column drops every file whose filter proves the
value absent — at 100 TB a point lookup reads a handful of files
instead of a partition's worth.

Soundness:

- Filters are SUPERSET tests — false positives keep a file (wasted IO,
  never wrong answers); the scan's residual re-filter still applies.
- A file without a blob (added after the index run, or a column never
  indexed) is always kept.  Blobs cover the file's RAW contents
  (deletes are NOT applied at build time), so a blob stays valid for
  its immutable file at every snapshot — including time-travel and
  rollback reads to points where later-deleted rows were still live;
  row-level deletes only add false positives, never false pruning.
- Only non-NULL ``==``/``=``/``in`` values prune, and only for types
  whose Spark ``xxhash64`` the driver can reproduce bit-exactly
  (``xxhash.py``: int/long/date/timestamp/string/boolean).
- The build hashes with the built-in ``F.xxhash64`` on executors
  (codegen, no Python); per-file state is capped at ``m_bits/64``
  words.  Below ``DASKBERG_BLOOM_SHARD_FILE_GATE`` (default 1000
  files) the driver collects the occupied words and packs one puffin;
  above it, executors write sharded puffin files directly (the DV
  commit path's pattern) and the driver collects only (file, column,
  path, offset, length) rows — million-file builds never move bitmap
  words through the driver.

Blob layout (engine extension, skipped by foreign readers per the
Puffin spec): type ``daskberg-bloom-v1``, payload = little-endian u64
word array, properties carry the data-file path, column name, m-bits
and the seed list.  Registered in the metadata ``statistics`` list on
the current snapshot.
"""

from __future__ import annotations

import os
import struct
from typing import Any

from daskberg_spark.iceberg.puffin import write_puffin
from daskberg_spark.iceberg.statsblobs import (
    _norm,
    consolidate_entries,
    publish,
    puffin_path,
    raw_read,
    same_snapshot_type,
    stats_entry,
)
from daskberg_spark.iceberg.xxhash import BLOOM_SEEDS, spark_xxhash64_chain

BLOOM_BLOB_TYPE = "daskberg-bloom-v1"
TOKEN_BLOOM_BLOB_TYPE = "daskberg-token-bloom-v1"
DEFAULT_M_BITS = 1 << 17
# token filters hold a file's DISTINCT VOCABULARY, not its values —
# real corpora run ~10^5-10^6 distinct tokens per multi-GB file, so the
# default is 8x the value-index default (128 KiB/file; ~1% FPR at 1M
# distinct tokens with 2 seeds is not achievable, but FPR only costs
# wasted IO — soundness never depends on it)
DEFAULT_TOKEN_M_BITS = 1 << 20
DEFAULT_SEEDS = BLOOM_SEEDS
# the ONE tokenizer both the build and every probe/residual share:
# lowercase, split on runs of whitespace, drop empties.  Recorded in
# blob properties so a future tokenizer revision can coexist.
TOKENIZER_ID = "whitespace-lower-v1"
TOKEN_SPLIT_RE = r"\s+"

_PROBE_TYPES = {
    "int",
    "long",
    "date",
    "timestamp",
    "timestamptz",
    "timestampz",
    "string",
    "boolean",
}


def _blob_meta(
    fpath: str,
    c: str,
    m_bits: int,
    seeds_prop: str,
    fid: int,
    snapshot_id: int,
    seq: int,
    blob_type: str = BLOOM_BLOB_TYPE,
) -> dict[str, Any]:
    """The ONE definition of a bloom blob's metadata — the driver pack,
    the executor shard write, and the driver-side statistics-entry
    reconstruction must stay bit-compatible or the statistics list
    desyncs from the puffin footers."""
    props = {
        "data-file": fpath,
        "column": c,
        "m-bits": str(m_bits),
        "seeds": seeds_prop,
    }
    if blob_type == TOKEN_BLOOM_BLOB_TYPE:
        props["tokenizer"] = TOKENIZER_ID
    return {
        "type": blob_type,
        "fields": [fid],
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "properties": props,
    }


def write_token_blooms(
    writer,
    spark,
    columns: list[str],
    m_bits: int = DEFAULT_TOKEN_M_BITS,
    seeds=DEFAULT_SEEDS,
    file_subset: dict[str, set] | None = None,
) -> str | None:
    """Per-(file, column) Bloom filters over the TOKENS of string
    columns — the keyword-search analogue of ``write_file_blooms``.

    A value bloom answers ``col == v``; it is useless for "which files
    contain documents mentioning *word*" because the indexed unit is
    the whole string.  This index hashes every whitespace-delimited,
    lowercased token (``TOKENIZER_ID``) of the column instead, so a
    plan-time probe of ``to_df(token_filters=[("text", "word")])``
    drops every file whose filter proves NO document in it contains the
    token — at 100 TB a keyword search over a corpus sharded by
    (language, source) reads only the shards where the word occurs.
    Same soundness story as the value index: superset test, raw file
    contents, residual ``array_contains`` re-filter always applies."""
    return write_file_blooms(
        writer,
        spark,
        columns,
        m_bits=m_bits,
        seeds=seeds,
        file_subset=file_subset,
        tokenize=True,
    )


def write_file_blooms(
    writer,
    spark,
    columns: list[str],
    m_bits: int = DEFAULT_M_BITS,
    seeds=DEFAULT_SEEDS,
    file_subset: dict[str, set] | None = None,
    tokenize: bool = False,
    scan_source=None,
) -> str | None:
    """Build per-(file, column) Bloom filters in ONE distributed pass
    and commit them as a Puffin statistics file on the current
    snapshot.  Returns the statistics file path.

    The pass reads RAW file contents (``_read_file_groups``, no delete
    application): blobs must stay valid for their immutable file at
    EVERY snapshot — a blob built from live-rows-only would wrongly
    prune a time-travel or rollback read at a snapshot where a
    later-deleted value was still live.  Each value explodes into its k
    bit positions, positions fold into 64-bit words with ``bit_or``
    keyed on (file, column, word), and only the OCCUPIED words are
    collected — never values or rows.

    ``file_subset`` (per-column sets of planned file paths) restricts
    the build to those files — the INCREMENTAL path
    ``refresh_file_blooms`` uses after compaction — and the resulting
    entry is APPENDED (prior blobs stay live) instead of replacing the
    snapshot's bloom entry.  Returns None when the subset leaves
    nothing to index."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)
    from pyspark.sql import functions as F

    from daskberg_spark.iceberg.metadata import IcebergTable

    if m_bits % 64:
        raise ValueError("m_bits must be a multiple of 64")
    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    blob_type = TOKEN_BLOOM_BLOB_TYPE if tokenize else BLOOM_BLOB_TYPE
    types = dict(writer.types)
    for c in columns:
        if c not in types:
            raise ValueError(f"unknown column {c!r}")
        if tokenize and types[c] != "string":
            raise ValueError(
                f"token blooms index string columns only — {c!r} is "
                f"{types[c]!r}"
            )
        if types[c] not in _PROBE_TYPES:
            raise ValueError(
                f"column {c!r} has type {types[c]!r} — no bit-exact "
                "driver-side xxhash64 mapping, the index could never "
                "be probed"
            )
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    live = t.plan_files(None)
    targets: dict[str, set] = {}
    for c in columns:
        if file_subset is None:
            targets[c] = {f["file_path"] for f in live}
        else:
            targets[c] = set(file_subset.get(c, ()))
    scan_paths = set().union(*targets.values())
    if not scan_paths:
        return None
    scan_files = [f for f in live if f["file_path"] in scan_paths]
    # one-scan maintenance (r14): a SharedStatsScan serves the already-
    # read cached frame; None falls back to a direct, file-tagged read
    df = raw_read(t, spark, scan_files, set(columns), scan_source)
    legs = []
    for c in columns:
        if not targets[c]:
            continue
        leg = df.where(F.col(c).isNotNull())
        if targets[c] != scan_paths:
            # __file carries the normalized scan path form
            leg = leg.where(
                F.col("__file").isin(sorted(_norm(p) for p in targets[c]))
            )
        if tokenize:
            # one row per TOKEN (codegen split+explode, no Python): the
            # hashed unit becomes the lowercased whitespace token, the
            # same normalization every probe applies
            leg = leg.select(
                F.col("__file"),
                F.explode(
                    F.split(F.lower(F.col(c)), TOKEN_SPLIT_RE)
                ).alias("__tok"),
            ).where(F.col("__tok") != "")
            hashed = F.col("__tok")
        else:
            hashed = F.col(c)
        pos = F.array(
            *[
                F.pmod(
                    F.xxhash64(hashed, F.lit(int(s)).cast("long")),
                    F.lit(int(m_bits)),
                )
                for s in seeds
            ]
        )
        legs.append(
            leg.select(
                F.col("__file").alias("f"),
                F.lit(c).alias("c"),
                F.explode(pos).alias("p"),
            )
        )
    u = legs[0]
    for leg in legs[1:]:
        u = u.unionByName(leg)
    word_frame = (
        u.selectExpr(
            "f",
            "c",
            "CAST(p DIV 64 AS INT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)) AS b",
        )
        .groupBy("f", "c", "w")
        .agg(F.bit_or("b").alias("bits"))
    )
    # every targeted (file, column) pair, normalized — the all-NULL /
    # empty-file backfill set (an all-zero filter proves every non-NULL
    # probe value absent)
    pair_list = sorted(
        {
            (_norm(f["file_path"]), c)
            for f in live
            for c in columns
            if f["file_path"] in targets[c]
        }
    )
    seq = writer._last_sequence_number
    seeds_prop = ",".join(str(int(s)) for s in seeds)
    fid_by_col = {c: writer.ids[c] for c in columns}
    shard_gate = int(
        os.environ.get("DASKBERG_BLOOM_SHARD_FILE_GATE", "1000")
    )
    if len(scan_paths) > shard_gate:
        entries = _sharded_blob_commit(
            spark,
            word_frame,
            pair_list,
            f"{writer.path}/metadata",
            m_bits,
            seeds_prop,
            fid_by_col,
            snapshot_id,
            seq,
            blob_type,
        )
    else:
        rows = word_frame.collect()
        words: dict[tuple[str, str], list[int]] = {}
        for r in rows:
            arr = words.setdefault(
                (_norm(r.f), r.c), [0] * (m_bits // 64)
            )
            arr[r.w] = r.bits & ((1 << 64) - 1)
        for pair in pair_list:
            words.setdefault(pair, [0] * (m_bits // 64))
        blobs = [
            dict(
                _blob_meta(
                    fpath, c, m_bits, seeds_prop,
                    fid_by_col[c], snapshot_id, seq, blob_type,
                ),
                data=struct.pack(f"<{m_bits // 64}Q", *arr),
            )
            for (fpath, c), arr in sorted(words.items())
        ]
        discr = (
            f"blooms{snapshot_id}{blob_type}{sorted(columns)}{sorted(words)}"
        )
        path = puffin_path(writer, "blooms", snapshot_id, discr)
        entries = [stats_entry(path, write_puffin(path, blobs), snapshot_id)]
    # a full rebuild replaces prior SAME-TYPE bloom entries for this
    # snapshot (NDV stats, the other bloom flavor, and any other
    # statistics files coexist untouched); incremental builds append —
    # prior blobs stay live, the probe reads all entries
    publish(
        writer,
        entries,
        replaces=(
            None
            if file_subset is not None
            else same_snapshot_type(snapshot_id, blob_type)
        ),
    )
    return entries[-1]["statistics-path"]


def _sharded_blob_commit(
    spark,
    word_frame,
    pair_list: list[tuple[str, str]],
    meta_dir: str,
    m_bits: int,
    seeds_prop: str,
    fid_by_col: dict[str, int],
    snapshot_id: int,
    seq: int,
    blob_type: str = BLOOM_BLOB_TYPE,
) -> list[dict[str, Any]]:
    """Executor-sharded Puffin write for million-file index builds — the
    same shape as the DV commit path's ``DV_SHARD_FILE_GATE``: word rows
    shuffle once by file-hash shard, each shard task assembles its
    files' blobs and writes ONE puffin file DIRECTLY (requires
    shared/object storage reachable from executors, like every other
    executor write in this engine), and the driver collects only
    (file, column, path, offset, length) rows — never bitmap words.
    Returns one statistics entry per shard puffin."""
    import pandas as pd
    from pyspark.sql import functions as F

    per_shard = int(os.environ.get("DASKBERG_BLOOM_SHARD_PAIRS", "256"))
    n_shards = max(1, (len(pair_list) + per_shard - 1) // per_shard)
    markers = spark.createDataFrame(
        pd.DataFrame(
            [(f, c, -1, 0) for f, c in pair_list],
            columns=["f", "c", "w", "bits"],
        )
    )
    wf = word_frame.unionByName(markers).withColumn(
        "shard", F.pmod(F.xxhash64("f"), F.lit(n_shards))
    )
    n_words = m_bits // 64

    def build_shard(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import os as _os
        import struct as _struct
        import uuid as _uuid

        from daskberg_spark.iceberg.bloomindex import _blob_meta as _bm
        from daskberg_spark.iceberg.puffin import write_puffin as _wp

        words: dict[tuple[str, str], list[int]] = {}
        for f, c, w, bits in zip(pdf["f"], pdf["c"], pdf["w"], pdf["bits"]):
            arr = words.setdefault((f, c), [0] * n_words)
            if w >= 0:
                arr[int(w)] = int(bits) & ((1 << 64) - 1)
        if not words:
            return pd.DataFrame(
                columns=["f", "c", "path", "offset", "length"]
            )
        blobs = [
            dict(
                _bm(
                    fpath, c, m_bits, seeds_prop,
                    fid_by_col[c], snapshot_id, seq, blob_type,
                ),
                data=_struct.pack(f"<{n_words}Q", *arr),
            )
            for (fpath, c), arr in sorted(words.items())
        ]
        # fresh uuid4 PER TASK ATTEMPT (the DV shard path's rule): a
        # retried/speculative/zombie attempt must never open the file a
        # finished attempt already wrote — a deterministic name would
        # let a late zombie truncate a committed statistics file; only
        # the winning attempt's rows reach the driver, losers become
        # mtime-guarded orphans
        name = f"blooms-{snapshot_id}-shard-{_uuid.uuid4().hex[:12]}.puffin"
        path = _os.path.join(meta_dir, name)
        metas = _wp(path, blobs)
        return pd.DataFrame(
            [
                (
                    m["properties"]["data-file"],
                    m["properties"]["column"],
                    path,
                    m["offset"],
                    m["length"],
                )
                for m in metas
            ],
            columns=["f", "c", "path", "offset", "length"],
        )

    out_rows = (
        wf.groupBy("shard")
        .applyInPandas(
            build_shard,
            "f string, c string, path string, offset long, length long",
        )
        .collect()
    )
    by_path: dict[str, list] = {}
    for r in out_rows:
        by_path.setdefault(r.path, []).append(r)
    entries = []
    for path in sorted(by_path):
        metas = [
            dict(
                _blob_meta(
                    r.f, r.c, m_bits, seeds_prop,
                    fid_by_col[r.c], snapshot_id, seq, blob_type,
                ),
                offset=r.offset,
                length=r.length,
            )
            for r in sorted(by_path[path], key=lambda r: r.offset)
        ]
        entries.append(stats_entry(path, metas, snapshot_id))
    return entries


class _BloomProbe:
    """Lazy per-plan reader over a table's bloom blobs: footer metadata
    resolves once, blob bytes load per (file, column) on first probe."""

    def __init__(self, table, blob_type: str = BLOOM_BLOB_TYPE) -> None:
        self.table = table
        self.blob_map: dict[tuple[str, int], tuple[str, dict]] = {}
        for entry in table.table_statistics():
            for meta in entry.get("blob-metadata", []):
                if meta.get("type") != blob_type:
                    continue
                props = meta.get("properties") or {}
                fpath = props.get("data-file")
                flds = meta.get("fields") or []
                if fpath and flds:
                    # later statistics entries override earlier ones
                    self.blob_map[(_norm(fpath), flds[0])] = (
                        table._relocate(entry["statistics-path"]),
                        meta,
                    )
        self._bytes: dict[tuple[str, int], bytes | None] = {}

    def __bool__(self) -> bool:
        return bool(self.blob_map)

    def _load(self, key: tuple[str, int]):
        if key not in self._bytes:
            stats_path, meta = self.blob_map[key]
            try:
                with open(stats_path, "rb") as f:
                    f.seek(meta["offset"])
                    self._bytes[key] = f.read(meta["length"])
            except OSError:
                self._bytes[key] = None  # unreadable blob → never prune
        return self._bytes[key]

    def may_contain(self, file_path: str, field_id: int, type_str: str, value) -> bool:
        """False only when the blob PROVES the value absent from the
        file; True on any uncertainty."""
        key = (_norm(file_path), field_id)
        if key not in self.blob_map:
            return True
        _, meta = self.blob_map[key]
        props = meta.get("properties") or {}
        try:
            m_bits = int(props["m-bits"])
            seeds = [int(s) for s in props["seeds"].split(",")]
        except (KeyError, ValueError):
            return True
        data = self._load(key)
        if data is None or len(data) * 8 != m_bits:
            return True
        for s in seeds:
            h = spark_xxhash64_chain(value, type_str, s)
            if h is None:
                return True  # unsupported type/value → cannot prune
            p = h % m_bits  # python % == Spark pmod for positive m
            if not (data[p >> 3] >> (p & 7)) & 1:
                return False
        return True


def bloom_prune_files(
    table, files: list[dict[str, Any]], filters: Any
) -> list[dict[str, Any]]:
    """Drop planned files that an indexed equality/IN predicate proves
    cannot contain a match.  DNF semantics mirror ``apply_filters``: a
    file survives if ANY conjunction may match; a conjunction fails if
    ANY of its probeable predicates proves absence (for ``in``, every
    listed value must be absent)."""
    from daskberg_spark.iceberg.planner import is_dnf, normalize_value

    if not filters or not files:
        return files
    probe = _BloomProbe(table)
    if not probe:
        return files
    fields = table.fields
    conjunctions = filters if is_dnf(filters) else [filters]

    def conj_may_match(f: dict[str, Any], conj) -> bool:
        for col, op, raw in conj:
            info = fields.get(col)
            if info is None or info.type not in _PROBE_TYPES:
                continue
            if op in ("==", "="):
                if raw is None:
                    continue
                v = normalize_value(raw, info.type)
                if not probe.may_contain(
                    f["file_path"], info.field_id, info.type, v
                ):
                    return False
            elif op == "in":
                # NULLs in the list match no rows (SQL three-valued
                # logic; the bounds pass skips them the same way)
                vals = [r for r in raw if r is not None]
                if not vals:
                    continue
                if all(
                    not probe.may_contain(
                        f["file_path"],
                        info.field_id,
                        info.type,
                        normalize_value(r, info.type),
                    )
                    for r in vals
                ):
                    return False
        return True

    return [
        f
        for f in files
        if any(conj_may_match(f, conj) for conj in conjunctions)
    ]


def normalize_token(token: Any) -> str:
    """The probe-side half of ``TOKENIZER_ID``: the build lowercases
    and splits on whitespace, so a probe term must be one non-empty
    lowercased token or it could never have been hashed."""
    if not isinstance(token, str):
        raise ValueError(f"token filters take strings, got {token!r}")
    tok = token.lower()
    if not tok or any(ch.isspace() for ch in tok):
        raise ValueError(
            f"token {token!r} is empty or contains whitespace — the "
            f"{TOKENIZER_ID} tokenizer can never produce it; search "
            "each word as its own (col, token) filter"
        )
    return tok


def token_prune_files(
    table, files: list[dict[str, Any]], token_filters: Any
) -> list[dict[str, Any]]:
    """Drop planned files whose token Bloom filter proves NO row's
    ``col`` contains ``token`` (``TOKENIZER_ID`` tokenization).  AND
    semantics across entries, matching ``to_df``'s residual; files
    without a blob (or with a foreign tokenizer revision) always
    survive."""
    if not token_filters or not files:
        return files
    probe = _BloomProbe(table, TOKEN_BLOOM_BLOB_TYPE)
    if not probe:
        return files
    # a blob from a different tokenizer revision hashed different
    # units — it must never prune this probe's tokens
    probe.blob_map = {
        k: v
        for k, v in probe.blob_map.items()
        if (v[1].get("properties") or {}).get("tokenizer") == TOKENIZER_ID
    }
    if not probe.blob_map:
        return files
    fields = table.fields
    prepared = []
    for col, token in token_filters:
        info = fields.get(col)
        tok = normalize_token(token)
        if info is None or info.type != "string":
            continue  # residual-only (to_df validates loudly upstream)
        prepared.append((info.field_id, tok))
    if not prepared:
        return files
    return [
        f
        for f in files
        if all(
            probe.may_contain(f["file_path"], fid, "string", tok)
            for fid, tok in prepared
        )
    ]


def consolidate_file_blooms(writer, t) -> bool:
    """Repack the accumulated bloom entries (both flavors) into ONE
    statistics entry holding only LIVE files' blobs, later-entry-wins
    already applied by ``_BloomProbe``'s footer resolution.  Blob BYTES
    are copied verbatim — the filters describe immutable files, so no
    rebuild or rehash happens.  Returns True when a rewrite happened
    (metadata committed here)."""
    flavors = (BLOOM_BLOB_TYPE, TOKEN_BLOOM_BLOB_TYPE)

    def build(snapshot_id: int, seq: int) -> list[dict]:
        live = {_norm(f["file_path"]) for f in t.plan_files(None)}
        blobs = []
        for blob_type in flavors:
            probe = _BloomProbe(t, blob_type)
            for key, (_stats_path, meta) in sorted(probe.blob_map.items()):
                if key[0] not in live:
                    continue
                data = probe._load(key)
                if data is None:
                    # unreadable bytes: drop the blob — the probe treats
                    # a missing blob as "cannot prune", never a wrong
                    # answer
                    continue
                blobs.append(
                    {
                        "type": meta["type"],
                        "fields": list(meta.get("fields") or []),
                        "snapshot-id": snapshot_id,
                        "sequence-number": meta.get("sequence-number", seq),
                        "properties": dict(meta.get("properties") or {}),
                        "data": data,
                    }
                )
        return blobs

    return consolidate_entries(
        writer,
        flavors,
        build,
        "blooms",
    )


def refresh_file_blooms(writer, spark, scan_source=None) -> str | None:
    """Incremental index catch-up: build blobs ONLY for live files that
    lack one for an already-indexed column — the post-compaction /
    post-append maintenance step (``maintain`` runs it when a Spark
    session is given).  Indexed columns and their (m_bits, seeds) come
    from the existing blobs; returns the new statistics file path, or
    None when the table has no bloom index or nothing is missing.
    Past ``statsblobs.CONSOLIDATE_AFTER`` accumulated entries the refresh
    first repacks one consolidated live-files entry."""
    from daskberg_spark.iceberg.metadata import IcebergTable

    t = IcebergTable(writer.path)
    if consolidate_file_blooms(writer, t):
        t = IcebergTable(writer.path)
    id_to_name = {f.field_id: n for n, f in t.fields.items()}
    live = None
    out = None
    for blob_type in (BLOOM_BLOB_TYPE, TOKEN_BLOOM_BLOB_TYPE):
        probe = _BloomProbe(t, blob_type)
        if not probe:
            continue
        params: dict[str, tuple[int, tuple]] = {}
        for (_path, fid), (_sp, meta) in probe.blob_map.items():
            name = id_to_name.get(fid)
            props = meta.get("properties") or {}
            try:
                params[name] = (
                    int(props["m-bits"]),
                    tuple(int(s) for s in props["seeds"].split(",")),
                )
            except (KeyError, ValueError):
                continue
        if live is None:
            live = t.plan_files(None)
        missing: dict[str, set] = {}
        for f in live:
            for fid, name in id_to_name.items():
                if name not in params:
                    continue
                if (_norm(f["file_path"]), fid) not in probe.blob_map:
                    missing.setdefault(name, set()).add(f["file_path"])
        if not missing:
            continue
        # one build per distinct (m_bits, seeds) group within the
        # flavor — normally exactly one
        groups: dict[tuple, list[str]] = {}
        for name in missing:
            groups.setdefault(params[name], []).append(name)
        for (m_bits, seeds), cols in sorted(groups.items()):
            out = write_file_blooms(
                writer,
                spark,
                sorted(cols),
                m_bits=m_bits,
                seeds=seeds,
                file_subset={c: missing.get(c, set()) for c in cols},
                tokenize=blob_type == TOKEN_BLOOM_BLOB_TYPE,
                scan_source=scan_source,
            )
    return out


def plan_bloom_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT ``refresh_file_blooms``:
    ``(raw_norm_paths, raw_columns, dirty_columns)`` — the bloom row of
    the ``statsblobs.stats_families`` table that
    ``onepass.plan_shared_stats_scan`` composes.  Blooms index RAW file
    contents, so the dirty set is always empty.  Advisory only: a
    stale plan changes shared-cache membership, never answers."""
    id_to_name = {f.field_id: n for n, f in t.fields.items()}
    live = None
    paths: set[str] = set()
    cols: set[str] = set()
    for blob_type in (BLOOM_BLOB_TYPE, TOKEN_BLOOM_BLOB_TYPE):
        probe = _BloomProbe(t, blob_type)
        if not probe:
            continue
        indexed = {
            id_to_name.get(fid)
            for (_path, fid) in probe.blob_map
        } - {None}
        if live is None:
            live = t.plan_files(None)
        for f in live:
            for fid, name in id_to_name.items():
                if name not in indexed:
                    continue
                if (_norm(f["file_path"]), fid) not in probe.blob_map:
                    paths.add(_norm(f["file_path"]))
                    cols.add(name)
    return paths, cols, set()
