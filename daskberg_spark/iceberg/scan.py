"""Iceberg table → Spark DataFrame: the compute hand-off.

Reference counterpart: ``/root/reference/daskberg/ice.py:220-264`` (hand-off
to ``dask.dataframe.read_parquet``).  Here the pruned file list feeds
``spark.read.schema(st).parquet(*files)``:

- The explicit snapshot-pinned schema makes schema evolution work: older
  files missing newer columns resolve by name and null-fill (reference
  forces dtypes into fastparquet, ``ice.py:252-254``).
- The *full* predicate is always re-applied as a Spark ``filter`` so
  metadata pruning is pure IO-elision — correctness never depends on
  stats (SURVEY.md §4 delta 2).  Catalyst then pushes the residual down
  to parquet row-group skipping for free.
- Empty survivor set → empty DataFrame with the right schema (the
  reference raises ValueError, ``ice.py:248-249``; Spark semantics favor
  the empty relation — SURVEY.md §4 delta 1).
"""

from __future__ import annotations

import os
import re
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from daskberg_spark.iceberg.conversions import LINEAGE_COLS, schema_to_struct
from daskberg_spark.iceberg.metadata import IcebergTable
from daskberg_spark.iceberg.planner import is_dnf


def filters_to_column(filters: Any) -> Column | None:
    """DNF filter tuples → a single Spark boolean Column."""
    if not filters:
        return None

    def pred(p: tuple[str, str, Any]) -> Column:
        col, op, val = p
        c = F.col(col)
        if op in ("==", "="):
            return c == F.lit(val)
        if op == "!=":
            return c != F.lit(val)
        if op == "<":
            return c < F.lit(val)
        if op == "<=":
            return c <= F.lit(val)
        if op == ">":
            return c > F.lit(val)
        if op == ">=":
            return c >= F.lit(val)
        if op == "in":
            return c.isin(list(val))
        raise ValueError(f"unknown op {op!r}")

    def conj(preds: list[tuple[str, str, Any]]) -> Column:
        out = pred(preds[0])
        for p in preds[1:]:
            out = out & pred(p)
        return out

    if is_dnf(filters):
        out = conj(filters[0])
        for c in filters[1:]:
            out = out | conj(c)
        return out
    return conj(filters)


def _eq_delete_key_names(table: IcebergTable) -> set[str] | None:
    """CURRENT column names keyed by the table's live equality deletes —
    what a projected scan must still read for the anti-join to apply.
    None = some key id does not resolve to a current top-level column
    (the read itself raises the loud NotImplementedError for that);
    callers skip narrowing so behavior is unchanged."""
    id_to_name = {f.field_id: n for n, f in table.fields.items()}
    out: set[str] = set()
    for d in table.plan_deletes():
        if d.get("content") == 2:
            for i in d["equality_ids"]:
                name = id_to_name.get(i)
                if name is None:
                    return None
                out.add(name)
    return out


def to_df(
    table: IcebergTable,
    spark: SparkSession,
    filters: Any = None,
    columns: list[str] | None = None,
    keep_file: bool = False,
    keep_pos: bool = False,
    row_lineage: bool = False,
    file_subset: Any = None,
    variant_filters: Any = None,
    token_filters: Any = None,
) -> DataFrame:
    """Materialize the table's current snapshot as a (lazy) DataFrame.

    ``keep_file=True`` retains a ``__file`` provenance column (the scan
    file each row came from) for rewrite jobs — distributed merge /
    compaction — that must map rows back to files; deletes still apply.
    ``keep_pos=True`` (implies file tagging) additionally retains the
    row's ordinal ``__pos`` within its file — the identity a
    position-delete writer needs.

    ``row_lineage=True`` adds the v3 row-lineage columns ``_row_id`` and
    ``_last_updated_sequence_number``: a file MATERIALIZING them (rewrites
    and MOR replacement files do) supplies the stored values, and null /
    absent values inherit ``first_row_id + position`` and the file's data
    sequence number, per the v3 spec.  Files committed before lineage was
    enabled (no ``first_row_id``) read NULL — identity was never assigned.
    Delta vs spec: manifest-level first_row_id inheritance is not
    consumed; this engine writes explicit per-entry values.

    ``file_subset`` (iterable of planned file paths) restricts the scan
    to those data files AFTER normal planning — the hook surgical
    operations (fast DELETE's partial-file pass, join-derived runtime
    pruning) use to avoid re-reading files their own metadata pass
    already resolved.  Paths must be the RELOCATED paths ``plan_files``
    returns.

    ``variant_filters`` — ``[(col, '$.field', op, value), ...]``
    predicates on v3 variant subfields: each prunes planned files by
    the manifest-lifted shredded-subfield bounds (``variant_bounds``,
    zero plan-time IO; falls back to SHREDDED parquet footer stats for
    files without them) and then applies the exact ``variant_get``
    predicate as a residual, so results never depend on stats.  AND
    semantics across entries, like ``filters``.

    ``token_filters`` — ``[(col, token), ...]`` keyword predicates on
    string columns: each prunes planned files by the table's token
    Bloom index (``bloomindex.write_token_blooms``) when one exists and
    then applies the exact tokenized ``array_contains`` residual
    (lowercase, whitespace split — ``bloomindex.TOKENIZER_ID``), so
    results never depend on the index.  AND semantics across entries.
    """
    want_file, want_pos = keep_file or keep_pos, keep_pos
    keep_pos = keep_pos or row_lineage
    keep_file = keep_file or keep_pos
    struct = schema_to_struct(table.schema)
    if columns:
        # projection pushdown BELOW the plan: the native parquet legs
        # get it from Catalyst anyway, but mapInPandas legs (AVRO,
        # position-tagged ORC) are opaque to the optimizer — narrowing
        # the scan struct is what lets their decoders skip unwanted
        # fields.  The scan must still carry the residual filter's
        # columns and any live equality-delete key columns (the
        # anti-join reads them); both are dropped by the final select.
        wanted = set(columns)
        if filters:
            for conj in (filters if is_dnf(filters) else [filters]):
                for col, _op, _v in conj:
                    wanted.add(col)
        if variant_filters:
            # the variant residual reads the column even when projected
            # away (dropped by the final select, like filter columns)
            wanted |= {vf[0] for vf in variant_filters}
        if token_filters:
            wanted |= {tf[0] for tf in token_filters}
        base = {f.name for f in struct.fields}
        if wanted <= base:
            eq_keys = _eq_delete_key_names(table)
            # eq_keys must ALSO be top-level struct fields: a delete
            # keyed on a nested leaf resolves to a dotted path
            # ('meta.score'), and narrowing by it would drop the parent
            # struct column the anti-join reads — skip narrowing
            if eq_keys is not None and eq_keys <= base:
                wanted |= eq_keys
                struct = T.StructType(
                    [f for f in struct.fields if f.name in wanted]
                )
    extra_fields = None
    if row_lineage:
        extra_fields = [
            T.StructField(c, T.LongType(), True) for c in LINEAGE_COLS
        ]
        struct = T.StructType(list(struct.fields) + extra_fields)
    files = table.plan_files(filters)
    if file_subset is not None:
        subset = set(file_subset)
        files = [f for f in files if f["file_path"] in subset]
    _vcounters: dict[str, int] = {}
    if variant_filters:
        for vcol, vpath, vop, vval in variant_filters:
            info = table.fields.get(vcol)
            if info is None or info.type != "variant":
                raise ValueError(
                    f"variant_filters column {vcol!r} is not a variant "
                    "column of this table"
                )
            _variant_probe(vop, vval)  # loud 'in'-shape validation
        files = _variant_prune_multi(
            files, list(variant_filters), _vcounters
        )
    if token_filters:
        from daskberg_spark.iceberg.bloomindex import (
            normalize_token,
            token_prune_files,
        )

        for tcol, ttok in token_filters:
            info = table.fields.get(tcol)
            if info is None or info.type != "string":
                raise ValueError(
                    f"token_filters column {tcol!r} is not a string "
                    "column of this table"
                )
            normalize_token(ttok)  # loud shape validation
        files = token_prune_files(table, files, list(token_filters))
    # scan observability (real Iceberg's ScanMetrics analogue): one
    # driver-side dict per to_df call — what an operator checks when a
    # query reads more than expected ("did the filter prune?  which
    # formats?  how many delete files apply?").  The live totals reuse
    # the reconciliation ``scan_all`` cached while planning this very
    # read (the delete plan below forces it), so the report costs zero
    # extra manifest IO.
    _live_data, _live_deletes = table.scan_all()
    _deletes = table.plan_deletes()
    table.last_scan = {
        "files_scanned": len(files),
        # plan-time parquet-footer reads the variant pruning needed
        # (0 when manifest-lifted bounds resolved every predicate)
        "variant_footer_reads": _vcounters.get("variant_footer_reads", 0),
        "files_live": len(_live_data),
        "bytes_scanned": sum(
            int(f.get("file_size_in_bytes") or 0) for f in files
        ),
        "records_in_scanned_files": sum(
            int(f.get("record_count") or 0) for f in files
        ),
        "formats": sorted(
            {str(f.get("file_format", "PARQUET")).upper() for f in files}
        ),
        "delete_files": {
            "equality": sum(1 for d in _deletes if d.get("content") == 2),
            "position": sum(
                1
                for d in _deletes
                if d.get("content") == 1
                and not d.get("referenced_data_file")
            ),
            "dv": sum(
                1
                for d in _deletes
                if d.get("content") == 1 and d.get("referenced_data_file")
            ),
        },
        "projected_columns": sorted(f.name for f in struct.fields),
        "filters": filters,
        "token_filters": token_filters,
    }
    if not files:
        df = spark.createDataFrame([], struct)
        if keep_file:
            df = df.withColumn("__file", F.lit(None).cast("string"))
        if keep_pos:
            df = df.withColumn("__pos", F.lit(None).cast("bigint"))
    else:
        df = _read_with_deletes(
            table,
            spark,
            files,
            struct,
            keep_file,
            keep_pos,
            extra_cols=LINEAGE_COLS if row_lineage else None,
        )
    if row_lineage:
        df = _attach_path_value(
            df,
            spark,
            "__file",
            "__frid",
            [(f["file_path"], f.get("first_row_id")) for f in files],
        )
        df = _attach_path_value(
            df,
            spark,
            "__file",
            "__fseq",
            [(f["file_path"], f.get("_sequence_number")) for f in files],
        )
        df = (
            df.withColumn(
                "_row_id",
                F.coalesce(
                    F.col("_row_id"), F.col("__frid") + F.col("__pos")
                ),
            )
            .withColumn(
                "_last_updated_sequence_number",
                F.coalesce(
                    F.col("_last_updated_sequence_number"), F.col("__fseq")
                ),
            )
            .drop("__frid", "__fseq")
        )
        if not want_pos:
            df = df.drop("__pos")
        if not want_file:
            df = df.drop("__file")
    residual = filters_to_column(filters)
    if residual is not None:
        df = df.filter(residual)
    if variant_filters:
        for vcol, vpath, vop, vval in variant_filters:
            df = df.filter(_variant_residual(vcol, vpath, vop, vval))
    if token_filters:
        from daskberg_spark.iceberg.bloomindex import (
            TOKEN_SPLIT_RE,
            normalize_token,
        )

        for tcol, ttok in token_filters:
            # the exact predicate the index approximates — identical
            # tokenization (lowercase, whitespace split; empty strings
            # can't equal a validated non-empty token)
            df = df.filter(
                F.array_contains(
                    F.split(F.lower(F.col(tcol)), TOKEN_SPLIT_RE),
                    F.lit(normalize_token(ttok)),
                )
            )
    if columns:
        extra = (["__file"] if want_file else []) + (
            ["__pos"] if want_pos else []
        )
        if row_lineage:
            extra += LINEAGE_COLS
        df = df.select(*columns + extra)
    return df


def _read_with_deletes(
    table: IcebergTable,
    spark: SparkSession,
    files: list[dict[str, Any]],
    struct,
    keep_file: bool = False,
    keep_pos: bool = False,
    extra_cols: list[str] | None = None,
) -> DataFrame:
    """Read data files and apply v2 delete files with sequence-correct
    applicability.

    Applicability keys on real Iceberg **data sequence numbers** (v2
    manifest-list ``sequence_number`` inherited into entries when null):
    an equality delete applies only to data files whose sequence number
    is *strictly lower* (a row re-inserted after the delete stays live).
    Snapshot ids are NOT usable for this in general — the spec allows
    them to be random longs — so only pre-sequence-number (v1-era)
    metadata, which cannot have been written by a spec v2 writer, falls
    back to snapshot-id order.  Position deletes name their target file
    explicitly, so they are inherently sequence-correct.  Equality
    deletes apply through ONE tagged scan anti-joined against delete
    keys carrying their sequence numbers (`key-equal AND delete_seq >
    file_seq`) — one anti-join per distinct key-column set, so plan size
    is flat in #delete-commits.
    """
    deletes = table.plan_deletes()
    id_to_name = {f.field_id: name for name, f in table.fields.items()}
    # Sequence ordering is authoritative on format-version >= 2 metadata;
    # a file or delete missing its sequence number there is v1-era
    # (pre-upgrade) content, which the spec reads at sequence 0 — NOT a
    # reason to revert the whole read to snapshot-id ordering, which the
    # spec makes random.  Only genuine v1 metadata (which cannot contain
    # delete files at all) orders by adding-snapshot id.
    use_seq = table.metadata.get("format-version", 1) >= 2

    def okey(rec: dict[str, Any]) -> int:
        if use_seq:
            seq = rec.get("_sequence_number")
            return 0 if seq is None else seq
        return rec.get("_snapshot_id") or 0

    eq_deletes = []  # (order_key, delete_snapshot_id, current_key_cols, entry)
    pos_files: list[dict[str, Any]] = []
    dv_files: list[dict[str, Any]] = []  # v3 deletion vectors (puffin)
    for d in deletes:
        if d.get("content") == 2:
            missing = [
                i for i in d["equality_ids"] if i not in id_to_name
            ]
            if missing:
                # a live equality delete keyed on a field id absent from
                # the current schema (dropped column, or a nested leaf
                # this resolver does not cover) cannot be applied — a
                # bare KeyError here would point nowhere
                raise NotImplementedError(
                    f"equality delete {d['file_path']} keys on field "
                    f"id(s) {missing} that do not resolve to a current "
                    "top-level column (dropped or nested); restore the "
                    "column or rewrite the deletes "
                    "(convert_deletes_to_dvs)"
                )
            cols = tuple(sorted(id_to_name[i] for i in d["equality_ids"]))
            eq_deletes.append((okey(d), d.get("_snapshot_id") or 0, cols, d))
        elif d.get("content") == 1:
            if d.get("referenced_data_file"):
                dv_files.append(d)
            else:
                pos_files.append(d)

    # __pos (per-row position) forces the Python decode leg for ORC —
    # Spark exposes _metadata.row_index for parquet alone.  __file alone
    # (sequence attachment for equality deletes, provenance) stays on
    # the NATIVE readers for both parquet and ORC via
    # _metadata.file_path, so an eq-delete-only ORC table never leaves
    # whole-stage codegen.
    tag_position = bool(pos_files) or bool(dv_files) or keep_pos
    tag_file = tag_position or keep_file or bool(eq_deletes)

    if not eq_deletes:
        df = _read_file_groups(
            table,
            spark,
            files,
            struct,
            tag_position,
            extra_cols=extra_cols,
            tag_file=tag_file,
        )
    else:
        # ONE tagged scan anti-joined against delete keys carrying their
        # sequence numbers — plan size stays FLAT in #delete-commits.
        # (The previous shape classed data files by which deletes apply
        # and unioned one scan + anti-join chain per class: class count
        # is O(#delete-commits), so a CDC table taking a delete commit
        # per minute for a day yields ~1.4k union legs — a plan-size
        # explosion.)  Each row carries its file's order key (__seq) via
        # a broadcast file→sequence map — O(#files) driver state, the
        # same order the scan plan itself already holds — and each
        # delete key carries the MAX order key over the commits that
        # deleted it (a row is dead iff SOME applicable delete is newer
        # ⟺ the newest matching delete is newer).  One anti-join per
        # distinct equality key-column set (bounded by the schema, not
        # by commit count) applies `key-equal AND delete_seq > file_seq`.
        df = _read_file_groups(
            table,
            spark,
            files,
            struct,
            tag_position,
            extra_cols=extra_cols,
            tag_file=True,
        )
        df = _attach_path_value(
            df, spark, "__file", "__seq", [(f["file_path"], okey(f)) for f in files]
        )
        # Partition-scoped equality deletes (what Flink's upsert writer
        # emits on partitioned tables): a delete carrying a partition
        # tuple applies ONLY to data files in that (spec, partition) —
        # applying it globally would kill same-keyed rows in other
        # partitions.  Only built when some eq delete is scoped; global
        # deletes (empty tuple, this writer's own shape) skip the extra
        # broadcast entirely.
        def _part_key(rec: dict[str, Any]) -> tuple | None:
            return _scope_tuple(table, rec)

        part_scoped = any(
            _part_key(d) is not None for _, _, _, d in eq_deletes
        )
        part_ids: dict[tuple, int] = {}

        def _part_id(rec: dict[str, Any]) -> int:
            key = _part_key(rec)
            if key is None:
                return -1
            if key not in part_ids:
                part_ids[key] = len(part_ids)
            return part_ids[key]

        if part_scoped:
            df = _attach_path_value(
                df,
                spark,
                "__file",
                "__part",
                [(f["file_path"], _part_id(f)) for f in files],
            )
        # Delete-file columns carry the names current at *delete time*;
        # resolve to today's names by field id via the delete snapshot's
        # pinned schema (positional guessing breaks when a rename
        # reorders the sorted names).  Delete files sharing a resolution
        # — (key set, delete-time names), almost always exactly one per
        # key set — read in ONE multi-path scan with their per-file
        # sequences attached via a broadcast path→sequence map, so scan
        # leaves are O(#delete schemas), never O(#delete commits).
        now_by_name = {name: f.field_id for name, f in table.fields.items()}
        by_resolution: dict[tuple, list[tuple[int, dict[str, Any]]]] = {}
        for k, snap, cols, entry in eq_deletes:
            del_schema = table.schema_for_snapshot(snap)
            then_by_id = {
                f.get("id", f.get("field-id")): f["name"]
                for f in del_schema["fields"]
            }
            # a field id the delete-time schema does not list at top
            # level (foreign metadata without the pinned schema, or a
            # nested leaf) falls back to the CURRENT name — matching
            # schema_for_snapshot's own current-schema fallback — rather
            # than a bare KeyError
            then_names = tuple(
                then_by_id.get(now_by_name[c], c) for c in cols
            )
            by_resolution.setdefault((cols, then_names), []).append((k, entry))
        by_cols: dict[tuple, list[tuple[tuple, list]]] = {}
        for (cols, then_names), items in by_resolution.items():
            by_cols.setdefault(cols, []).append((then_names, items))
        for cols, resolutions in sorted(by_cols.items()):
            frames, gate_entries = [], []
            for then_names, items in sorted(
                resolutions, key=lambda t: t[0]
            ):
                gate_entries += [e for _, e in items]
                dpaths = [e["file_path"] for _, e in items]
                dscan = _delete_parquet_reader(spark, dpaths).parquet(
                    *dpaths
                )
                if len(items) == 1:
                    # one delete file: its sequence is a constant — no
                    # metadata tagging, no lookup
                    dscan = dscan.withColumn(
                        "__del_seq", F.lit(items[0][0]).cast("bigint")
                    )
                    if part_scoped:
                        dscan = dscan.withColumn(
                            "__del_part",
                            F.lit(_part_id(items[0][1])).cast("int"),
                        )
                else:
                    dscan = dscan.withColumn(
                        "__dfile",
                        F.regexp_replace(
                            F.col("_metadata.file_path"), "^file:/*", "/"
                        ),
                    )
                    dscan = _attach_path_value(
                        dscan,
                        spark,
                        "__dfile",
                        "__del_seq",
                        [(e["file_path"], k) for k, e in items],
                    )
                    if part_scoped:
                        dscan = _attach_path_value(
                            dscan,
                            spark,
                            "__dfile",
                            "__del_part",
                            [(e["file_path"], _part_id(e)) for _, e in items],
                        )
                frames.append(
                    dscan.select(
                        *[
                            F.col(tn).alias(c)
                            for tn, c in zip(then_names, cols)
                        ],
                        "__del_seq",
                        *(["__del_part"] if part_scoped else []),
                    )
                )
            keys = frames[0]
            for fr in frames[1:]:
                keys = keys.unionByName(fr)
            if len(gate_entries) > 1:
                # Dedup hot keys across delete commits so a key deleted
                # by many commits doesn't multiply the anti-join's build
                # side; max(seq) preserves semantics (a row is dead iff
                # the NEWEST matching delete is newer).  With a single
                # delete file the anti-join's exists-semantics make
                # dedup unnecessary — skip the shuffle.  Partition-
                # scoped deletes dedup within their scope (a key's
                # deletes in different partitions are independent).
                keys = keys.groupBy(
                    *cols, *(["__del_part"] if part_scoped else [])
                ).agg(F.max("__del_seq").alias("__del_seq"))
            keys = _maybe_broadcast(keys.alias("__dk"), gate_entries)
            # null-safe equality: an Iceberg equality delete with a NULL
            # key matches rows where the column IS NULL
            cond = F.col("__dk.__del_seq") > df["__seq"]
            if part_scoped:
                cond = cond & (
                    (F.col("__dk.__del_part") == F.lit(-1))
                    | (F.col("__dk.__del_part") == df["__part"])
                )
            for c in cols:
                cond = cond & df[c].eqNullSafe(F.col(f"__dk.{c}"))
            df = df.join(keys, cond, "left_anti")
        df = df.drop("__seq")
        if part_scoped:
            df = df.drop("__part")

    pos_frames = []
    if pos_files:
        # Delete files store target paths as written at delete time; on a
        # relocated table (original_url) those reference the ORIGINAL
        # location while __file carries the actual on-disk path — apply
        # the same prefix rewrite as IcebergTable._relocate or the
        # anti-join matches nothing and deleted rows reappear.
        delf: Column = F.regexp_replace("file_path", "^file:/*", "/")
        if table.original_url:
            olen = len(table.original_url)
            delf = F.when(
                F.substring(delf, 1, olen) == F.lit(table.original_url),
                F.concat(F.lit(table.url), F.substring(delf, olen + 1, 1 << 30)),
            ).otherwise(delf)
        ppaths = [e["file_path"] for e in pos_files]
        pos_frames.append(
            _delete_parquet_reader(spark, ppaths)
            .parquet(*ppaths)
            .select(
                delf.alias("__del_file"),
                F.col("pos").alias("__del_pos"),
            )
            .distinct()
        )
    if dv_files:
        # v3 deletion vectors.  Small DV sets (total blob bytes under
        # the gate) decode ON THE DRIVER into one Arrow-backed local
        # relation — a pure-JVM LocalTableScan at execution, no Python
        # workers (measured 0.15 s vs ~2 s for the mapInPandas shape on
        # a 10k-position fixture).  Driver cost is bounded by the gate —
        # 64 KB of blob bytes, set from the measured crossover (driver
        # decode 5x faster at 15 KB, even at ~52 KB, executor 1.5x
        # faster at 131 KB); roaring bitmaps are ~2 bytes per dense
        # deleted row, so the gate admits ~32k positions, metadata-scale.
        # Larger DV sets decode EXECUTOR-side (mapInPandas over one row
        # per DV) so position lists materialize as Arrow batches on the
        # workers, never as driver rows.
        # referenced_data_file was relocated by scan_all to match __file.
        total_blob = sum(int(d["content_size_in_bytes"]) for d in dv_files)
        if total_blob <= DV_DRIVER_DECODE_MAX_BYTES:
            import pandas as pd

            from daskberg_spark.iceberg.puffin import dv_decode_file

            pdf = pd.concat(
                [
                    pd.DataFrame(
                        {
                            "__del_file": _norm_scan_path(
                                d["referenced_data_file"]
                            ),
                            "__del_pos": pd.Series(
                                dv_decode_file(
                                    d["file_path"],
                                    int(d["content_offset"]),
                                    int(d["content_size_in_bytes"]),
                                ),
                                dtype="int64",
                            ),
                        }
                    )
                    for d in dv_files
                ]
            )
            # explicit schema: an all-empty decoded frame (degenerate
            # foreign blobs) must be a no-op, not an infer-schema error
            pos_frames.append(
                spark.createDataFrame(
                    pdf, "__del_file string, __del_pos long"
                )
            )
        else:
            src = _driver_rows_df(
                spark,
                [
                    (
                        _norm_scan_path(d["referenced_data_file"]),
                        d["file_path"],
                        int(d["content_offset"]),
                        int(d["content_size_in_bytes"]),
                    )
                    for d in dv_files
                ],
                "__t string, __p string, __o long, __l long",
            )

            def _decode_dvs(batches):
                import pandas as pd

                from daskberg_spark.iceberg.puffin import dv_decode_file

                for pdf in batches:
                    for t_, p_, o_, l_ in pdf.itertuples(index=False):
                        yield pd.DataFrame(
                            {
                                "__del_file": t_,
                                "__del_pos": pd.Series(
                                    dv_decode_file(p_, int(o_), int(l_)),
                                    dtype="int64",
                                ),
                            }
                        )

            pos_frames.append(
                src.repartition(min(len(dv_files), 32)).mapInPandas(
                    _decode_dvs, "__del_file string, __del_pos long"
                )
            )
    if pos_frames:
        pos = pos_frames[0]
        for fr in pos_frames[1:]:
            pos = pos.unionByName(fr)
        df = df.join(
            _maybe_broadcast(pos, pos_files + dv_files),
            (df["__file"] == pos["__del_file"])
            & (df["__pos"] == pos["__del_pos"]),
            "left_anti",
        )
    if tag_file:
        drop = []
        if tag_position and not keep_pos:
            drop.append("__pos")
        if not keep_file:
            drop.append("__file")
        if drop:
            df = df.drop(*drop)
    return df


# Compressed-parquet size above which delete-key frames are NOT hint-forced
# to broadcast: a 100 TB table can carry multi-GB delete files, and a forced
# broadcast of those OOMs the driver.  Below the threshold the hint saves a
# shuffle deterministically; above it the join is left unhinted so AQE picks
# broadcast vs shuffle from runtime sizes.
BROADCAST_DELETE_MAX_BYTES = 32 << 20

# Total DV blob bytes at or under which deletion vectors decode on the
# DRIVER into one Arrow local relation (pure-JVM LocalTableScan, no
# Python workers) instead of the executor-side mapInPandas decode.
# MEASURED crossover (local[16], min-of-3): 15 KB blobs (10k positions)
# driver 5x faster; ~52 KB (100k positions) even; 131 KB (250k) executor
# 1.5x faster — the driver decode + Arrow ship stops paying around
# ~64 KB, and on a real cluster the executor path also parallelizes
# across workers while driver decode cannot.  ~2 bytes/dense-deleted
# row → 64 KB ≈ 32k positions.
DV_DRIVER_DECODE_MAX_BYTES = 64 << 10


# Path→sequence lookups above this entry count fall back to a broadcast
# join; at or below it they are a foldable map LITERAL (element_at on a
# create_map of literals) — zero exchanges and, critically, zero Python:
# spark.createDataFrame from a driver list builds an RDD through Python
# workers (applySchemaToPythonRDD), a fixed ~0.5 s per query that
# dominated the small-table delete read.  The bound keeps the literal
# expression codegen-safe; a 100 TB table with >8k live files in one
# snapshot-scan takes the join path, whose build side is O(#files) —
# the same order the scan plan itself already holds.
_MAP_LITERAL_MAX_ENTRIES = 8192

# Driver-row frames at or under this row count build as a pure-JVM
# literal relation (inline(array(struct(...))) over range(1)) instead of
# spark.createDataFrame, which ships a driver list through Python
# workers as a defaultParallelism-sliced RDD (32 near-empty Python
# tasks + applySchemaToPythonRDD, a fixed ~0.2-0.5 s per ACTION that
# executes the frame).  These frames are planning-state-sized (decode
# task lists, path maps) — the bound keeps the literal expression
# codegen-safe; larger frames take the createDataFrame path whose cost
# amortizes.
_LITERAL_ROWS_MAX = 256


def _sql_literal(v) -> str | None:
    """SQL literal text for a driver value, or None when the value has
    no safe textual form (caller falls back).  Floats go through their
    shortest round-trip repr — ``CAST('<repr>' AS DOUBLE)`` parses back
    to the identical IEEE value — so the literal frame stays bit-equal
    to the createDataFrame twin."""
    import datetime as _dt
    import decimal as _dec
    import math as _math

    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if _math.isnan(v):
            return "CAST('NaN' AS DOUBLE)"
        if _math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
            return f"CAST('{s}' AS DOUBLE)"
        return f"CAST('{v!r}' AS DOUBLE)"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex() + "'"
    if isinstance(v, _dec.Decimal):
        return f"'{v}'"
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            return None  # aware instants: session-TZ subtleties — fall back
        return f"'{v.isoformat(sep=' ')}'"
    if isinstance(v, _dt.date):
        return f"'{v.isoformat()}'"
    return None


def _driver_rows_df(spark: SparkSession, rows: list[tuple], struct) -> DataFrame:
    """Small driver-side row list as a DataFrame: JVM literal relation
    when at or under ``_LITERAL_ROWS_MAX`` rows (zero Python stages,
    one partition), else ``spark.createDataFrame``.  Result-identical
    either way (same values, same declared types).

    The literal relation is ONE parsed ``inline(array(named_struct``
    expression — building it per-value with ``F.lit().cast().alias()``
    cost 3 py4j round-trips per cell (a 256x3 frame ~2300 driver<->JVM
    calls of pure plan construction); a single ``expr`` string is one."""
    if not rows or len(rows) > _LITERAL_ROWS_MAX:
        return spark.createDataFrame(rows, struct)
    st = (
        T._parse_datatype_string(struct)
        if isinstance(struct, str)
        else struct
    )
    try:
        ddls = [f.dataType.simpleString() for f in st.fields]
        names = [
            "'" + f.name.replace("\\", "\\\\").replace("'", "\\'") + "'"
            for f in st.fields
        ]
        parts = []
        for r in rows:
            cells = []
            for v, name, ddl in zip(r, names, ddls):
                lit = _sql_literal(v)
                if lit is None:
                    raise ValueError("no SQL literal form")
                cells.append(f"{name}, CAST({lit} AS {ddl})")
            parts.append(f"named_struct({', '.join(cells)})")
        return spark.range(1).select(
            F.expr(f"inline(array({', '.join(parts)}))")
        )
    except Exception:
        pass
    try:
        structs = [
            F.struct(
                *[
                    F.lit(v).cast(f.dataType).alias(f.name)
                    for v, f in zip(r, st.fields)
                ]
            )
            for r in rows
        ]
        return spark.range(1).select(F.inline(F.array(*structs)))
    except Exception:
        # a value F.lit can't express (exotic nested types) — take the
        # general path; correctness never depends on the literal form
        return spark.createDataFrame(rows, struct)


def _footer_struct(path: str):
    """Spark StructType for a parquet DELETE file from a driver-side
    pyarrow footer read (<1 ms), or None to use Spark's own inference.
    Schema inference on ``spark.read.parquet`` is a JVM round-trip of
    listing + footer decode (~0.08 s measured per delete scan, paid
    once per delete resolution per read).  Only exact one-to-one Arrow
    to Spark mappings qualify — timestamps, nested types and INT96
    relics fall back to inference, so this is a driver-latency cut,
    never a semantics change."""
    try:
        import pyarrow as pa
        import pyarrow.parquet as _pq
        from pyspark.sql.pandas.types import from_arrow_schema

        sch = _pq.read_schema(path)
        for t in sch.types:
            if not (
                pa.types.is_integer(t)
                or pa.types.is_floating(t)
                or pa.types.is_boolean(t)
                or pa.types.is_string(t)
                or pa.types.is_large_string(t)
                or pa.types.is_binary(t)
                or pa.types.is_large_binary(t)
                or pa.types.is_decimal(t)
                or pa.types.is_date(t)
            ):
                return None
        return from_arrow_schema(sch)
    except Exception:
        return None


def _delete_parquet_reader(spark: SparkSession, paths: list[str]):
    """Reader for a group of same-shaped delete parquet files, with the
    footer-derived schema attached when safe (all files in a group share
    one resolution by construction, so one footer speaks for all)."""
    st = _footer_struct(paths[0]) if paths else None
    return spark.read.schema(st) if st is not None else spark.read


def _norm_scan_path(p: str) -> str:
    """Normalize a manifest path to match the ``__file`` tag: scheme
    strip (as the column's regexp does) PLUS ``normpath`` — Spark
    reports ``_metadata.file_path`` as a normalized URI, so a manifest
    path carrying ``//`` or ``.``/``..`` segments must canonicalize the
    same way or the sequence-map lookup silently misses (NULL ``__seq``
    keeps every row an equality delete should kill)."""
    return os.path.normpath(re.sub("^file:/*", "/", p))


def _attach_path_value(
    df: DataFrame,
    spark: SparkSession,
    path_col: str,
    out_col: str,
    pairs: list[tuple[str, int]],
) -> DataFrame:
    """Attach ``out_col`` = value for ``path_col`` from a path→int map,
    as a map literal when small, else a broadcast left join.  Keys are
    normalized via ``_norm_scan_path``; missing paths yield NULL in
    both variants."""
    pairs = [(_norm_scan_path(p), v) for p, v in pairs]
    if not pairs:
        return df.withColumn(out_col, F.lit(None).cast("bigint"))
    if len(pairs) <= _MAP_LITERAL_MAX_ENTRIES:
        # ONE parsed expression instead of 2N F.lit()/create_map py4j
        # round-trips: a 100-file map literal was ~200 driver<->JVM
        # calls of pure plan construction per read (measured as the
        # dominant cost of the changelog/rollup lifecycle entries)
        def q(s: str) -> str:
            return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

        items = ", ".join(
            f"{q(p)}, "
            + ("CAST(NULL AS BIGINT)" if v is None else f"{int(v)}L")
            for p, v in pairs
        )
        return df.withColumn(
            out_col,
            F.expr(
                f"CAST(element_at(map({items}), `{path_col}`) AS BIGINT)"
            ),
        )
    lookup = F.broadcast(
        spark.createDataFrame(pairs, f"__pv_path string, {out_col} bigint")
    )
    return df.join(
        lookup, df[path_col] == lookup["__pv_path"], "left"
    ).drop("__pv_path")


def _maybe_broadcast(keys: DataFrame, entries: list[dict[str, Any]]) -> DataFrame:
    # a DV entry's cost is its BLOB (content_size_in_bytes): counting the
    # whole multi-blob puffin once per blob would overcount a 100-file
    # delete commit 100x and wrongly skip the broadcast hint
    sizes = [
        e.get("content_size_in_bytes") or e.get("file_size_in_bytes")
        for e in entries
    ]
    if all(s is not None for s in sizes) and sum(sizes) <= BROADCAST_DELETE_MAX_BYTES:
        return F.broadcast(keys)
    return keys


def schema_alignment(
    from_schema: dict[str, Any], to_schema: dict[str, Any]
) -> tuple[dict[str, str], list[str], list[dict[str, Any]]]:
    """Field-id diff between two Iceberg schemas: ``(renames, drops,
    missing)`` to take a relation FROM one schema TO the other —
    renamed columns map old→new name, since-dropped columns list for
    removal, and ``missing`` holds the to-schema fields absent from the
    from-schema (fill with their v3 ``initial-default`` or null).  The
    ONE statement of the evolution rules shared by the row-level
    changelog and the streaming source (the batch scan's per-group loop
    applies the same rules with group-local conditions)."""
    to_ids = {
        f.get("id", f.get("field-id")): f["name"] for f in to_schema["fields"]
    }
    renames: dict[str, str] = {}
    drops: list[str] = []
    from_ids = set()
    for f in from_schema["fields"]:
        fid = f.get("id", f.get("field-id"))
        from_ids.add(fid)
        if fid in to_ids and to_ids[fid] != f["name"]:
            renames[f["name"]] = to_ids[fid]
        elif fid not in to_ids:
            drops.append(f["name"])
    missing = [
        f
        for f in to_schema["fields"]
        if f.get("id", f.get("field-id")) not in from_ids
    ]
    return renames, drops, missing


_DATA_FILE_FORMATS = ("PARQUET", "AVRO", "ORC")

# byte-range task size for AVRO data files: a single huge container no
# longer serializes on one core — tasks own the blocks whose preceding
# sync marker falls in their range (read_avro_range_columns' Hadoop
# split rule)
AVRO_SPLIT_BYTES = 32 * 1024 * 1024


def _open_cost_bytes(spark: SparkSession) -> int:
    """The session's ``spark.sql.files.openCostInBytes`` in bytes."""
    raw = spark.conf.get("spark.sql.files.openCostInBytes")
    if raw.isdigit():
        return int(raw)
    util = spark._jvm.org.apache.spark.network.util.JavaUtils
    return int(util.byteStringAsBytes(raw))  # a unit suffix: "4m"


def _python_file_scan(
    spark: SparkSession,
    struct,
    items: list,
    fmt: str,
    tag_position: bool,
    tag_file: bool | None = None,
) -> DataFrame:
    """Executor-side decode of AVRO (and position-tagged ORC) data files
    via ``mapInArrow`` — tasks are distributed, bytes never touch the
    driver, and each task yields Arrow RecordBatches built COLUMN-WISE
    (no per-row dicts, no pandas detour: the r9 row-oriented decode
    built a dict per record and re-extracted per-column lists; the
    columnar decoder appends each field straight into its column list
    and ``pyarrow.array`` lifts it once).

    ``items``: for AVRO, ``(path, file_size)`` pairs — files larger than
    ``AVRO_SPLIT_BYTES`` fan out into byte-range tasks decoded by
    ``read_avro_range_columns`` (each task owns the blocks whose
    preceding sync marker starts in its range, so a partition of the
    file decodes every record exactly once); for ORC, plain paths, one
    task per file.

    AVRO decodes through the from-scratch container reader (the same
    module that reads manifests); values convert per the Iceberg Avro
    spec — ``timestamp[tz]`` are long microseconds, ``date`` int
    epoch-days — which Arrow ingests natively as ``timestamp[us]`` /
    ``date32`` values.  ORC reads via ``pyarrow.orc`` (already Arrow)
    and is only routed here when row positions are needed (Spark
    exposes ``_metadata.row_index`` for parquet alone); untagged ORC
    uses Spark's native vectorized reader in ``_read_paths``.  Missing
    columns (schema evolution) null-fill by name.  Nested, decimal, and
    uuid columns in AVRO data files are not implemented — loud
    failure."""
    if tag_file is None:
        tag_file = tag_position
    tag_file = tag_file or tag_position
    fields_sp = list(struct.fields)
    names = [f.name for f in fields_sp]
    out_fields = list(struct.fields)
    if tag_file:
        out_fields.append(T.StructField("__file", T.StringType(), False))
    if tag_position:
        out_fields.append(T.StructField("__pos", T.LongType(), False))
    out_struct = T.StructType(out_fields)
    if fmt == "AVRO":
        for f in fields_sp:
            if isinstance(
                f.dataType,
                (T.DecimalType, T.StructType, T.ArrayType, T.MapType),
            ):
                raise NotImplementedError(
                    f"AVRO data files with {f.dataType.simpleString()} columns"
                )

    def gen(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_type

        arrow_fields = [
            (f.name, to_arrow_type(f.dataType)) for f in fields_sp
        ]
        out_schema = pa.schema(
            arrow_fields
            + ([("__file", pa.string())] if tag_file else [])
            + ([("__pos", pa.int64())] if tag_position else [])
        )
        for b in batches:
            for path, r_start, r_end, r_rowoff in zip(
                b.column(0).to_pylist(),
                b.column(1).to_pylist(),
                b.column(2).to_pylist(),
                b.column(3).to_pylist(),
            ):
                row_offset = 0
                arrays: list[pa.Array] = []
                if fmt == "AVRO":
                    from daskberg_spark.iceberg.avro import (
                        read_avro_range_columns,
                    )

                    cols, n, row_offset = read_avro_range_columns(
                        path,
                        int(r_start),
                        int(r_end),
                        want_row_offset=tag_position,
                        known_block=(
                            (int(r_start), int(r_rowoff))
                            if int(r_rowoff) >= 0
                            else None
                        ),
                        # projection pushdown: fields outside the group
                        # struct (projected away, or dropped from the
                        # schema) are SKIPPED, never materialized
                        columns=set(names),
                    )
                    for name, at in arrow_fields:
                        vals = cols.get(name)
                        arrays.append(
                            pa.nulls(n, type=at)
                            if vals is None
                            else pa.array(vals, type=at)
                        )
                else:  # ORC, position-tagged
                    import pyarrow.orc as _orc

                    of = _orc.ORCFile(path)
                    avail = set(of.schema.names)
                    present = [n for n in names if n in avail]
                    if present:
                        at_tbl = of.read(columns=present)
                    else:
                        # no projected column exists in this file:
                        # read(columns=[]) returns ZERO rows, which
                        # would silently drop the file's rows (and
                        # their __pos identities) — null-fill at the
                        # file's true row count instead
                        at_tbl = of.read(columns=[of.schema.names[0]])
                    n = len(at_tbl)
                    for name, at in arrow_fields:
                        if name in at_tbl.column_names:
                            arrays.append(
                                at_tbl.column(name)
                                .combine_chunks()
                                .cast(at, safe=False)
                            )
                        else:
                            arrays.append(pa.nulls(n, type=at))
                if tag_file:
                    # normalize exactly like the parquet leg's
                    # _metadata tag (scheme strip + normpath) — the
                    # sequence/partition/lineage lookups key on
                    # _norm_scan_path, and a scheme-prefixed manifest
                    # path would otherwise miss (NULL __seq keeps rows
                    # a delete should kill)
                    arrays.append(
                        pa.array([_norm_scan_path(path)] * n, type=pa.string())
                    )
                if tag_position:
                    arrays.append(
                        pa.array(
                            range(row_offset, row_offset + n), type=pa.int64()
                        )
                    )
                yield pa.RecordBatch.from_arrays(arrays, schema=out_schema)

    tasks: list[tuple[str, int, int, int]] = []
    if fmt == "AVRO":
        for path, fsize in items:
            if fsize and fsize > AVRO_SPLIT_BYTES:
                if tag_position:
                    # ONE header walk per file at plan time: each task
                    # gets its exact (block_offset, row_offset), so no
                    # task re-walks earlier blocks (k tasks walking from
                    # the start would be O(k × blocks) seeks)
                    from daskberg_spark.iceberg.avro import avro_block_index

                    index = avro_block_index(path)
                    open_chunk: tuple[int, int] | None = None
                    for j, (boff, roff) in enumerate(index):
                        if open_chunk is None:
                            open_chunk = (boff, roff)
                        last = j + 1 == len(index)
                        nxt = int(fsize) if last else index[j + 1][0]
                        if last or nxt - open_chunk[0] >= AVRO_SPLIT_BYTES:
                            # intermediate end = the NEXT task's first
                            # block minus its 16-byte preceding sync:
                            # the decode loop breaks on the trailing
                            # sync position, so this yields no overlap
                            # and no gap with the next aligned task
                            tasks.append(
                                (
                                    path,
                                    open_chunk[0],
                                    int(fsize) if last else nxt - 16,
                                    open_chunk[1],
                                )
                            )
                            open_chunk = None
                else:
                    k = -(-int(fsize) // AVRO_SPLIT_BYTES)
                    step = -(-int(fsize) // k)  # balanced, covers [0, fsize)
                    tasks += [
                        (path, i * step, min((i + 1) * step, int(fsize)), -1)
                        for i in range(k)
                    ]
            else:
                tasks.append((path, 0, 2**62, -1))
    else:
        tasks = [(p, 0, 2**62, -1) for p in items]

    df_paths = _driver_rows_df(
        spark,
        tasks,
        T.StructType(
            [
                T.StructField("__path", T.StringType(), False),
                T.StructField("__start", T.LongType(), False),
                T.StructField("__end", T.LongType(), False),
                T.StructField("__rowoff", T.LongType(), False),
            ]
        ),
    )
    if len(tasks) > 1:
        # one decode task per file/byte-range; a single one needs no shuffle
        df_paths = df_paths.repartition(len(tasks))
    return df_paths.mapInArrow(gen, schema=out_struct)


def _read_paths(
    spark: SparkSession,
    struct,
    recs: list[dict[str, Any]],
    tag_position: bool = False,
    tag_file: bool | None = None,
) -> DataFrame:
    """Read data-file records sharing one resolved schema, dispatched by
    ``file_format`` (the reference is parquet-only — ``README.md:97``;
    real Iceberg also stores AVRO and ORC data files): PARQUET and
    untagged ORC use Spark's native vectorized readers (whole-stage
    codegen, predicate pushdown); AVRO — and ORC when row positions are
    needed — decode executor-side (``_python_file_scan``).  The common
    all-parquet case stays exactly one multi-path native scan.

    ``tag_file`` (defaults to follow ``tag_position``) adds only the
    ``__file`` provenance column — parquet AND ORC keep their native
    vectorized readers for it via ``_metadata.file_path``; only
    ``tag_position`` (per-row ``__pos``, parquet-only ``row_index``)
    routes ORC through the Python decode leg."""
    if tag_file is None:
        tag_file = tag_position
    tag_file = tag_file or tag_position
    by_fmt: dict[str, list[str]] = {}
    avro_sizes: dict[str, int] = {}
    for r in recs:
        f = str(r.get("file_format", "PARQUET")).upper()
        by_fmt.setdefault(f, []).append(r["file_path"])
        if f == "AVRO":
            avro_sizes[r["file_path"]] = int(
                r.get("file_size_in_bytes") or 0
            )
    unknown = set(by_fmt) - set(_DATA_FILE_FORMATS)
    if unknown:
        raise NotImplementedError(f"data file format(s) {sorted(unknown)}")

    def _tag_native(df: DataFrame, with_pos: bool = True) -> DataFrame:
        # `_metadata` resolves only on the scan relation itself — capture
        # file/row identity for position deletes BEFORE any other operator.
        cols: dict[str, Column] = {}
        if tag_file:
            cols["__file"] = F.regexp_replace(
                F.col("_metadata.file_path"), "^file:/*", "/"
            )
        if tag_position and with_pos:
            cols["__pos"] = F.col("_metadata.row_index")
        return df.withColumns(cols) if cols else df

    if set(by_fmt) == {"PARQUET"}:
        # the common all-parquet group: exactly the pre-multiformat plan
        # (one native multi-path scan, no projection node)
        df = _tag_native(spark.read.schema(struct).parquet(*by_fmt["PARQUET"]))
        size = int(recs[0].get("file_size_in_bytes") or 0) if len(recs) == 1 else 0
        if 0 < size <= _open_cost_bytes(spark):
            # Spark never splits a file this small (its split size is at
            # least openCostInBytes at the default maxPartitionBytes), so
            # the scan is one partition either way — but the planner
            # cannot see that, and puts an Exchange SinglePartition under
            # a global aggregate, sort or window, which AQE runs as a
            # second job.  Saying so drops it: a traced one-file point
            # read went from 2 Spark jobs and 3 tasks to 1 and 1
            # (spark.exec_s median 0.127 -> 0.094 s, 4-vCPU host).
            df = df.coalesce(1)
        return df

    keep = (
        [f.name for f in struct.fields]
        + (["__file"] if tag_file else [])
        + (["__pos"] if tag_position else [])
    )
    parts = []
    if "PARQUET" in by_fmt:
        parts.append(
            _tag_native(
                spark.read.schema(struct).parquet(*by_fmt["PARQUET"])
            ).select(*keep)
        )
    if "ORC" in by_fmt:
        if tag_position:
            parts.append(
                _python_file_scan(
                    spark, struct, by_fmt["ORC"], "ORC", True
                ).select(*keep)
            )
        else:
            # Spark's ORC reader refuses TIMESTAMP → TIMESTAMP_NTZ
            # (pyarrow/foreign writers emit plain ORC TIMESTAMP for
            # Iceberg `timestamp`): read those columns as LTZ and cast
            # back — value-preserving under the session's pinned-UTC TZ
            ntz = [
                f.name
                for f in struct.fields
                if isinstance(f.dataType, T.TimestampNTZType)
            ]
            orc_struct = T.StructType(
                [
                    T.StructField(
                        f.name,
                        T.TimestampType()
                        if f.name in ntz
                        else f.dataType,
                        f.nullable,
                    )
                    for f in struct.fields
                ]
            )
            # .orc() takes a single path-or-list argument (unlike
            # .parquet()'s varargs)
            odf = spark.read.schema(orc_struct).orc(by_fmt["ORC"])
            # __file (sequence attachment) comes from the native scan's
            # _metadata — tag BEFORE the NTZ casts so the column still
            # resolves on the scan relation itself
            odf = _tag_native(odf, with_pos=False)
            for name in ntz:
                odf = odf.withColumn(
                    name, F.col(name).cast(T.TimestampNTZType())
                )
            parts.append(odf.select(*keep))
    if "AVRO" in by_fmt:
        parts.append(
            _python_file_scan(
                spark,
                struct,
                [(p, avro_sizes.get(p, 0)) for p in by_fmt["AVRO"]],
                "AVRO",
                tag_position,
                tag_file,
            ).select(*keep)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _read_file_groups(
    table: IcebergTable,
    spark: SparkSession,
    files: list[dict[str, Any]],
    struct,
    tag_position: bool = False,
    extra_cols: list[str] | None = None,
    tag_file: bool | None = None,
) -> DataFrame:
    """Read data files grouped by the schema they were written under,
    resolving columns by **field id** (SURVEY §1.4): a renamed column's
    old files read under the old name, then rename to the current one —
    naive by-name reading would silently null-fill renamed columns.

    The common case (every file on the current schema) stays a single
    multi-path scan.

    Files whose adding snapshot carries NO schema pinning (foreign/v1-era
    metadata without per-snapshot ``schema-id``) are resolved through the
    spec's ``schema.name-mapping.default`` table property when present:
    the mapping assigns each physical column name a field id, the id
    resolves to the current name — without it, a renamed column in such
    files would silently null-fill (``add_files`` writes the property at
    import time for exactly this reason).  One group per mapping; a group
    mixing files imported under DIFFERENT physical names for the same
    field reads under the mapping's first recorded name (per-file footer
    inspection would cost O(files) driver IO at 100k-file scale).
    """
    import json as _json

    current_fields = table.schema["fields"]
    current_ids = {f.get("id", f.get("field-id")): f["name"] for f in current_fields}

    map_names_by_id: dict[int, list[str]] = {}
    raw_mapping = (table.metadata.get("properties") or {}).get(
        "schema.name-mapping.default"
    )
    if raw_mapping:
        try:
            for e in _json.loads(raw_mapping):
                if e.get("names"):
                    map_names_by_id[e["field-id"]] = [
                        str(n) for n in e["names"]
                    ]
        except (ValueError, TypeError, KeyError):
            map_names_by_id = {}
    # first recorded spelling keys the group schema; ALL spellings feed
    # the coalesce read below (the spec allows several physical names per
    # field — a foreign import may mix files using different ones)
    map_name_by_id = {fid: ns[0] for fid, ns in map_names_by_id.items()}
    known_schema_ids = {
        s.get("schema-id") for s in table.metadata.get("schemas", [])
    }
    mapped_schema = None
    if map_names_by_id and any(
        n != f["name"]
        for f in current_fields
        for n in map_names_by_id.get(
            f.get("id", f.get("field-id")), [f["name"]]
        )
    ):
        mapped_schema = {
            "schema-id": -1,
            "fields": [
                dict(
                    f,
                    name=map_name_by_id.get(
                        f.get("id", f.get("field-id")), f["name"]
                    ),
                )
                for f in current_fields
            ],
        }

    def schema_key(f: dict[str, Any]):
        sid_snap = f.get("_snapshot_id")
        if mapped_schema is not None:
            snap = (
                table.snapshots.get(sid_snap) if sid_snap is not None else None
            )
            if snap is None or snap.get("schema-id") not in known_schema_ids:
                # unpinned file + active name mapping → read under the
                # mapping's physical names, rename to current by field id
                return -1, mapped_schema
        s = table.schema_for_snapshot(sid_snap)
        return s.get("schema-id", 0), s

    groups: dict[int, tuple[dict[str, Any], list[dict[str, Any]]]] = {}
    for f in files:
        sid, schema = schema_key(f)
        groups.setdefault(sid, (schema, []))[1].append(f)

    # extra (non-schema) columns — e.g. materialized v3 lineage columns —
    # read as nullable longs in every group so files lacking them
    # null-fill; the caller resolves inheritance afterwards
    extra_struct = [
        T.StructField(c, T.LongType(), True) for c in (extra_cols or [])
    ]

    current_sid = table.schema.get("schema-id", 0)
    if set(groups) <= {current_sid}:
        return _read_paths(spark, struct, files, tag_position, tag_file)

    def _fill_value(fld: dict[str, Any]):
        # Iceberg v3 initial-default: files written BEFORE the column
        # existed read the default instead of null (zero-IO backfill)
        default = fld.get("initial-default")
        dtype = schema_to_struct({"fields": [fld]})[0].dataType
        return F.lit(default).cast(dtype)

    parts = []
    for sid, (schema, grecs) in sorted(groups.items()):
        if sid == -1:
            # name-mapping group (unpinned files): a group can MIX files
            # written under ANY of the mapping's physical spellings
            # (imports — the spec's ``names`` is a LIST) with files
            # written under current names whose adding snapshot merely
            # EXPIRED — so read under ALL names and coalesce, preferring
            # the current name.  Reading only the current (or only the
            # first mapped) name would silently null-fill the rest.
            cur_struct = schema_to_struct({"fields": current_fields})
            current_names = {f["name"] for f in current_fields}
            pairs = []  # (current name, [alias spellings to coalesce])
            seen_alias: set[str] = set()
            for f in current_fields:
                fid = f.get("id", f.get("field-id"))
                aliases = [
                    n
                    for n in map_names_by_id.get(fid, [])
                    # an alias equal to ANY current column name already
                    # reads as that column — adding it would duplicate a
                    # struct field; cross-field collisions are invalid
                    # mappings and are skipped rather than guessed at
                    if n != f["name"]
                    and n not in current_names
                    and n not in seen_alias
                ]
                if aliases:
                    seen_alias.update(aliases)
                    pairs.append((f["name"], aliases))
            both = T.StructType(
                list(cur_struct.fields)
                + [
                    T.StructField(a, cur_struct[cur].dataType, True)
                    for cur, aliases in pairs
                    for a in aliases
                ]
                + extra_struct
            )
            gdf = _read_paths(spark, both, grecs, tag_position, tag_file)
            for cur, aliases in pairs:
                gdf = gdf.withColumn(
                    cur,
                    F.coalesce(F.col(cur), *[F.col(a) for a in aliases]),
                ).drop(*aliases)
            # v3 initial-default for mapped files: per the spec a field
            # the file cannot resolve reads its initial-default, not
            # null.  Mapping membership proves NOTHING about per-file
            # presence — _record_name_mapping adds every CURRENT field
            # at each import, so a column added between two imports is
            # in the mapping while the earlier import's files lack it —
            # so every defaulted field coalesces.  (Residual
            # approximation: a file that DOES carry the column with
            # explicit nulls coalesces them to the default; exactness
            # would need per-file footer IO, rejected at 100k-file
            # scale.)
            for fld in current_fields:
                if fld.get("initial-default") is not None:
                    gdf = gdf.withColumn(
                        fld["name"],
                        F.coalesce(F.col(fld["name"]), _fill_value(fld)),
                    )
            # type promotion needs no post-read cast here: the group reads
            # under the CURRENT (wide) struct, and Spark 4's parquet
            # reader widens int32→long / float→double / decimal-scale
            # matches natively (covered by
            # test_name_mapping_read_promoted_type)
            parts.append(gdf)
            continue
        gstruct = T.StructType(
            list(schema_to_struct(schema).fields) + extra_struct
        )
        gdf = _read_paths(spark, gstruct, grecs, tag_position, tag_file)
        renames = {}
        group_ids = {
            fld.get("id", fld.get("field-id")) for fld in schema["fields"]
        }
        for fld in schema["fields"]:
            fid = fld.get("id", fld.get("field-id"))
            if fid in current_ids and current_ids[fid] != fld["name"]:
                renames[fld["name"]] = current_ids[fid]
            elif fid not in current_ids:
                gdf = gdf.drop(fld["name"])  # column dropped since
        if renames:
            gdf = gdf.withColumnsRenamed(renames)
        # per-group default fill: unionByName would null-fill a column
        # this group predates even when another group carries it
        for fld in current_fields:
            fid = fld.get("id", fld.get("field-id"))
            if (
                fid not in group_ids
                and fld.get("initial-default") is not None
                and fld["name"] not in gdf.columns
            ):
                gdf = gdf.withColumn(fld["name"], _fill_value(fld))
        # type promotion (int→long, float→double, decimal widening):
        # files written under the narrower type read under it, then
        # cast up to the current type so the union is type-uniform
        group_types = {
            fld.get("id", fld.get("field-id")): fld["type"]
            for fld in schema["fields"]
        }
        for fld in current_fields:
            fid = fld.get("id", fld.get("field-id"))
            gt = group_types.get(fid)
            if (
                gt is not None
                and isinstance(gt, str)
                and isinstance(fld["type"], str)
                and gt != fld["type"]
                and fld["name"] in gdf.columns
            ):
                gdf = gdf.withColumn(
                    fld["name"],
                    F.col(fld["name"]).cast(
                        schema_to_struct({"fields": [fld]})[0].dataType
                    ),
                )
        parts.append(gdf)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    # columns added after a file was written surface as nulls (or their
    # v3 initial-default); project to the current schema's order
    for fld in current_fields:
        if fld["name"] not in out.columns:
            out = out.withColumn(fld["name"], _fill_value(fld))
    keep = [f["name"] for f in current_fields] + list(extra_cols or [])
    if tag_file or tag_position:
        keep += ["__file"]
    if tag_position:
        keep += ["__pos"]
    return out.select(*keep)


# Convenience: method-style API mirroring the reference's read()
def read(
    table: IcebergTable,
    spark: SparkSession,
    filters: Any = None,
    columns: list[str] | None = None,
) -> DataFrame:
    return to_df(table, spark, filters=filters, columns=columns)


IcebergTable.to_df = to_df  # type: ignore[attr-defined]
IcebergTable.read = read  # type: ignore[attr-defined]


def _and_dnf(a: Any, b: Any) -> Any:
    """AND two filters in the planner's DNF form: cross-product of their
    conjunction lists ((A1∨A2)∧(B1∨B2) = ∨ over Ai+Bj)."""
    if not a:
        return b
    if not b:
        return a
    dnf_a = a if is_dnf(a) else [a]
    dnf_b = b if is_dnf(b) else [b]
    return [list(ca) + list(cb) for ca in dnf_a for cb in dnf_b]


def join_pruned_df(
    table: IcebergTable,
    spark: SparkSession,
    dim_df: DataFrame,
    fact_key: str,
    dim_key: str | None = None,
    filters: Any = None,
    columns: list[str] | None = None,
    max_keys: int = 1000,
    how: str = "inner",
) -> DataFrame:
    """Join-derived runtime file pruning — the Iceberg-planner analogue
    of Spark's dynamic partition pruning, which cannot reach a scan this
    engine plans itself.

    For a star-shaped ``fact ⋈ dim`` where ``dim_df`` is already
    filtered and broadcast-sized, the fact side usually only needs the
    files whose ``fact_key`` stats/partition values intersect the dim's
    surviving join keys.  This materializes the dim on the driver
    (dim-sized, never fact-sized — the broadcast join it feeds moves
    the same bytes), turns its distinct keys into a planner ``in``
    filter (falling back to a [min, max] range filter above
    ``max_keys``, which bounds planning cost, not traffic), plans the
    fact scan through the ordinary metadata prune, and broadcast-joins
    the result.  On a 100 TB fact table partitioned or clustered by the join
    key, a dim filter that keeps 3 of 84 months means reading 3/84 of
    the files — decided before any fact IO.

    Sound for ``inner`` and ``semi`` joins only (enforced): fact rows
    whose key is absent from the dim cannot reach the output, so
    pruning them early never changes the result; NULL fact keys never
    equi-match.  ``filters`` (DNF) AND-merges with the derived key
    filter.

    The dim is evaluated exactly ONCE: its rows are collected to the
    driver (no more traffic than the broadcast join it feeds would move
    anyway) and both the key set and the join side rebuild from that
    materialization — re-evaluating a nondeterministic or
    source-mutated ``dim_df`` between the key collect and the join
    would silently drop fact rows whose files were pruned against the
    FIRST evaluation's keys.
    """
    if how not in ("inner", "semi", "left_semi", "leftsemi"):
        raise ValueError(
            "join_pruned_df is only sound for inner/semi joins: a fact "
            f"row pruned by the dim key set would still appear in a "
            f"{how!r} join"
        )
    dim_key = dim_key or fact_key
    dim_schema = dim_df.schema
    dim_rows = dim_df.collect()
    dim_df = _driver_rows_df(spark, dim_rows, dim_schema)
    keys = sorted(
        {row[dim_key] for row in dim_rows if row[dim_key] is not None}
    )
    if len(keys) <= max_keys:
        key_filter: Any = [(fact_key, "in", keys)]
    else:
        key_filter = [(fact_key, ">=", keys[0]), (fact_key, "<=", keys[-1])]
    fact = to_df(
        table, spark, filters=_and_dnf(filters, key_filter), columns=columns
    )
    dim = F.broadcast(dim_df)
    if how in ("semi", "left_semi", "leftsemi"):
        return fact.join(
            dim, fact[fact_key] == dim[dim_key], how="left_semi"
        )
    if dim_key == fact_key:
        return fact.join(dim, on=fact_key, how="inner")
    return fact.join(dim, fact[fact_key] == dim[dim_key], how="inner")


IcebergTable.join_pruned_df = join_pruned_df  # type: ignore[attr-defined]


def diff_df(
    table: IcebergTable,
    spark: SparkSession,
    from_rel: int = -1,
    filters: Any = None,
    changelog: bool = False,
) -> DataFrame:
    """Incremental read: rows in data files that are live in the current
    snapshot but were not live ``from_rel`` snapshots ago (reference's
    snapshot log is exactly this history, SURVEY §1.5).  File-level diff —
    Iceberg appends are whole files, so added rows == rows of added files;
    pruning filters apply on top.

    ``changelog=True`` additionally emits the delete side for
    overwrite/delete snapshots: rows of files live at the base but not at
    the head, tagged by a ``_change_type`` column (``insert``/``delete``).
    File-level granularity — a row-level (v2 delete-file) diff would tag
    individual positions; file rewrites appear as delete+insert pairs."""
    if from_rel >= 0:
        raise ValueError(
            f"from_rel must be negative (snapshots back from head); "
            f"got {from_rel}"
        )
    current = table.current_snapshot
    now_recs = table.plan_files(filters)
    files_now = {f["file_path"] for f in now_recs}
    # walk parents from the PINNED snapshot (open_snapshot(rel=...) would
    # restart the walk from the table's latest snapshot)
    base = current
    for _ in range(-from_rel):
        parent = base.get("parent-snapshot-id")
        if parent is None or parent not in table.snapshots:
            raise ValueError("walked past the first snapshot")
        base = table.snapshots[parent]
    try:
        table.open_snapshot(snapshot_id=base["snapshot-id"])
        then_recs = table.plan_files(filters if changelog else None)
    finally:
        # restore the caller-visible snapshot even when base planning
        # fails — leaving the table pinned to the base would make the
        # caller's next read silently stale
        table.open_snapshot(snapshot_id=current["snapshot-id"])
    files_then = {f["file_path"] for f in then_recs}
    added = sorted(files_now - files_then)
    struct = schema_to_struct(table.schema)
    rec_by_path = {f["file_path"]: f for f in now_recs + then_recs}

    def read_side(paths: list[str]) -> DataFrame:
        if not paths:
            return spark.createDataFrame([], struct)
        # field-id group alignment (_read_file_groups), NOT a plain
        # by-name read: removed-side files often predate renames in the
        # window, and a by-name read would silently null-fill the
        # renamed column on the delete side of the changelog.  The
        # residual filter applies AFTER alignment, so it may reference
        # current names regardless of which side it filters.
        df = _read_file_groups(
            table, spark, [rec_by_path[p] for p in paths], struct
        )
        residual = filters_to_column(filters)
        return df.filter(residual) if residual is not None else df

    if not changelog:
        return read_side(added)
    removed = sorted(files_then - files_now)
    return read_side(added).withColumn(
        "_change_type", F.lit("insert")
    ).unionByName(
        read_side(removed).withColumn("_change_type", F.lit("delete"))
    )


IcebergTable.diff_df = diff_df  # type: ignore[attr-defined]


def variant_prune_files(
    files: list[dict[str, Any]],
    col: str,
    vpath: str,
    op: str,
    value: Any,
) -> list[dict[str, Any]]:
    """Footer-stats pruning for a predicate on a SHREDDED variant
    subfield (``$.field``) — v3 variant columns carry no manifest
    bounds (no spec-defined encoding), but Spark's shredded writes
    store per-row-group min/max on each subfield's ``typed_value``
    parquet leaf.  Footers are KB-sized; DuckDB parses them (pyarrow
    cannot read the VARIANT logical annotation, same fallback as
    ``conversions`` stats lifting).

    Sound prune rules — a file is dropped ONLY when every row's
    extracted value is provably known and disproven:

    - the subfield's ``typed_value`` leaf must exist (file is shredded
      on it), and its residual ``value`` sibling plus the TOP-LEVEL
      ``value`` column must be all-NULL in every row group (otherwise
      some row's field lives in an unshredded residual the stats don't
      see — keep);
    - a row group whose typed_value is all-NULL contributes no match
      (field missing → ``variant_get`` yields NULL → predicate false);
    - any other row group keeps the file iff its [min, max] may match
      (``planner.range_may_match``).

    ``!=`` and nested paths are conservative (no prune).  Returns the
    surviving records in input order."""
    import duckdb

    from daskberg_spark.iceberg.planner import range_may_match

    return _variant_prune_multi(files, [(col, vpath, op, value)])


# parquet physical types a probe's python type may SOUNDLY compare
# against: string stats against a numeric leaf compare lexicographically
# ("5" <= "10" is False) and would prune files whose rows the residual
# — which CASTS via variant_get — matches
_VARIANT_PHYS_OK = {
    str: {"BYTE_ARRAY"},
    int: {"INT32", "INT64"},
    float: {"FLOAT", "DOUBLE"},
}


def _variant_probe(op: str, value: Any):
    """(vtype, parse, typed_value, physical_ok) shared by the prune and
    residual paths — ONE python-type dispatch so the two can never
    drift; None when the value shape has no sound typed-stats story
    (pruning then keeps everything; the residual still applies)."""
    if op == "in":
        if not isinstance(value, (list, tuple)):
            raise ValueError(
                "'in' variant filter value must be a list/tuple "
                "(a plain string would match per-character)"
            )
        probe = value[0] if value else None

        def _fam(v: Any) -> str:
            if isinstance(v, bool):
                return "boolean"
            if isinstance(v, int):
                return "long"
            if isinstance(v, float):
                return "double"
            return "string" if isinstance(v, str) else "other"

        fams = {_fam(v) for v in value}
        if value and not (
            fams <= {"long", "double"} or fams in ({"string"}, {"boolean"})
        ):
            # Spark's own cast of a mixed list against variant_get's
            # typed extraction throws NumberFormatException mid-query —
            # refuse up front with a pointer at the actual problem
            raise ValueError(
                "'in' variant filter values must share one type "
                f"(got {sorted(fams)})"
            )
        if fams == {"long", "double"}:
            probe = next(v for v in value if isinstance(v, float))
        tv: Any = list(value)
    else:
        probe = value
        tv = value
    if isinstance(probe, bool):
        return ("boolean", None, tv, None)  # residual-only
    if isinstance(probe, int):
        return ("long", int, tv, _VARIANT_PHYS_OK[int])
    if isinstance(probe, float):
        return ("double", float, tv, _VARIANT_PHYS_OK[float])
    if isinstance(probe, str):
        return ("string", str, tv, _VARIANT_PHYS_OK[str])
    return None


def _variant_prune_multi(
    files: list[dict[str, Any]],
    preds: list[tuple[str, str, str, Any]],
    counters: dict[str, int] | None = None,
) -> list[dict[str, Any]]:
    """All variant predicates evaluated against the MANIFEST-LIFTED
    subfield bounds first (``variant_bounds``, written by this engine's
    commits — zero plan-time IO), falling back to ONE footer read per
    file only for predicates the manifest can't resolve (foreign
    writes, pre-lift commits).  AND semantics: a file survives only if
    every predicate may match.  ``counters`` (optional) records
    ``variant_footer_reads`` for observability/tests."""
    import duckdb
    import json as _json

    from daskberg_spark.iceberg.planner import range_may_match
    from daskberg_spark.iceberg.variant import shred_leaf_names

    prepared = []
    for col, vpath, op, value in preds:
        field = vpath[2:] if vpath.startswith("$.") else vpath
        probe = _variant_probe(op, value)
        if not field or probe is None or probe[1] is None:
            continue  # conservative: residual-only predicate
        _vtype, parse, tv, phys_ok = probe
        # nested paths ('$.meta.score') prune like top-level ones —
        # shred_leaf_names supplies the per-level residual soundness
        # gates; '!=' prunes via range_may_match (empty field → no
        # match; bounds pinned to exactly the value → no match, floats
        # conservatively kept per the NaN rule)
        prepared.append((col, field, op, parse, tv, phys_ok))
    if not prepared:
        return files

    def _manifest_verdicts(rec: dict[str, Any]) -> list[bool] | None:
        """Per-predicate may-match from the manifest-lifted bounds, or
        None when ANY predicate lacks a lifted entry (→ footer path).
        An entry's presence certifies the write-time soundness gates
        (residuals all-NULL, exact stats), so only the range/type check
        remains."""
        raw = rec.get("variant_bounds")
        if not raw:
            return None
        try:
            info = _json.loads(raw) if isinstance(raw, str) else raw
        except (TypeError, ValueError):
            return None
        verdicts: list[bool] = []
        for col, field, op, parse, tv, phys_ok in prepared:
            ent = info.get(f"{col}.{field}")
            if ent is None:
                return None  # not lifted for this field: footer decides
            if ent.get("empty"):
                verdicts.append(False)  # field NULL in every row
                continue
            if ent.get("phys") not in phys_ok:
                verdicts.append(True)  # cross-type: residual decides
                continue
            try:
                lo, hi = parse(ent["lo"]), parse(ent["hi"])
            except (TypeError, ValueError, KeyError):
                return None
            verdicts.append(range_may_match(op, tv, lo, hi))
        return verdicts

    keep: list[dict[str, Any]] = []
    for rec in files:
        if str(rec.get("file_format", "PARQUET")).upper() != "PARQUET":
            keep.append(rec)
            continue
        lifted = _manifest_verdicts(rec)
        if lifted is not None:
            if all(lifted):
                keep.append(rec)
            continue
        if counters is not None:
            counters["variant_footer_reads"] = (
                counters.get("variant_footer_reads", 0) + 1
            )
        try:
            rows = duckdb.execute(
                "SELECT path_in_schema, type, num_values, stats_min_value, "
                "stats_max_value, stats_null_count FROM parquet_metadata(?)",
                [rec["file_path"]],
            ).fetchall()
        except Exception:
            keep.append(rec)  # unreadable footer: conservative
            continue
        groups: dict[str, list[tuple]] = {}
        phys: dict[str, str] = {}
        for name, ptype, nv, mn, mx, nc in rows:
            groups.setdefault(name, []).append((nv, mn, mx, nc))
            phys[name] = str(ptype).upper()

        def all_null(name: str) -> bool:
            gs = groups.get(name)
            return bool(gs) and all(
                nc is not None and nc == nv for nv, _mn, _mx, nc in gs
            )

        survives = True
        for col, field, op, parse, tv, phys_ok in prepared:
            t_leaf, v_sibs = shred_leaf_names(col, field)
            typed = groups.get(t_leaf)
            if typed is None or not all(all_null(v) for v in v_sibs):
                continue  # unshredded / residual-fallback rows: keep
            if phys.get(t_leaf) not in phys_ok:
                # probe type vs leaf physical type mismatch: the
                # residual CASTS (long 5 matches string "5"); comparing
                # across types here would prune its matches
                continue
            may = False
            for nv, mn, mx, nc in typed:
                if nc is not None and nc == nv:
                    continue  # whole group missing the field: no match
                if mn is None or mx is None:
                    may = True
                    break
                try:
                    lo, hi = parse(mn), parse(mx)
                    if range_may_match(op, tv, lo, hi):
                        may = True
                        break
                except (TypeError, ValueError):
                    may = True  # mixed-type 'in' lists etc.: keep
                    break
            if not may:
                survives = False
                break
        if survives:
            keep.append(rec)
    return keep


def _variant_residual(col: str, vpath: str, op: str, value: Any):
    """The exact Spark predicate a variant filter means — applied AFTER
    footer pruning so results never depend on stats.  Built with
    ``F.variant_get`` (path passed as an argument), never by splicing
    user strings into SQL text."""
    probe = _variant_probe(op, value)
    vtype = probe[0] if probe is not None else "string"
    getter = F.variant_get(F.col(col), vpath, vtype)
    if op == "in":
        return getter.isin(list(value))
    return {
        "==": getter == value,
        "=": getter == value,
        "!=": getter != value,
        "<": getter < value,
        "<=": getter <= value,
        ">": getter > value,
        ">=": getter >= value,
    }[op]


def _scope_tuple(table: IcebergTable, rec: dict[str, Any]) -> tuple | None:
    """(spec id, partition tuple) scope of an entry, or None for
    global.  Global iff the entry's spec is unpartitioned.

    An all-None tuple under a partitioned spec is a GENUINE scope — a
    spec-compliant foreign writer (e.g. a Flink upsert on an identity
    partition over a nullable column) legitimately scopes deletes to
    the NULL-valued partition, and treating that as global would delete
    same-keyed rows in every other partition.  The old behavior
    (all-None → global, this engine's own pre-scoping shape: global
    deletes written through a partitioned-spec manifest materialize as
    all-None records) survives only behind the explicit table property
    ``daskberg.legacy-global-eq-deletes=true`` — set it when migrating
    a table this engine wrote before global deletes moved to an
    unpartitioned spec."""
    part = rec.get("partition") or {}
    spec_id = rec.get("_spec_id", 0)
    if not table._spec_fields(spec_id):
        return None
    if not part or all(v is None for v in part.values()):
        props = (table.metadata or {}).get("properties") or {}
        if not part or props.get("daskberg.legacy-global-eq-deletes") == "true":
            return None
        if rec.get("content") == 2:
            # an all-None-scoped EQUALITY delete without the opt-in is
            # either a genuine NULL-partition scope (foreign writer) or
            # this engine's pre-r8 global shape — the two read
            # differently, so make the choice loud instead of silent
            import warnings

            warnings.warn(
                "equality delete with an all-None partition tuple read "
                "as SCOPED to the NULL partition (spec rule); if this "
                "table was written by a pre-scoping daskberg_spark, set "
                "table property daskberg.legacy-global-eq-deletes=true "
                "to restore the global interpretation",
                stacklevel=3,
            )
    return (
        spec_id,
        tuple(sorted((k, str(v)) for k, v in part.items())),
    )


def _eq_delta_files(
    table: IcebergTable,
    d: dict[str, Any],
    candidates: list[dict[str, Any]],
) -> list[dict[str, Any]] | None:
    """The subset of ``candidates`` (data-file records) an in-window
    equality delete could possibly change — changelog planning's
    eq-delete prune.  Three gates, all metadata except one delete-sized
    parquet read:

    1. sequence: the delete applies only to files with strictly lower
       data sequence;
    2. partition: a scoped delete (non-global ``_scope_tuple``) touches
       only its own (spec, partition);
    3. stats: a file whose footer min/max on EVERY key column misses
       the delete keys' value range cannot lose a row.

    Returns None to signal "cannot bound" (missing equality_ids —
    conservative callers then mark everything)."""
    import pyarrow.parquet as pq

    from daskberg_spark.iceberg.planner import _bound_lookup

    ids = d.get("equality_ids")
    if not ids:
        return None
    dseq = d.get("_sequence_number")
    if dseq is None:
        # a foreign/v1-era delete without sequence metadata cannot be
        # bounded by the strictly-lower gate (mapping it to 0 would make
        # EVERY candidate fail the gate and silently mark nothing) —
        # bail BEFORE the delete-parquet read so the unbounded path
        # stays metadata-only
        return None
    id_info = {f.field_id: (name, f.type) for name, f in table.fields.items()}
    if any(i not in id_info for i in ids):
        return None
    try:
        ktbl = pq.read_table(d["file_path"])
    except Exception:
        return None
    # resolve key columns by their WRITE-TIME names through the delete
    # snapshot's pinned schema (the batch anti-join's rule — a foreign
    # delete file may order or pad columns differently); positional
    # alignment in equality_ids order is the fallback for files whose
    # names don't match — but ALL-or-nothing: mixing per-column (name
    # for some keys, position for others) can pick the same physical
    # column twice when names partially overlap, silently under-marking
    # changed files.  Partial name coverage → cannot bound.
    then_schema = table.schema_for_snapshot(d.get("_snapshot_id"))
    then_by_id = {
        f.get("id", f.get("field-id")): f["name"]
        for f in then_schema["fields"]
    }
    then_names = [then_by_id.get(fid) for fid in ids]
    by_name = all(n in ktbl.column_names for n in then_names)
    if not by_name:
        if any(n in ktbl.column_names for n in then_names):
            return None  # partial name match: alignment ambiguous
        if len(ids) != ktbl.num_columns:
            # positional alignment is only trustworthy when the file
            # holds EXACTLY the key columns in equality_ids order —
            # extra columns could silently bound on the wrong column
            return None  # cannot bound: conservative full marking
    kranges: list[tuple[int, str, Any, Any, bool]] = []
    for pos, fid in enumerate(ids):
        _, type_str = id_info[fid]
        if by_name:
            vals = ktbl.column(then_names[pos]).to_pylist()
        else:
            vals = ktbl.column(pos).to_pylist()
        non_null = [v for v in vals if v is not None]
        kranges.append(
            (
                fid,
                type_str,
                min(non_null) if non_null else None,
                max(non_null) if non_null else None,
                len(non_null) < len(vals),
            )
        )
    dscope = _scope_tuple(table, d)
    out = []
    for f in candidates:
        if (f.get("_sequence_number") or 0) >= dseq:
            continue
        if dscope is not None and _scope_tuple(table, f) != dscope:
            continue
        overlaps = True
        for fid, type_str, kmin, kmax, has_null in kranges:
            if has_null:
                continue  # a NULL key can match anywhere bounds miss
            if kmin is None:
                overlaps = False  # all-null key column, nothing bounded
                break
            lo = _bound_lookup(f.get("lower_bounds"), fid, type_str)
            hi = _bound_lookup(f.get("upper_bounds"), fid, type_str)
            if lo is None or hi is None:
                continue  # no stats: stay conservative for this column
            if hi < kmin or lo > kmax:
                overlaps = False
                break
        if overlaps:
            out.append(f)
    return out


def _changelog_plan(
    table: IcebergTable, from_rel: int, filters: Any
) -> tuple[list[dict], list[dict], dict, dict, int]:
    """Metadata-delta planning for ``changelog_rows_df``: the data files
    each side must READ — never the whole table.  Returns
    ``(head_subset, base_subset, head_schema, base_schema,
    base_snapshot_id)`` with the table restored to the caller's
    snapshot.

    Changed-file derivation (pure metadata except one delta-sized read):
    files live only at head are inserts wholesale; files live only at
    base are deletes wholesale; a SHARED file can contribute rows only
    if its delete state changed — i.e. some delete entry (keyed by
    (path, blob offset), like snapshot reconciliation) was added or
    removed in the window AND targets it.  DV targets come from manifest
    metadata (``referenced_data_file``); position-delete parquet names
    its targets in its ``file_path`` column (delta-sized driver read);
    an equality delete applies by VALUE, so it marks the shared files
    that pass its sequence/partition-scope/key-range-stats gates
    (``_eq_delta_files`` — one delete-sized read), falling back to all
    shared files only when it cannot be bounded."""
    current = table.current_snapshot
    head_schema = table.schema
    head_files = {f["file_path"]: f for f in table.plan_files(filters)}
    head_dels = {
        (d["file_path"], d.get("content_offset")): d
        for d in table.plan_deletes()
    }
    base_snap = current
    for _ in range(-from_rel):
        parent = base_snap.get("parent-snapshot-id")
        if parent is None or parent not in table.snapshots:
            raise ValueError("walked past the first snapshot")
        base_snap = table.snapshots[parent]
    try:
        table.open_snapshot(snapshot_id=base_snap["snapshot-id"])
        base_schema = table.schema
        base_files = {f["file_path"]: f for f in table.plan_files(filters)}
        base_dels = {
            (d["file_path"], d.get("content_offset")): d
            for d in table.plan_deletes()
        }
    finally:
        # restore even on planning failure — a pinned-to-base table
        # would make the caller's next read silently stale
        table.open_snapshot(snapshot_id=current["snapshot-id"])

    shared = {
        _norm_scan_path(p): p for p in set(head_files) & set(base_files)
    }
    delta_dels = [
        head_dels[k] for k in head_dels.keys() - base_dels.keys()
    ] + [base_dels[k] for k in base_dels.keys() - head_dels.keys()]
    changed_norm: set[str] = set()
    for d in delta_dels:
        if not shared or changed_norm == set(shared):
            break
        if d.get("content") == 2:
            # equality delete: applies by VALUE, but sequence, partition
            # scope, and footer key-range stats still bound which shared
            # files could lose a row (one delete-sized parquet read) —
            # an upsert commit's changelog then scans only the files
            # whose stats overlap the upserted keys, not every shared
            # file.  None = cannot bound → conservative full marking.
            hit = _eq_delta_files(
                table, d, [head_files[p] for p in shared.values()]
            )
            if hit is None:
                changed_norm = set(shared)
                break
            changed_norm |= {_norm_scan_path(f["file_path"]) for f in hit}
            continue
        if d.get("referenced_data_file"):
            changed_norm.add(_norm_scan_path(d["referenced_data_file"]))
        else:
            import pyarrow.parquet as _pq

            try:
                targets = (
                    _pq.read_table(d["file_path"], columns=["file_path"])
                    .column("file_path")
                    .unique()
                    .to_pylist()
                )
            except Exception:
                # unreadable position-delete parquet (already swept, or
                # foreign shape): conservative full marking, like the
                # equality path — never a planning crash
                changed_norm = set(shared)
                break
            for raw in targets:
                changed_norm.add(
                    _norm_scan_path(table._relocate(str(raw)))
                )
    changed = {shared[n] for n in changed_norm & set(shared)}
    head_subset = [
        f
        for p, f in sorted(head_files.items())
        if p not in base_files or p in changed
    ]
    base_subset = [
        f
        for p, f in sorted(base_files.items())
        if p not in head_files or p in changed
    ]
    return (
        head_subset,
        base_subset,
        head_schema,
        base_schema,
        base_snap["snapshot-id"],
    )


def changelog_rows_df(
    table: IcebergTable,
    spark: SparkSession,
    from_rel: int = -1,
    filters: Any = None,
    net_changes: bool = False,
    identity: str = "position",
) -> DataFrame:
    """ROW-level changelog between a base snapshot and the head — the
    granularity ``diff_df(changelog=True)`` (file-level) cannot see:
    v2/v3 delete commits (equality deletes, position deletes, deletion
    vectors) change no data files, so a file diff reports nothing while
    rows actually disappeared.

    Planning is METADATA-DELTA-DRIVEN (``_changelog_plan``): only files
    added, removed, or with changed delete state in the window are read —
    an adjacent-snapshot changelog on a 100 TB table scans the commit's
    delta, not the table twice.  Within that subset each side reads
    through the full delete-aware scan with (file, position) row
    identity, and the change set is the identity anti-join each way:
    rows live at head but not at base → ``_change_type='insert'``; live
    at base but not at head → ``'delete'``.  Unchanged (file,
    delete-state) pairs cannot contribute: their (file, pos) sets are
    identical on both sides, so skipping them equals the full anti-join.
    Sequence-correct delete semantics come from the underlying reads, so
    this is exact for every delete flavor this engine writes.

    File rewrites (compaction) re-key row identity and surface as
    delete+insert pairs, as in real Iceberg's changelog with net-changes
    off.  ``net_changes=True`` applies Iceberg's carry-over elimination
    ON CONTENT: delete/insert pairs with identical row values cancel
    multiset-style (a row deleted and re-inserted inside the window —
    including compaction churn — nets out; requires group-able column
    types, i.e. no map columns).

    Schema evolution inside the window is handled by FIELD-ID alignment:
    the base snapshot reads under its pinned schema, then its columns
    rename to the head's names, since-dropped columns project away, and
    since-added columns fill with their v3 initial-default (or null) —
    so both change sides surface under the CURRENT schema.

    ``identity='row'`` keys the diff on the v3 row-lineage ``_row_id``
    instead of (file, pos): a MOR UPDATE then surfaces as an
    ``update_before``/``update_after`` PAIR (same ``_row_id``, changed
    values), and compaction churn (same ``_row_id``, same values under a
    new (file, pos)) vanishes without the content-grouping pass.  Rows
    with NULL ``_row_id`` (files committed before lineage) key on
    (file, pos) instead, so unchanged pre-lineage rows still cancel and
    only genuinely rewritten ones degrade to unpaired delete+insert.
    Mutually exclusive with ``net_changes``."""
    if from_rel >= 0:
        raise ValueError(
            f"from_rel must be negative (snapshots back from head); "
            f"got {from_rel}"
        )
    if identity not in ("position", "row"):
        raise ValueError(f"identity must be 'position' or 'row', got {identity!r}")
    if identity == "row" and net_changes:
        raise ValueError(
            "net_changes applies to identity='position' only — row "
            "identity already nets carry-overs and emits update pairs"
        )
    current = table.current_snapshot
    head_subset, base_subset, head_schema, base_schema, base_sid = (
        _changelog_plan(table, from_rel, filters)
    )
    residual = filters_to_column(filters)
    lineage = identity == "row"

    def read_side(
        files: list[dict], struct, positions: bool = True
    ) -> DataFrame:
        if lineage:
            struct = T.StructType(
                list(struct.fields)
                + [T.StructField(c, T.LongType(), True) for c in LINEAGE_COLS]
            )
        if not files:
            df = spark.createDataFrame([], struct)
            if not positions:
                return df
            df = df.withColumn("__file", F.lit(None).cast("string"))
            return df.withColumn("__pos", F.lit(None).cast("bigint"))
        if not positions:
            # wholesale side: every live row is a change — plain
            # delete-aware read, no per-row identity
            return _read_with_deletes(table, spark, files, struct)
        df = _read_with_deletes(
            table,
            spark,
            files,
            struct,
            keep_file=True,
            keep_pos=True,
            extra_cols=LINEAGE_COLS if lineage else None,
        )
        if lineage:
            df = _attach_path_value(
                df,
                spark,
                "__file",
                "__frid",
                [(f["file_path"], f.get("first_row_id")) for f in files],
            )
            df = (
                df.withColumn(
                    "_row_id",
                    F.coalesce(
                        F.col("_row_id"), F.col("__frid") + F.col("__pos")
                    ),
                )
                .drop("__frid", "_last_updated_sequence_number")
            )
        return df

    if identity == "position":
        # wholesale fast path: a file live on only ONE side can never
        # match the (file, pos) anti-join — its rows are inserts (or
        # deletes) in their entirety, so it reads WITHOUT row-position
        # tagging and never enters the join.  On a pure-append window
        # (the streaming/ingest common case) the whole changelog is
        # then one plain delete-aware read — no position machinery, no
        # anti-join over the delta.  Only files whose delete state
        # changed while staying live on both sides need the row diff.
        # (identity='row' keeps full reads: a rewritten file is
        # head-only yet its _row_id rows must PAIR with the old file's.)
        base_norms = {_norm_scan_path(f["file_path"]) for f in base_subset}
        head_norms = {_norm_scan_path(f["file_path"]) for f in head_subset}
        h_shared = [
            f
            for f in head_subset
            if _norm_scan_path(f["file_path"]) in base_norms
        ]
        h_only = [
            f
            for f in head_subset
            if _norm_scan_path(f["file_path"]) not in base_norms
        ]
        b_shared = [
            f
            for f in base_subset
            if _norm_scan_path(f["file_path"]) in head_norms
        ]
        b_only = [
            f
            for f in base_subset
            if _norm_scan_path(f["file_path"]) not in head_norms
        ]
        head = read_side(h_shared, schema_to_struct(head_schema))
        head_whole = read_side(
            h_only, schema_to_struct(head_schema), positions=False
        )
        if residual is not None:
            head = head.filter(residual)
            head_whole = head_whole.filter(residual)
    else:
        head = read_side(head_subset, schema_to_struct(head_schema))
        if residual is not None:
            head = head.filter(residual)
    # the base side must PLAN under the base snapshot (its delete set),
    # so re-open it for DataFrame construction, then restore — in a
    # finally so a planning failure cannot leave the caller's table
    # silently pinned to the base snapshot
    table.open_snapshot(snapshot_id=base_sid)
    try:
        if identity == "position":
            base = read_side(b_shared, schema_to_struct(base_schema))
            base_whole = read_side(
                b_only, schema_to_struct(base_schema), positions=False
            )
        else:
            base = read_side(base_subset, schema_to_struct(base_schema))
            base_whole = None
    finally:
        table.open_snapshot(snapshot_id=current["snapshot-id"])
    # align the base side to the head schema by field id
    renames, drops, missing = schema_alignment(base_schema, head_schema)

    def align(df: DataFrame) -> DataFrame:
        if drops:
            df = df.drop(*drops)
        if renames:
            df = df.withColumnsRenamed(renames)
        for f in missing:
            df = df.withColumn(
                f["name"],
                F.lit(f.get("initial-default")).cast(
                    schema_to_struct({"fields": [f]})[0].dataType
                ),
            )
        # the residual references CURRENT names — filter the base side
        # only AFTER field-id alignment (a filter on a column renamed
        # inside the window would otherwise fail to resolve)
        if residual is not None:
            df = df.filter(residual)
        return df

    base = align(base)
    if base_whole is not None:
        base_whole = align(base_whole)
    data_cols = [f["name"] for f in head_schema["fields"]]
    if identity == "row":
        # full-outer on row identity over the DELTA subsets: matched rows
        # with identical content are carry-overs (drop); changed content
        # is an update pair; unmatched rows are plain insert/delete.
        # NULL-lineage rows (pre-lineage files) key on (file, pos)
        # instead — unchanged rows of a shared file then still cancel,
        # and only genuinely rewritten pre-lineage rows fall back to
        # unpaired delete+insert.
        def with_key(df: DataFrame) -> DataFrame:
            return df.withColumn(
                "__rk",
                F.coalesce(
                    F.col("_row_id").cast("string"),
                    F.concat_ws("#", F.col("__file"), F.col("__pos")),
                ),
            ).drop("__file", "__pos")

        h = with_key(head).withColumn("__h1", F.lit(1)).alias("h")
        b = with_key(base).withColumn("__b1", F.lit(1)).alias("b")
        j = h.join(b, h["__rk"] == b["__rk"], "full_outer")
        same = None
        for c in data_cols:
            eq = h[c].eqNullSafe(b[c])
            same = eq if same is None else (same & eq)

        def side(df_j, frame, tag):
            return df_j.select(
                *[frame[c].alias(c) for c in data_cols],
                frame["_row_id"].alias("_row_id"),
                F.lit(tag).alias("_change_type"),
            )

        inserts = side(j.filter(b["__b1"].isNull()), h, "insert")
        deletes = side(j.filter(h["__h1"].isNull()), b, "delete")
        changed = j.filter(
            h["__h1"].isNotNull() & b["__b1"].isNotNull() & ~same
        )
        return (
            inserts.unionByName(deletes)
            .unionByName(side(changed, b, "update_before"))
            .unionByName(side(changed, h, "update_after"))
        )
    key = ["__file", "__pos"]
    inserts = (
        head.join(base.select(*key), key, "left_anti")
        .drop(*key)
        .unionByName(head_whole)
        .withColumn("_change_type", F.lit("insert"))
    )
    deletes = (
        base.join(head.select(*key), key, "left_anti")
        .drop(*key)
        .unionByName(base_whole)
        .withColumn("_change_type", F.lit("delete"))
    )
    out = inserts.unionByName(deletes)
    if not net_changes:
        return out
    net = out.groupBy(*data_cols).agg(
        F.sum(
            F.when(F.col("_change_type") == "insert", 1).otherwise(-1)
        ).alias("__net")
    )
    return (
        net.filter(F.col("__net") != 0)
        .withColumn(
            "_change_type",
            F.when(F.col("__net") > 0, F.lit("insert")).otherwise(
                F.lit("delete")
            ),
        )
        # |net| copies restore multiset semantics (two identical rows
        # deleted net to two 'delete' rows, as in real Iceberg)
        .withColumn(
            "__i", F.explode(F.sequence(F.lit(1), F.abs(F.col("__net"))))
        )
        .select(*data_cols, "_change_type")
    )


IcebergTable.changelog_rows_df = changelog_rows_df  # type: ignore[attr-defined]


# -- incremental aggregate maintenance ---------------------------------------

_AGG_DEC = "decimal(25,6)"


def materialize_aggregate(
    df: DataFrame, keys: list[str], sums: dict[str, str]
) -> DataFrame:
    """Per-key count + exact decimal sums — the materialized form
    ``refresh_aggregate`` maintains.  Sums stay DECIMAL(25,6) so repeated
    incremental refreshes never accumulate float error (cast to double
    only when serving)."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.col(src).cast(_AGG_DEC)).alias(out)
            for out, src in sums.items()
        ],
    )


def refresh_aggregate(
    table: IcebergTable,
    spark: SparkSession,
    materialized: DataFrame,
    keys: list[str],
    sums: dict[str, str],
    from_rel: int = -1,
) -> DataFrame:
    """Incremental view maintenance: update a ``materialize_aggregate``
    result computed ``from_rel`` snapshots ago to the CURRENT snapshot by
    reading only the changelog — inserts add, deletes subtract, keys
    whose count reaches zero drop out.  Equals a full recompute while
    touching only changed files: the O(delta) refresh a 100 TB nightly
    aggregate needs instead of an O(table) rebuild.

    Counts and sums are the decomposable-aggregate family this supports
    (min/max are not incrementally maintainable under deletes).  The
    changelog is file-level, which covers appends and copy-on-write
    rewrites (merge_rows/compaction); merge-on-read v2 delete files mask
    rows without changing the file set, so refresh AFTER such deletes
    requires a row-level diff — compact first, or rebuild."""
    delta = diff_df(table, spark, from_rel=from_rel, changelog=True)
    sign = F.when(F.col("_change_type") == "delete", -1).otherwise(1)
    delta_agg = delta.groupBy(*keys).agg(
        F.sum(sign).alias("__dn"),
        *[
            F.sum(sign * F.col(src).cast(_AGG_DEC)).alias(f"__d_{out}")
            for out, src in sums.items()
        ],
    )
    zero = F.lit(0).cast(_AGG_DEC)
    # NULL-SAFE key equality: groupBy puts NULL keys in one group, but a
    # plain column-list join uses null-unsafe equality — the
    # materialized NULL-key row and the delta NULL-key row would never
    # match and the NULL group would duplicate on every refresh
    m, d = materialized.alias("__m"), delta_agg.alias("__d")
    cond = None
    for k in keys:
        c = F.col(f"__m.{k}").eqNullSafe(F.col(f"__d.{k}"))
        cond = c if cond is None else (cond & c)
    merged = m.join(d, cond, "full_outer").select(
        *[
            F.coalesce(F.col(f"__m.{k}"), F.col(f"__d.{k}")).alias(k)
            for k in keys
        ],
        (F.coalesce(F.col("n"), F.lit(0)) + F.coalesce(F.col("__dn"), F.lit(0))).alias("n"),
        *[
            (
                F.coalesce(F.col(out), zero)
                + F.coalesce(F.col(f"__d_{out}"), zero)
            ).cast(_AGG_DEC).alias(out)
            for out in sums
        ],
    )
    return merged.filter(F.col("n") > 0)


def position_deletes_df(table: IcebergTable, spark: SparkSession) -> DataFrame:
    """``table.position_deletes`` metadata table (real Iceberg inspect
    surface; beyond-reference): one row per live deleted position —
    ``(file_path, pos, delete_file_path)`` — from BOTH v2 position-delete
    parquet files and v3 deletion vectors (puffin blobs expanded through
    the same driver/executor-gated roaring decode the scan uses).

    Delete-sized, not table-sized: the scan reads only delete files, so
    at 100 TB the cost is O(deleted rows), and DV expansion stays on the
    executors above the driver-decode gate."""
    _, deletes = table.scan_all()
    pos_files = [
        d
        for d in deletes.values()
        if d.get("content") == 1 and not d.get("referenced_data_file")
    ]
    dv_files = [
        d
        for d in deletes.values()
        if d.get("content") == 1 and d.get("referenced_data_file")
    ]
    schema = "file_path string, pos long, delete_file_path string"
    frames: list[DataFrame] = []
    if pos_files:
        # normalize the stored target path exactly as the delete
        # anti-join does (scheme strip + original_url relocation) so the
        # surfaced paths match the live data files on disk
        delf: Column = F.regexp_replace("file_path", "^file:/*", "/")
        if table.original_url:
            olen = len(table.original_url)
            delf = F.when(
                F.substring(delf, 1, olen) == F.lit(table.original_url),
                F.concat(
                    F.lit(table.url), F.substring(delf, olen + 1, 1 << 30)
                ),
            ).otherwise(delf)
        ppaths = [e["file_path"] for e in pos_files]
        frames.append(
            _delete_parquet_reader(spark, ppaths)
            .parquet(*ppaths)
            .select(
                delf.alias("file_path"),
                F.col("pos").cast("long").alias("pos"),
                F.regexp_replace(
                    F.col("_metadata.file_path"), "^file:/*", "/"
                ).alias("delete_file_path"),
            )
        )
    if dv_files:
        total_blob = sum(int(d["content_size_in_bytes"]) for d in dv_files)
        if total_blob <= DV_DRIVER_DECODE_MAX_BYTES:
            import pandas as pd

            from daskberg_spark.iceberg.puffin import dv_decode_file

            pdf = pd.concat(
                [
                    pd.DataFrame(
                        {
                            "file_path": _norm_scan_path(
                                d["referenced_data_file"]
                            ),
                            "pos": pd.Series(
                                dv_decode_file(
                                    d["file_path"],
                                    int(d["content_offset"]),
                                    int(d["content_size_in_bytes"]),
                                ),
                                dtype="int64",
                            ),
                            "delete_file_path": d["file_path"],
                        }
                    )
                    for d in dv_files
                ]
            )
            frames.append(spark.createDataFrame(pdf, schema))
        else:
            src = _driver_rows_df(
                spark,
                [
                    (
                        _norm_scan_path(d["referenced_data_file"]),
                        d["file_path"],
                        int(d["content_offset"]),
                        int(d["content_size_in_bytes"]),
                    )
                    for d in dv_files
                ],
                "__t string, __p string, __o long, __l long",
            )

            def _expand_dvs(batches):
                import pandas as pd

                from daskberg_spark.iceberg.puffin import dv_decode_file

                for pdf in batches:
                    for t_, p_, o_, l_ in pdf.itertuples(index=False):
                        yield pd.DataFrame(
                            {
                                "file_path": t_,
                                "pos": pd.Series(
                                    dv_decode_file(p_, int(o_), int(l_)),
                                    dtype="int64",
                                ),
                                "delete_file_path": p_,
                            }
                        )

            frames.append(
                src.repartition(min(len(dv_files), 32)).mapInPandas(
                    _expand_dvs, schema
                )
            )
    if not frames:
        return spark.createDataFrame([], schema)
    out = frames[0]
    for fr in frames[1:]:
        out = out.unionByName(fr)
    return out


IcebergTable.position_deletes_df = position_deletes_df  # type: ignore[attr-defined]
IcebergTable.refresh_aggregate = refresh_aggregate  # type: ignore[attr-defined]
