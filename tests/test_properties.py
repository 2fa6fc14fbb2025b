"""Property-based tests (hypothesis) for the codec and planner layers."""

from __future__ import annotations

import datetime
import io
from decimal import Decimal

from hypothesis import given, settings
from hypothesis import strategies as st

from daskberg_spark.iceberg.avro import read_avro, write_avro
from daskberg_spark.iceberg.conversions import decode_bound, encode_bound
from daskberg_spark.iceberg.planner import FieldInfo, apply_filters, range_may_match
from daskberg_spark.iceberg.transforms import bucket, day, truncate

SCHEMA = {
    "type": "record",
    "name": "r",
    "fields": [
        {"name": "s", "type": "string"},
        {"name": "i", "type": "int"},
        {"name": "l", "type": ["null", "long"]},
        {"name": "d", "type": "double"},
        {"name": "b", "type": "bytes"},
        {"name": "arr", "type": {"type": "array", "items": "long"}},
    ],
}

record_st = st.fixed_dictionaries(
    {
        "s": st.text(max_size=50),
        "i": st.integers(-(2**31), 2**31 - 1),
        "l": st.none() | st.integers(-(2**63), 2**63 - 1),
        "d": st.floats(allow_nan=False),
        "b": st.binary(max_size=30),
        "arr": st.lists(st.integers(-(2**63), 2**63 - 1), max_size=5),
    }
)


@settings(max_examples=50, deadline=None)
@given(st.lists(record_st, max_size=20), st.sampled_from(["null", "deflate"]))
def test_avro_roundtrip_property(records, codec):
    buf = io.BytesIO()
    write_avro(SCHEMA, records, buf, codec=codec)
    _, out = read_avro(buf.getvalue())
    assert out == records


@settings(max_examples=100, deadline=None)
@given(st.integers(-(2**31), 2**31 - 1))
def test_int_bound_roundtrip(v):
    assert decode_bound(encode_bound(v, "int"), "int") == v


@settings(max_examples=100, deadline=None)
@given(
    st.decimals(
        min_value=Decimal("-99999999.99"),
        max_value=Decimal("99999999.99"),
        places=2,
    )
)
def test_decimal_bound_roundtrip(v):
    assert decode_bound(encode_bound(v, "decimal(10,2)"), "decimal(10,2)") == v


@settings(max_examples=100, deadline=None)
@given(st.datetimes(min_value=datetime.datetime(1900, 1, 1), max_value=datetime.datetime(2200, 1, 1)))
def test_timestamp_bound_roundtrip(v):
    decoded = decode_bound(encode_bound(v, "timestamp"), "timestamp")
    assert abs((decoded - v).total_seconds()) <= 1e-6  # µs storage granularity


@settings(max_examples=100, deadline=None)
@given(st.integers(-(2**40), 2**40), st.integers(1, 1000))
def test_truncate_properties(v, w):
    t = truncate(v, w)
    assert t <= v < t + w  # t is the floor multiple
    assert t % w == 0


@settings(max_examples=100, deadline=None)
@given(st.text(max_size=30) | st.integers(-(2**62), 2**62), st.integers(1, 64))
def test_bucket_range_property(v, n):
    b = bucket(v, n)
    assert 0 <= b < n


@settings(max_examples=50, deadline=None)
@given(st.datetimes(min_value=datetime.datetime(1970, 1, 2), max_value=datetime.datetime(2100, 1, 1)))
def test_day_monotonic(ts):
    earlier = ts - datetime.timedelta(days=1)
    assert day(earlier) < day(ts)


FIELDS = {"x": FieldInfo(field_id=1, type="long")}


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-100, 100), st.integers(0, 50)), min_size=1, max_size=10
    ),
    st.sampled_from(["==", "<", "<=", ">", ">=", "!="]),
    st.integers(-120, 120),
)
def test_pruning_never_loses_matches(ranges, op, value):
    """Soundness: a file whose [lo, hi] range contains a matching value
    must survive pruning (completeness of the conservative rules)."""
    files = []
    contents = {}
    for idx, (lo, width) in enumerate(ranges):
        hi = lo + width
        path = f"f{idx}"
        files.append(
            {
                "file_path": path,
                "partition": {},
                "lower_bounds": [{"key": 1, "value": encode_bound(lo, "long")}],
                "upper_bounds": [{"key": 1, "value": encode_bound(hi, "long")}],
            }
        )
        contents[path] = list(range(lo, hi + 1))
    survivors = {f["file_path"] for f in apply_filters(files, [("x", op, value)], FIELDS)}
    ops = {
        "==": lambda a: a == value,
        "<": lambda a: a < value,
        "<=": lambda a: a <= value,
        ">": lambda a: a > value,
        ">=": lambda a: a >= value,
        "!=": lambda a: a != value,
    }
    for path, rows in contents.items():
        if any(ops[op](r) for r in rows):
            assert path in survivors, (path, op, value)


@settings(max_examples=100, deadline=None)
@given(st.integers(-50, 50), st.integers(-50, 50), st.integers(-60, 60))
def test_range_may_match_equiv_bruteforce(lo, hi, value):
    if lo > hi:
        lo, hi = hi, lo
    domain = range(lo, hi + 1)
    for op, fn in [
        ("==", lambda a: a == value),
        ("<", lambda a: a < value),
        ("<=", lambda a: a <= value),
        (">", lambda a: a > value),
        (">=", lambda a: a >= value),
    ]:
        truth = any(fn(a) for a in domain)
        got = range_may_match(op, value, lo, hi)
        # conservative: may keep extra, must never drop a match
        assert not (truth and not got), (op, lo, hi, value)


# -- partition pruning across evolved specs (round-2) ------------------------

_EVO_SPECS = {
    0: [{"source-id": 1, "name": "pb", "transform": "bucket[2]"}],
    1: [{"source-id": 1, "name": "pb", "transform": "bucket[4]"}],
    2: [{"source-id": 1, "name": "pb", "transform": "truncate[10]"}],
}
_EVO_FIELDS = {
    "x": FieldInfo(field_id=1, type="int", transform="bucket[4]", partition_name="pb"),
}


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(-100, 100)),
        min_size=1,
        max_size=12,
    ),
    st.sampled_from(["==", "!=", "in"]),
    st.integers(-100, 100),
)
def test_spec_evolved_pruning_never_loses_matches(files_desc, op, value):
    """Across ANY mix of per-file specs (two bucket widths + truncate),
    a file whose actual value satisfies the predicate must survive
    pruning when resolved through its own spec."""
    from daskberg_spark.iceberg.transforms import get_transform

    val = [value, value + 3] if op == "in" else value
    files, truths = [], []
    for i, (spec_id, x) in enumerate(files_desc):
        fn, _ = get_transform(_EVO_SPECS[spec_id][0]["transform"])
        f = {
            "file_path": f"f{i}.parquet",
            "partition": {"pb": fn(x)},
            "_spec_id": spec_id,
        }
        files.append(f)
        if op == "==":
            truths.append(x == value)
        elif op == "!=":
            truths.append(x != value)
        else:
            truths.append(x in val)
    kept = {
        f["file_path"]
        for f in apply_filters(
            files, [("x", op, val)], _EVO_FIELDS, lambda sid: _EVO_SPECS[sid]
        )
    }
    for f, has_match in zip(files, truths):
        if has_match:
            assert f["file_path"] in kept, (f, op, val)


# -- writer-stack interaction matrix -----------------------------------------
# Random interleavings of partition-spec evolution and appends, followed by
# a distributed MERGE and a distributed compaction: content must always
# equal the Python model, and partition pruning must stay correct across
# files written under DIFFERENT historical specs (the three newest writer
# features touching the same manifests — spec evolution, distributed
# write, compaction).

_SPEC_CHOICES = [
    [],
    [{"name": "grp", "transform": "identity", "source": "grp"}],
    [{"name": "k_bucket", "transform": "bucket[4]", "source": "k"}],
    [
        {"name": "grp", "transform": "identity", "source": "grp"},
        {"name": "k_bucket", "transform": "bucket[4]", "source": "k"},
    ],
]

_row_data = st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(0, 100))
_ops_st = st.lists(
    st.one_of(
        st.lists(_row_data, min_size=1, max_size=4).map(lambda rs: ("append", rs)),
        st.sampled_from(_SPEC_CHOICES).map(lambda s: ("evolve", s)),
    ),
    min_size=2,
    max_size=5,
)


@settings(max_examples=6, deadline=None)
@given(ops=_ops_st)
def test_spec_evolution_write_compact_matrix(spark, ops):
    import tempfile

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files_spark,
        merge_rows_spark,
    )

    tdir = tempfile.mkdtemp(prefix="specmatrix_")
    w = IcebergWriter(
        f"{tdir}/t",
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "grp", "type": "string", "required": False},
            {"id": 3, "name": "v", "type": "long", "required": False},
        ],
    )
    model: dict[int, tuple[str, int]] = {}
    k = 0
    for op, arg in ops:
        if op == "append":
            rows = []
            for grp, v in arg:
                rows.append({"k": k, "grp": grp, "v": v})
                model[k] = (grp, v)
                k += 1
            w.append(rows)
        else:
            w.update_partition_spec(arg)
    if not model:
        w.append([{"k": 0, "grp": "a", "v": 0}])
        model[0] = ("a", 0)
        k = 1
    updates = spark.createDataFrame(
        [(0, "c", 999), (k, "b", 111)], "k long, grp string, v long"
    )
    merge_rows_spark(w, spark, updates, ["k"])
    model[0] = ("c", 999)
    model[k] = ("b", 111)
    compact_files_spark(w, spark)
    t = IcebergTable(w.path)
    got = {r["k"]: (r["grp"], r["v"]) for r in t.to_df(spark).collect()}
    assert got == model
    pruned = {
        r["k"] for r in t.to_df(spark, filters=[("grp", "==", "a")]).collect()
    }
    assert pruned == {kk for kk, (g, _) in model.items() if g == "a"}


@given(st.lists(st.integers(min_value=-(2**40), max_value=2**40), min_size=1, max_size=50))
@settings(max_examples=20, deadline=None)
def test_h48_matches_python_md5_prefix(spark, keys):
    """The shared 48-bit sketch hash (Spark conv(md5) / DuckDB hex fold)
    must equal Python's int(md5_prefix, 16) — the three-way anchor that
    makes KMV/HLL estimates engine-independent."""
    import hashlib

    from daskberg_spark.operators.sketches import _h48_spark

    df = spark.createDataFrame([(k,) for k in keys], "k long")
    got = {r.k: r.h for r in df.select("k", _h48_spark("k").alias("h")).collect()}
    for k in keys:
        want = int(hashlib.md5(str(k).encode()).hexdigest()[:12], 16)
        assert got[k] == want


@given(st.integers(min_value=0, max_value=(1 << 40) - 1))
@settings(max_examples=30, deadline=None)
def test_hll_rho_case_equals_python(spark, rem):
    """The generated leading-zero CASE (integer-only, no log2) must equal
    the arithmetic definition on the full 40-bit domain."""
    from daskberg_spark.operators.sketches import HLL_REM_BITS, _sql_rho
    from pyspark.sql import functions as F

    want = HLL_REM_BITS + 1 if rem == 0 else HLL_REM_BITS - rem.bit_length() + 1
    got = (
        spark.range(1)
        .select(F.expr(_sql_rho(str(rem))).alias("r"))
        .first()
        .r
    )
    assert got == want


NESTED_FIELDS_MAP = {
    "meta": FieldInfo(field_id=2, type="struct"),
    "meta.x": FieldInfo(field_id=3, type="long"),
}


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(-100, 100), st.integers(0, 50)), min_size=1, max_size=10
    ),
    st.sampled_from(["==", "<", "<=", ">", ">=", "!="]),
    st.integers(-120, 120),
)
def test_nested_leaf_pruning_never_loses_matches(ranges, op, value):
    """Same soundness property through a struct-leaf dotted path: bounds
    keyed by the LEAF field id must never prune a file whose range holds
    a match, and predicates on the struct column itself prune nothing."""
    files = []
    contents = {}
    for idx, (lo, width) in enumerate(ranges):
        hi = lo + width
        path = f"f{idx}"
        files.append(
            {
                "file_path": path,
                "partition": {},
                "lower_bounds": [{"key": 3, "value": encode_bound(lo, "long")}],
                "upper_bounds": [{"key": 3, "value": encode_bound(hi, "long")}],
            }
        )
        contents[path] = list(range(lo, hi + 1))
    survivors = {
        f["file_path"]
        for f in apply_filters(files, [("meta.x", op, value)], NESTED_FIELDS_MAP)
    }
    ops = {
        "==": lambda a: a == value,
        "<": lambda a: a < value,
        "<=": lambda a: a <= value,
        ">": lambda a: a > value,
        ">=": lambda a: a >= value,
        "!=": lambda a: a != value,
    }
    for path, rows in contents.items():
        if any(ops[op](r) for r in rows):
            assert path in survivors, (path, op, value)
    # whole-struct predicate: conservative, keeps everything
    kept = apply_filters(files, [("meta", "==", 1)], NESTED_FIELDS_MAP)
    assert len(kept) == len(files)


# -- MOR-surface interaction matrix (round 7) --------------------------------
# Random interleavings of appends, predicate DV deletes, merge-on-read
# expression UPDATEs, metadata rollbacks, and the content-preserving
# maintenance rewrites (manifest consolidation, driver-side compaction):
# table content must always equal the Python model, the v3
# one-DV-per-file invariant must hold after every commit, and rollback
# must land exactly on the modeled earlier state (lineage-truncated
# history).

_mor_ops_st = st.lists(
    st.one_of(
        st.lists(st.integers(0, 48), min_size=1, max_size=4).map(
            lambda vs: ("append", vs)
        ),
        st.integers(0, 6).map(lambda m: ("dv_delete", m)),
        st.tuples(st.integers(0, 6), st.integers(100, 900)).map(
            lambda t: ("mor_update", t)
        ),
        st.just(("rollback", None)),
        st.just(("rewrite_manifests", None)),
        st.just(("compact", None)),
    ),
    min_size=3,
    max_size=6,
)


@settings(max_examples=5, deadline=None)
@given(ops=_mor_ops_st)
def test_mor_surface_matrix(spark, ops):
    import tempfile

    import daskberg_spark.iceberg.scan  # noqa: F401
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import (
        IcebergWriter,
        compact_files,
        delete_where_dv_spark,
        rewrite_manifests,
        rollback_to,
        update_where_mor_spark,
    )

    tdir = tempfile.mkdtemp(prefix="mormatrix_")
    w = IcebergWriter(
        f"{tdir}/t",
        [
            {"id": 1, "name": "k", "type": "long", "required": False},
            {"id": 2, "name": "v", "type": "long", "required": False},
        ],
    )
    w.append([{"k": 0, "v": 7}])
    model: dict[int, int] = {0: 7}
    next_k = 1
    history = [dict(model)]
    snap_ids = [w.snapshots[-1]["snapshot-id"]]

    def committed():
        history.append(dict(model))
        snap_ids.append(w.head_snapshot["snapshot-id"])

    def check_dv_invariant():
        per_target: dict[str, int] = {}
        for d in IcebergTable(w.path).plan_deletes():
            tgt = d.get("referenced_data_file")
            if tgt:
                per_target[tgt] = per_target.get(tgt, 0) + 1
        assert all(n == 1 for n in per_target.values()), per_target

    for op, arg in ops:
        if op == "append":
            rows = []
            for v in arg:
                rows.append({"k": next_k, "v": v})
                model[next_k] = v
                next_k += 1
            w.append(rows)
            committed()
        elif op == "dv_delete":
            hit = [k for k, v in model.items() if v % 7 == arg]
            sid = delete_where_dv_spark(w, spark, f"v % 7 = {arg}")
            assert (sid is not None) == bool(hit)
            if hit:
                for k in hit:
                    del model[k]
                committed()
        elif op == "mor_update":
            m, add = arg
            hit = [k for k, v in model.items() if v % 7 == m]
            sid = update_where_mor_spark(
                w, spark, f"v % 7 = {m}", {"v": f"v + {add}"}
            )
            assert (sid is not None) == bool(hit)
            if hit:
                for k in hit:
                    model[k] += add
                committed()
        elif op == "rewrite_manifests":
            if rewrite_manifests(w) is not None:
                committed()
        elif op == "compact":
            if compact_files(w, min_file_bytes=1 << 40) is not None:
                committed()
        else:  # rollback one committed state
            if len(snap_ids) >= 2:
                rollback_to(w, snap_ids[-2])
                model = dict(history[-2])
                history.append(dict(model))
                snap_ids.append(snap_ids[-2])
        check_dv_invariant()
        got = {
            r["k"]: r["v"]
            for r in IcebergTable(w.path).to_df(spark).collect()
        }
        assert got == model, (op, arg)


@given(
    st.lists(
        st.tuples(
            st.integers(-(2**62), 2**62 - 1),
            st.one_of(st.none(), st.floats(allow_nan=False, allow_infinity=False, width=64)),
            st.one_of(st.none(), st.text(max_size=40)),
            st.one_of(st.none(), st.booleans()),
            st.one_of(
                st.none(),
                st.datetimes(
                    min_value=datetime.datetime(1971, 1, 1),
                    max_value=datetime.datetime(2200, 1, 1),
                ),
            ),
            st.one_of(
                st.none(),
                st.dates(
                    min_value=datetime.date(1971, 1, 1),
                    max_value=datetime.date(2200, 1, 1),
                ),
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
@settings(max_examples=25, deadline=None)
def test_avro_data_file_roundtrip_property(tmp_path_factory, rows):
    """Property: ANY typed row set written as an Iceberg AVRO data file
    (container writer + Iceberg-Avro logical types) reads back
    value-identical through the format-dispatched driver read — the
    same decode the rewrite/compaction paths and the streaming source
    use.  Timestamps are µs-truncated on write (Iceberg precision)."""
    from daskberg_spark.iceberg.writer import IcebergWriter, _read_data_table

    d = str(tmp_path_factory.mktemp("avprop"))
    w = IcebergWriter(
        d + "/t",
        [
            {"id": 1, "name": "k", "type": "long", "required": True},
            {"id": 2, "name": "d", "type": "double", "required": False},
            {"id": 3, "name": "s", "type": "string", "required": False},
            {"id": 4, "name": "b", "type": "boolean", "required": False},
            {"id": 5, "name": "ts", "type": "timestamp", "required": False},
            {"id": 6, "name": "dt", "type": "date", "required": False},
        ],
    )
    recs = [
        {"k": k, "d": dv, "s": s, "b": b, "ts": ts, "dt": dt}
        for k, dv, s, b, ts, dt in rows
    ]
    path, _ = w._write_data_file(recs, "avro")
    back = _read_data_table(
        {"file_path": path, "file_format": "AVRO"}
    ).to_pylist()
    assert len(back) == len(recs)
    for want, got in zip(recs, back):
        assert got["k"] == want["k"]
        assert got["d"] == want["d"]
        assert got["s"] == want["s"]
        assert got["b"] == want["b"]
        want_ts = want["ts"]
        if want_ts is not None:
            want_ts = want_ts.replace(
                microsecond=want_ts.microsecond
            )  # already µs precision from hypothesis datetimes
        assert got["ts"] == want_ts
        assert got["dt"] == want["dt"]


# ---------------------------------------------------------------------------
# Vectorized pruning fast path: differential equivalence with the scalar
# path.  apply_filters switches to numpy masks above _VECTOR_MIN_FILES;
# both paths must return the SAME survivor list for every input — bounds
# may be missing, odd-width (pre-promotion relics), NaN (foreign writers),
# and predicate values may be mixed-typed.

_VFIELDS = {
    "l": FieldInfo(field_id=1, type="long"),
    "d": FieldInfo(field_id=2, type="double"),
    "dt": FieldInfo(field_id=3, type="date"),
    "ts": FieldInfo(field_id=4, type="timestamp"),
}

_raw_bound_st = {
    # None | spec-width encode | odd-width relic bytes
    "l": st.none()
    | st.integers(-(2**40), 2**40).map(lambda v: encode_bound(v, "long"))
    | st.integers(-(2**20), 2**20).map(lambda v: encode_bound(v, "int")),
    "d": st.none()
    | st.floats(allow_nan=True, allow_infinity=True, width=32).map(
        lambda v: encode_bound(float(v), "double")
    )
    | st.floats(allow_nan=False, width=32).map(
        lambda v: encode_bound(float(v), "float")  # 4-byte pre-promotion
    ),
    "dt": st.none()
    | st.dates(datetime.date(1990, 1, 1), datetime.date(2050, 1, 1)).map(
        lambda v: encode_bound(v, "date")
    ),
    "ts": st.none()
    | st.datetimes(
        datetime.datetime(1990, 1, 1), datetime.datetime(2050, 1, 1)
    ).map(lambda v: encode_bound(v, "timestamp")),
}

_vfile_st = st.fixed_dictionaries(
    {
        k: st.tuples(_raw_bound_st[k], _raw_bound_st[k])
        for k in ("l", "d", "dt", "ts")
    }
)

_value_st = {
    "l": st.integers(-(2**40), 2**40) | st.floats(allow_nan=True),
    "d": st.floats(allow_nan=True, allow_infinity=True)
    | st.integers(-(2**60), 2**60),
    "dt": st.dates(datetime.date(1990, 1, 1), datetime.date(2050, 1, 1)),
    "ts": st.datetimes(
        datetime.datetime(1990, 1, 1), datetime.datetime(2050, 1, 1)
    ),
}

_pred_st = st.sampled_from(["l", "d", "dt", "ts"]).flatmap(
    lambda col: st.tuples(
        st.just(col),
        st.sampled_from(["==", "<", "<=", ">", ">=", "!=", "in"]),
        _value_st[col] | st.lists(_value_st[col], max_size=3),
    )
)


def _vfiles(bounds_rows):
    files = []
    for i, row in enumerate(bounds_rows):
        lob, hib = [], []
        for col, (lo, hi) in row.items():
            fid = _VFIELDS[col].field_id
            if lo is not None:
                lob.append({"key": fid, "value": lo})
            if hi is not None:
                hib.append({"key": fid, "value": hi})
        files.append(
            {
                "file_path": f"f{i}",
                "partition": {},
                "lower_bounds": lob,
                "upper_bounds": hib,
            }
        )
    return files


@settings(max_examples=150, deadline=None)
@given(
    st.lists(_vfile_st, min_size=70, max_size=90),
    st.lists(st.lists(_pred_st, min_size=1, max_size=3), min_size=1, max_size=2),
)
def test_vector_pruning_matches_scalar(bounds_rows, dnf):
    import daskberg_spark.iceberg.planner as planner_mod

    # 'in' needs (possibly empty) list values; others need scalars
    filters = []
    for conj in dnf:
        preds = []
        for col, op, val in conj:
            if op == "in":
                if isinstance(val, list):
                    preds.append((col, op, val))
            elif isinstance(val, list):
                if val:
                    preds.append((col, op, val[0]))
            else:
                preds.append((col, op, val))
        if preds:
            filters.append(preds)
    if not filters:
        return
    files = _vfiles(bounds_rows)
    assert len(files) >= planner_mod._VECTOR_MIN_FILES
    fast = apply_filters(files, filters, _VFIELDS)
    saved = planner_mod._VECTOR_MIN_FILES
    planner_mod._VECTOR_MIN_FILES = 10**9
    try:
        slow = apply_filters(files, filters, _VFIELDS)
    finally:
        planner_mod._VECTOR_MIN_FILES = saved
    assert [f["file_path"] for f in fast] == [f["file_path"] for f in slow]


# ---- whole-file proof soundness (metadata-only DELETE) --------------------

_OPS_EVAL = {
    "==": lambda a, b: a is not None and a == b,
    "!=": lambda a, b: a is not None and a != b,
    "<": lambda a, b: a is not None and a < b,
    "<=": lambda a, b: a is not None and a <= b,
    ">": lambda a, b: a is not None and a > b,
    ">=": lambda a, b: a is not None and a >= b,
}


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.one_of(st.none(), st.integers(-50, 50), st.just(float("nan"))),
        min_size=1,
        max_size=20,
    ),
    st.sampled_from(["==", "!=", "<", "<=", ">", ">="]),
    st.integers(-60, 60),
    st.booleans(),
)
def test_all_rows_match_proof_is_sound(vals, op, value, as_double):
    """file_all_rows_match may only claim a whole-file match when EVERY
    row actually satisfies the predicate — NULLs and NaNs (which fail
    every comparison) included.  The file record is built exactly like
    the writer's stats path (_bounds: null/nan counts, NaN-excluded
    bounds), so this is a model-based soundness check of the
    metadata-only DELETE against ground truth."""
    import math
    import tempfile

    from daskberg_spark.iceberg.planner import file_all_rows_match
    from daskberg_spark.iceberg.writer import IcebergWriter

    typ = "double" if as_double else "long"
    if not as_double:
        vals = [None if v is None or v != v else int(v) for v in vals]
    else:
        vals = [None if v is None else float(v) for v in vals]
        value = float(value)
    path = tempfile.mkdtemp(prefix="proof_")
    w = IcebergWriter(
        path, [{"id": 1, "name": "x", "type": typ, "required": False}]
    )
    lowers, uppers, nulls, nans = w._bounds([{"x": v} for v in vals])
    rec = {
        "file_path": "/f.parquet",
        "record_count": len(vals),
        "partition": {},
        "lower_bounds": lowers,
        "upper_bounds": uppers,
        "null_value_counts": nulls,
        "nan_value_counts": nans,
    }
    fields = {"x": FieldInfo(field_id=1, type=typ)}
    claimed = file_all_rows_match(rec, [("x", op, value)], fields)
    ground = all(
        v is not None and not (isinstance(v, float) and math.isnan(v))
        and _OPS_EVAL[op](v, value)
        for v in vals
    )
    if claimed:
        assert ground, (vals, op, value)


@settings(max_examples=50, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(-(2**50), 2**50),
            st.one_of(st.none(), st.text(max_size=12)),
            st.floats(allow_nan=False, allow_infinity=False, width=64),
            st.binary(max_size=16),
        ),
        min_size=1,
        max_size=40,
    ),
    st.sets(st.sampled_from(["a", "b", "c", "d"]), max_size=4),
)
def test_projected_avro_decode_matches_full(rows, proj):
    """Projection-pushdown decode (field skippers) equals the full
    decode restricted to the projected fields, for any field subset —
    including the empty set (pure row counting)."""
    import io

    from daskberg_spark.iceberg.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
            {"name": "c", "type": "double"},
            {"name": "d", "type": "bytes"},
        ],
    }
    recs = [{"a": a, "b": b, "c": c, "d": d} for a, b, c, d in rows]
    buf = io.BytesIO()
    write_avro(schema, recs, buf, codec="deflate")
    data = buf.getvalue()
    _, full = read_avro(data)
    import tempfile

    p = tempfile.mktemp(suffix=".avro")
    with open(p, "wb") as f:
        f.write(data)
    from daskberg_spark.iceberg.avro import read_avro_range

    _, got, _ = read_avro_range(p, 0, 2**62, columns=proj)
    assert got == [{k: r[k] for k in r if k in proj} for r in full]


@given(
    st.lists(
        st.lists(
            st.integers(min_value=-1000, max_value=1000),
            min_size=1,
            max_size=120,
        ),
        min_size=1,
        max_size=6,
    ),
    st.sampled_from([4, 8, 16]),
    st.sampled_from([8, 16, 32]),
)
@settings(max_examples=60, deadline=None)
def test_merge_cdf_parts_rank_error_bound(shards, part_k, out_buckets):
    """The documented bound: merging per-shard exact equi-depth CDFs
    recovers every global equi-depth boundary within ~Σ n_s/K_s ranks
    of the true order statistic — up to 2× that under heavy duplicate
    values, where the per-shard knot PLACEMENT itself quantizes by a
    bucket (the docstring's stated caveat) — for arbitrary value
    distributions, shard sizes, and bucket resolutions."""
    import bisect

    from daskberg_spark.iceberg.quantiles import merge_cdf_parts

    parts = []
    allv = []
    for vals in shards:
        vals = sorted(vals)
        allv += vals
        n = len(vals)
        # exact equi-depth knots of this shard (order statistics)
        bounds = [
            float(vals[min(n - 1, round(i / part_k * (n - 1)))])
            for i in range(part_k + 1)
        ]
        parts.append((n, n, bounds))
    rows, nn, merged = merge_cdf_parts(parts, out_buckets)
    allv.sort()
    total = len(allv)
    assert rows == nn == total
    assert merged == sorted(merged)
    assert merged[0] == allv[0] and merged[-1] == allv[-1]
    tol = 2 * sum(len(vals) / part_k for vals in shards) + 1e-6
    for j, b in enumerate(merged):
        target = j / out_buckets * total
        lo = bisect.bisect_left(allv, b)   # ranks spanned by value b
        hi = bisect.bisect_right(allv, b)
        # the target rank must fall within tol of b's rank interval
        assert lo - tol <= target <= hi + tol, (
            j,
            b,
            target,
            (lo, hi),
            tol,
        )
