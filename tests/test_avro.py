"""Avro container reader/writer unit tests (Spark-free, SURVEY §7 M1)."""

from __future__ import annotations

import collections
import glob
import io
import json
import os
import re

import pytest

from daskberg_spark.iceberg.avro import read_avro, read_avro_file, write_avro

GOLDEN_META = "/root/reference/test-data/my_table/metadata"


def test_reads_all_golden_manifest_lists():
    for path in glob.glob(f"{GOLDEN_META}/snap-*.avro"):
        meta, records = read_avro_file(path)
        assert b"avro.schema" not in meta or True
        assert "avro.schema" in meta
        for rec in records:
            assert "manifest_path" in rec
            assert rec["manifest_path"].endswith(".avro")
            assert isinstance(rec["partition_spec_id"], int)


def test_reads_all_golden_manifests():
    paths = [p for p in glob.glob(f"{GOLDEN_META}/*-m?.avro")]
    assert paths
    for path in paths:
        _, records = read_avro_file(path)
        for rec in records:
            assert rec["status"] in (0, 1, 2)
            df = rec["data_file"]
            assert df["file_format"] == "PARQUET"
            assert df["record_count"] >= 1
            # bounds are field-id keyed bytes
            for b in df["lower_bounds"] or []:
                assert isinstance(b["key"], int)
                assert isinstance(b["value"], bytes)


def test_known_bound_bytes():
    """John's row (age 56) is the single entry of the 3rd snapshot manifest."""
    _, records = read_avro_file(
        f"{GOLDEN_META}/b1a0a4f3-c2d8-4a81-97c0-ce967a61a546-m0.avro"
    )
    df = records[0]["data_file"]
    lower = {b["key"]: b["value"] for b in df["lower_bounds"]}
    assert lower[1] == b"John"
    assert int.from_bytes(lower[2], "little") == 56


def test_roundtrip_golden_manifest():
    path = glob.glob(f"{GOLDEN_META}/*-m0.avro")[0]
    meta, records = read_avro_file(path)
    schema = json.loads(meta["avro.schema"])
    buf = io.BytesIO()
    write_avro(schema, records, buf)
    meta2, records2 = read_avro(buf.getvalue())
    assert records2 == records


def test_roundtrip_synthetic_types():
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "s", "type": "string"},
            {"name": "i", "type": "int"},
            {"name": "l", "type": ["null", "long"]},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "by", "type": "bytes"},
            {"name": "arr", "type": {"type": "array", "items": "int"}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
            {
                "name": "nested",
                "type": ["null", {"type": "record", "name": "n", "fields": [
                    {"name": "x", "type": "long"}]}],
            },
        ],
    }
    records = [
        {"s": "héllo", "i": -5, "l": None, "d": 1.5, "f": 2.0, "b": True,
         "by": b"\x00\xff", "arr": [1, 2, 3], "m": {"a": "b"}, "nested": {"x": 9}},
        {"s": "", "i": 2**31 - 1, "l": -(2**62), "d": -0.0, "f": 0.5, "b": False,
         "by": b"", "arr": [], "m": {}, "nested": None},
    ]
    for codec in ("null", "deflate"):
        buf = io.BytesIO()
        write_avro(schema, records, buf, codec=codec)
        _, out = read_avro(buf.getvalue())
        assert out == records


def test_rejects_non_avro():
    with pytest.raises(ValueError):
        read_avro(b"not avro at all")


# -- property-based writer<->reader roundtrip (round-1 verdict item 10) ------

from hypothesis import given, settings
from hypothesis import strategies as st

_PRIMITIVES = {
    "string": st.text(max_size=30),
    "int": st.integers(-(2**31), 2**31 - 1),
    "long": st.integers(-(2**63), 2**63 - 1),
    "double": st.floats(allow_nan=False),
    "float": st.floats(width=32, allow_nan=False),
    "boolean": st.booleans(),
    "bytes": st.binary(max_size=20),
}


@st.composite
def _schema_and_records(draw):
    names = list(_PRIMITIVES)
    fields, val_strats = [], {}
    for i in range(draw(st.integers(1, 6))):
        name = f"f{i}"
        kind = draw(st.sampled_from(names + ["nullable", "array", "map"]))
        if kind == "nullable":
            inner = draw(st.sampled_from(names))
            fields.append({"name": name, "type": ["null", inner]})
            val_strats[name] = st.none() | _PRIMITIVES[inner]
        elif kind == "array":
            inner = draw(st.sampled_from(names))
            fields.append({"name": name, "type": {"type": "array", "items": inner}})
            val_strats[name] = st.lists(_PRIMITIVES[inner], max_size=5)
        elif kind == "map":
            inner = draw(st.sampled_from(names))
            fields.append({"name": name, "type": {"type": "map", "values": inner}})
            val_strats[name] = st.dictionaries(
                st.text(max_size=8), _PRIMITIVES[inner], max_size=4
            )
        else:
            fields.append({"name": name, "type": kind})
            val_strats[name] = _PRIMITIVES[kind]
    schema = {"type": "record", "name": "r", "fields": fields}
    records = draw(st.lists(st.fixed_dictionaries(val_strats), max_size=8))
    return schema, records


@settings(max_examples=60, deadline=None)
@given(_schema_and_records(), st.sampled_from(["null", "deflate", "snappy"]))
def test_property_roundtrip_random_schemas(sr, codec):
    """Any write_avro output must read back value-identical through
    read_avro, across random flat/nullable/array/map schemas and codecs
    (beyond the manifest shapes the connector itself exercises)."""
    schema, records = sr
    buf = io.BytesIO()
    write_avro(schema, records, buf, codec=codec)
    _, out = read_avro(buf.getvalue())
    assert out == records


def test_snappy_golden_manifest_reencode():
    """Re-encode a golden manifest under the snappy codec and read it
    back — the foreign-writer scenario (e.g. a Java engine whose
    write.avro.compression-codec is snappy)."""
    path = glob.glob(f"{GOLDEN_META}/*-m0.avro")[0]
    meta, records = read_avro_file(path)
    schema = json.loads(meta["avro.schema"])
    buf = io.BytesIO()
    write_avro(schema, records, buf, codec="snappy")
    meta2, out = read_avro(buf.getvalue())
    assert meta2["avro.codec"] == b"snappy"
    assert out == records


def test_snappy_copy_elements_decode():
    """Hand-crafted raw-snappy streams exercising the back-reference
    element kinds a real compressor emits (our literal-only encoder never
    does): 1-byte-offset copy, 2-byte-offset copy, and the overlapping
    (RLE) case."""
    from daskberg_spark.iceberg.avro import _snappy_decompress

    # literal "abcab" then copy(offset=3, len=5) → overlapping repetition
    lit = bytes([ (5 - 1) << 2 ]) + b"abcab"
    copy1 = bytes([ (0 << 5) | ((5 - 4) << 2) | 1, 3 ])   # kind-1: len 5, off 3
    stream = bytes([10]) + lit + copy1                      # preamble: 10 bytes
    assert _snappy_decompress(stream) == b"abcabcabca"
    # same expansion via a kind-2 (2-byte offset) copy
    copy2 = bytes([ (5 - 1) << 2 | 2 ]) + (3).to_bytes(2, "little")
    stream2 = bytes([10]) + lit + copy2
    assert _snappy_decompress(stream2) == b"abcabcabca"
    # non-overlapping fast path: "abcd" + copy(off=4, len=4)
    stream3 = bytes([8, (4 - 1) << 2]) + b"abcd" + bytes([(4 - 4) << 2 | 1, 4])
    assert _snappy_decompress(stream3) == b"abcdabcd"
    with pytest.raises(ValueError):  # offset beyond output start
        _snappy_decompress(bytes([4, (1 - 1) << 2]) + b"a" + bytes([(4 - 4) << 2 | 1, 9]))


def test_snappy_crc_mismatch_rejected():
    schema = {"type": "record", "name": "r",
              "fields": [{"name": "x", "type": "long"}]}
    buf = io.BytesIO()
    write_avro(schema, [{"x": 1}, {"x": 2}], buf, codec="snappy")
    raw = bytearray(buf.getvalue())
    # block tail = [4-byte CRC][16-byte sync]: flip a CRC byte
    raw[-17] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        read_avro(bytes(raw))


@settings(max_examples=80, deadline=None)
@given(st.data())
def test_truncated_avro_never_silently_wrong(data):
    """Any strict prefix of a valid container either raises or yields a
    strict prefix of the true records — never altered values (the
    failure mode that would corrupt snapshot reconciliation silently)."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": ["null", "string"]},
        ],
    }
    records = [{"a": i, "b": None if i % 3 else f"s{i}"} for i in range(20)]
    buf = io.BytesIO()
    write_avro(schema, records, buf, codec="deflate")
    full = buf.getvalue()
    cut = data.draw(st.integers(min_value=0, max_value=len(full) - 1))
    try:
        _, out = read_avro(full[:cut])
    except Exception:
        return  # loud failure is correct
    assert out == records[: len(out)]


def test_zstd_golden_manifest_reencode(spark):
    """Re-encode a golden manifest under the zstd codec and read it back
    — the modern-foreign-writer scenario (zstd is the default
    write.avro.compression-codec of current Java engines).  No zstd
    module exists in this Python env; the codec rides the active
    session's JVM (zstd-jni, bundled with every Spark)."""
    path = glob.glob(f"{GOLDEN_META}/*-m0.avro")[0]
    meta, records = read_avro_file(path)
    schema = json.loads(meta["avro.schema"])
    buf = io.BytesIO()
    write_avro(schema, records, buf, codec="zstd")
    meta2, out = read_avro(buf.getvalue())
    assert meta2["avro.codec"] == b"zstd"
    assert out == records


def test_zstd_streamed_frame_without_content_size(spark):
    """Java Avro's ZstdOutputStream emits frames WITHOUT a recorded
    content size (getFrameContentSize = -1); the reader must stream-
    decode those, not just sized frames."""
    from daskberg_spark.iceberg.avro import _zstd_decompress

    jvm = spark._jvm
    bos = jvm.java.io.ByteArrayOutputStream()
    zos = jvm.com.github.luben.zstd.ZstdOutputStream(bos)
    payload = b"streamed avro block " * 500
    zos.write(payload)
    zos.close()
    frame = bytes(bos.toByteArray())
    assert int(jvm.com.github.luben.zstd.Zstd.getFrameContentSize(frame)) == -1
    assert _zstd_decompress(frame) == payload


def test_zstd_table_end_to_end(spark, tmp_path):
    """A table whose manifest list AND manifests are zstd-encoded (the
    foreign-writer metadata shape) opens and reads identically."""
    import os

    from daskberg_spark.iceberg.avro import write_avro_file
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.writer import IcebergWriter

    p = str(tmp_path / "t")
    w = IcebergWriter(
        p, [{"id": 1, "name": "id", "type": "long", "required": False}]
    )
    w.append([{"id": i} for i in range(20)])
    w.append([{"id": i} for i in range(20, 30)])
    import daskberg_spark.iceberg.scan  # noqa: F401

    before = sorted(r["id"] for r in IcebergTable(p).to_df(spark).collect())
    # re-encode every metadata avro as zstd in place
    for name in os.listdir(f"{p}/metadata"):
        if not name.endswith(".avro"):
            continue
        fp = f"{p}/metadata/{name}"
        meta, records = read_avro_file(fp)
        write_avro_file(
            fp, json.loads(meta["avro.schema"]), records, codec="zstd"
        )
    t = IcebergTable(p)
    assert sorted(r["id"] for r in t.to_df(spark).collect()) == before


def test_split_read_survives_embedded_container(tmp_path):
    """Record bytes that CONTAIN another Avro container written by this
    same writer must not alias a block boundary under byte-range
    splitting — the content-derived sync marker guarantees the embedded
    file's sync differs from the outer file's (a fixed marker made a
    mid-range split task start decoding inside a record: reproduced
    EOFError / silently wrong rows)."""
    import io

    from daskberg_spark.iceberg.avro import (
        read_avro_file,
        read_avro_range_columns,
        write_avro,
        write_avro_file,
    )

    inner_schema = {
        "type": "record",
        "name": "inner",
        "fields": [{"name": "x", "type": "long"}],
    }
    buf = io.BytesIO()
    write_avro(
        inner_schema, [{"x": i} for i in range(2000)], buf, codec="null"
    )
    embedded = buf.getvalue()

    outer_schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "payload", "type": "bytes"},
        ],
    }
    rows = [
        {"k": i, "payload": embedded if i % 3 == 0 else b"z" * 50}
        for i in range(400)
    ]
    path = str(tmp_path / "outer.avro")
    write_avro_file(path, outer_schema, rows, codec="null")
    _, whole = read_avro_file(path)
    assert [r["k"] for r in whole] == list(range(400))

    import os

    size = os.path.getsize(path)
    for n_splits in (2, 3, 7):
        step = size // n_splits + 1
        got = []
        for s in range(0, size, step):
            cols, _, _ = read_avro_range_columns(path, s, min(s + step, size))
            got.extend(cols["k"])
        assert sorted(got) == list(range(400)), n_splits
        # positional variant must agree too
        got_pos = []
        for s in range(0, size, step):
            cols, _, off = read_avro_range_columns(
                path, s, min(s + step, size), want_row_offset=True
            )
            got_pos.extend((off + i, k) for i, k in enumerate(cols["k"]))
        assert sorted(p for p, _ in got_pos) == list(range(400))
        assert all(p == k for p, k in got_pos)


def test_block_index_known_block_exact(tmp_path):
    """Block-aligned split tasks (avro_block_index + known_block) decode
    every record exactly once with exact whole-file row offsets, for
    any grouping of blocks into tasks — mirrors the planner's aligned
    positional splits (intermediate end = next block offset - 16)."""
    import daskberg_spark.iceberg.avro as avro_mod
    from daskberg_spark.iceberg.avro import (
        avro_block_index,
        read_avro_range_columns,
        write_avro_file,
    )

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "k", "type": "long"}],
    }
    path = str(tmp_path / "t.avro")
    old = avro_mod.AVRO_BLOCK_BYTES
    try:
        avro_mod.AVRO_BLOCK_BYTES = 256  # many blocks
        write_avro_file(path, schema, [{"k": i} for i in range(5000)])
    finally:
        avro_mod.AVRO_BLOCK_BYTES = old
    index = avro_block_index(path)
    assert len(index) > 10
    import os

    size = os.path.getsize(path)
    for group in (1, 2, 3, 5, len(index)):
        got = []
        for j in range(0, len(index), group):
            boff, roff = index[j]
            end = size if j + group >= len(index) else index[j + group][0] - 16
            cols, _, off = read_avro_range_columns(
                path, boff, end, known_block=(boff, roff)
            )
            assert off == roff
            got.extend((off + i, k) for i, k in enumerate(cols["k"]))
        assert sorted(p for p, _ in got) == list(range(5000)), group
        assert all(p == k for p, k in got)


def test_compiled_decoder_matches_legacy():
    """The schema-compiled decoder (closure chain over bytes+pos — what
    both read loops use) is decode-identical to the legacy dispatching
    ``_decode`` across unions, nested records, arrays, maps, enums,
    fixed, and every primitive."""
    import io

    from daskberg_spark.iceberg.avro import (
        _compile_decoder,
        _decode,
        _encode,
        _register_names,
    )

    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "l", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "d", "type": "double"},
            {"name": "f", "type": "float"},
            {"name": "b", "type": "boolean"},
            {"name": "raw", "type": "bytes"},
            {"name": "fx", "type": {"type": "fixed", "name": "fx16", "size": 4}},
            {"name": "e", "type": {"type": "enum", "name": "col", "symbols": ["R", "G", "B"]}},
            {
                "name": "kv",
                "type": ["null", {"type": "array", "items": {
                    "type": "record", "name": "pair",
                    "fields": [{"name": "key", "type": "int"},
                               {"name": "value", "type": ["null", "bytes"]}]}}],
            },
            {"name": "m", "type": {"type": "map", "values": "long"}},
            {"name": "u3", "type": ["null", "long", "string"]},
        ],
    }
    rows = [
        {
            "l": (-1) ** i * i * 12345678901,
            "s": None if i % 3 == 0 else f"s{i}" * (i % 5),
            "d": i / 7.0,
            "f": float(i),
            "b": i % 2 == 0,
            "raw": bytes([i % 256]) * (i % 9),
            "fx": bytes([i % 256] * 4),
            "e": ["R", "G", "B"][i % 3],
            "kv": None
            if i % 4 == 0
            else [{"key": j, "value": None if j % 2 else b"x" * j} for j in range(i % 6)],
            "m": {f"k{j}": j * i for j in range(i % 4)},
            "u3": None if i % 3 == 0 else (i if i % 3 == 1 else f"u{i}"),
        }
        for i in range(200)
    ]
    names: dict = {}
    _register_names(schema, names)
    buf = bytearray()
    for r in rows:
        _encode(schema, r, buf, names)
    data = bytes(buf)
    dec = _compile_decoder(schema, names)
    pos = 0
    got_compiled = []
    for _ in rows:
        v, pos = dec(data, pos)
        got_compiled.append(v)
    assert pos == len(data)
    bio = io.BytesIO(data)
    got_legacy = [_decode(schema, bio, names) for _ in rows]
    assert got_compiled == got_legacy


def test_fixed_length_validated_at_encode(tmp_path):
    from daskberg_spark.iceberg.avro import write_avro_file

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "f", "type": {"type": "fixed", "name": "fx", "size": 4}}
        ],
    }
    p = str(tmp_path / "bad.avro")
    with pytest.raises(ValueError, match="fixed\\(4\\) value has 3"):
        write_avro_file(p, schema, [{"f": b"abc"}])
    # the right length still round-trips
    p2 = str(tmp_path / "ok.avro")
    write_avro_file(p2, schema, [{"f": b"abcd"}])
    from daskberg_spark.iceberg.avro import read_avro_file

    _, recs = read_avro_file(p2)
    assert recs == [{"f": b"abcd"}]


def test_truncated_fixed_raises_not_short_slice():
    from daskberg_spark.iceberg.avro import _compile_decoder, _decode

    schema = {"type": "fixed", "name": "fx", "size": 8}
    dec = _compile_decoder(schema, {})
    with pytest.raises(EOFError, match="truncated fixed"):
        dec(b"\x01\x02\x03", 0)
    import io

    with pytest.raises(EOFError, match="truncated fixed"):
        _decode(schema, io.BytesIO(b"\x01\x02\x03"), {})


def test_namespace_fullname_references_resolve(tmp_path):
    """Spec-legal foreign schemas reference named types by FULLNAME
    (namespace.name); bare-name-only registration made them
    unreadable."""
    from daskberg_spark.iceberg.avro import read_avro_file, write_avro_file

    inner = {
        "type": "record",
        "name": "point",
        "namespace": "org.example",
        "fields": [{"name": "x", "type": "long"}],
    }
    schema = {
        "type": "record",
        "name": "outer",
        "fields": [
            {"name": "a", "type": inner},
            # second use references the FULLNAME, per the Avro spec
            {"name": "b", "type": "org.example.point"},
        ],
    }
    p = str(tmp_path / "ns.avro")
    write_avro_file(p, schema, [{"a": {"x": 1}, "b": {"x": 2}}])
    _, recs = read_avro_file(p)
    assert recs == [{"a": {"x": 1}, "b": {"x": 2}}]


def _generated_and_oracle(schema, value):
    """Encode one value through the generated encoder and through
    ``_encode``; each result is the bytes or the exception raised."""
    from daskberg_spark.iceberg import avro as A

    names: dict = {}
    A._register_names(schema, names)
    out = []
    for run in (
        lambda buf: A._compile_encoder(schema, names)(value, buf),
        lambda buf: A._encode(schema, value, buf, names),
    ):
        buf = bytearray()
        try:
            run(buf)
            out.append(bytes(buf))
        except Exception as exc:  # compared by the caller
            out.append(exc)
    return out


@settings(max_examples=60, deadline=None)
@given(_schema_and_records())
def test_generated_encoder_matches_encode(sr):
    """Each record's generated encoding is byte-identical to the
    dispatching ``_encode`` into a bytearray."""
    from daskberg_spark.iceberg import avro as A

    schema, records = sr
    names: dict = {}
    A._register_names(schema, names)
    enc = A._compile_encoder(schema, names)
    for r in records:
        fast, slow = bytearray(), bytearray()
        enc(r, fast)
        A._encode(schema, r, slow, names)
        assert fast == slow


_NODE = {
    "type": "record",
    "name": "node",
    "fields": [{"name": "v", "type": "long"}, {"name": "next", "type": ["null", "node"]}],
}
_DEFAULTS = {
    "type": "record",
    "name": "d",
    "fields": [
        {"name": "a", "type": ["null", "long"], "default": None},
        {"name": "b", "type": "long", "default": 7},
        {"name": "c", "type": "string", "default": "x"},
    ],
}


@pytest.mark.parametrize(
    "schema, value",
    [
        (["null", "int", "double"], 1.5),  # several non-null branches
        (["null", "int", "double"], 7),
        (["null", "double", "long"], 5),
        (["null", "int", "boolean"], True),  # bool is an int subclass
        (["int", "boolean"], False),
        (["string", "null"], None),  # null second
        (["string", "null"], "s"),
        (["null", _NODE], collections.OrderedDict(v=1, next=None)),  # no exact type
        ({"type": "map", "values": ["null", "long"]}, {"a": None, "b": 300}),
        ({"type": "array", "items": "string"}, ["x", "é" * 70]),
        ({"type": "enum", "name": "e", "symbols": ["A", "B"]}, "B"),
        ({"type": "fixed", "name": "f", "size": 3}, b"abc"),
        (_DEFAULTS, {"b": 9}),
        (_NODE, {"v": 1, "next": {"v": -2, "next": {"v": 2**40, "next": None}}}),
        ("long", 2**63 - 1),
        ("long", -(2**63)),
        ("long", 64),
        ("long", -65),
        ("bytes", bytearray(b"\x00" * 64)),
        ("int", 2**31 - 1),
        ("int", -(2**31)),
        (["null", "int", "long"], 2**31 - 1),  # in range: the int branch
        (["null", "int", "long"], 2**31),  # out of range: the long branch
        (["null", "int", "long"], -(2**40)),
        (["long", "int"], 3),
        ({"type": "array", "items": ["int", "long"]}, [1, 2**40, -(2**31) - 1]),
    ],
)
def test_generated_encoder_fixed_cases(schema, value):
    fast, slow = _generated_and_oracle(schema, value)
    assert isinstance(fast, bytes), fast
    assert fast == slow


# one past either end of the signed 64-bit range, and further out
_LONG_OUT_OF_RANGE = [2**63, 2**64 + 1, -(2**63) - 1, -(2**64) - 5]
# the same for the signed 32-bit range of an ``int``
_INT_OUT_OF_RANGE = [2**31, 2**40, -(2**31) - 1, -(2**63)]


@pytest.mark.parametrize(
    "schema, value, exc, match",
    [
        ({"type": "fixed", "name": "f", "size": 3}, b"ab", ValueError, "fixed\\(3\\) value has 2"),
        ({"type": "enum", "name": "e", "symbols": ["A", "B"]}, "Z", ValueError, ""),
        ({"type": "record", "name": "r", "fields": [{"name": "a", "type": "long"}]}, {}, KeyError, ""),
        (["long", "string"], None, ValueError, "no null branch"),
        *[("long", v, ValueError, "long out of range") for v in _LONG_OUT_OF_RANGE],
        *[("int", v, ValueError, "int out of range") for v in _INT_OUT_OF_RANGE],
        (["null", "int"], 2**31, ValueError, "int out of range"),  # no long branch
        (["null", "string", "int"], 2**40, ValueError, "int out of range"),
    ],
)
def test_generated_encoder_errors_match_encode(schema, value, exc, match):
    """A wrong-length fixed value, an unknown enum symbol, a missing
    field with no default, a None with no null branch, a long outside
    the signed 64-bit range and an int outside the signed 32-bit range
    (also through a union with no long branch) raise the same exception
    type from both encoders."""
    got = _generated_and_oracle(schema, value)
    assert all(isinstance(g, exc) for g in got), got
    assert all(re.search(match, str(g)) for g in got)


def test_write_avro_long_range():
    """Both ends of the signed 64-bit range round-trip; a long outside
    it raises instead of wrapping to another long (unchecked, ``2**63``
    reads back as -1 and ``2**64 + 1`` as 0)."""
    from daskberg_spark.iceberg.avro import read_avro, write_avro

    schema = {"type": "record", "name": "r", "fields": [{"name": "x", "type": "long"}]}
    records = [{"x": 2**63 - 1}, {"x": -(2**63)}]
    buf = io.BytesIO()
    write_avro(schema, records, buf)
    assert read_avro(buf.getvalue())[1] == records
    for value in _LONG_OUT_OF_RANGE:
        with pytest.raises(ValueError, match="long out of range"):
            write_avro(schema, [{"x": 1}, {"x": value}], io.BytesIO())


def test_write_avro_int_range():
    """Both ends of the signed 32-bit range round-trip through an
    ``int`` field; an int outside it raises instead of being written
    (a spec reader of an ``int`` rejects or truncates it), and in a
    union with a ``long`` branch it is written through that branch."""
    from daskberg_spark.iceberg.avro import read_avro, write_avro

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "x", "type": "int"}, {"name": "u", "type": ["null", "int", "long"]}],
    }
    records = [{"x": 2**31 - 1, "u": 2**31}, {"x": -(2**31), "u": -(2**31) - 1}]
    buf = io.BytesIO()
    write_avro(schema, records, buf)
    assert read_avro(buf.getvalue())[1] == records
    for value in _INT_OUT_OF_RANGE:
        with pytest.raises(ValueError, match="int out of range"):
            write_avro(schema, [{"x": 1, "u": None}, {"x": value, "u": None}], io.BytesIO())
    union = ["null", "int", "long"]
    for value, branch in [(2**31 - 1, 1), (2**31, 2), (-(2**31) - 1, 2)]:
        for encoded in _generated_and_oracle(union, value):
            assert encoded[0] == 2 * branch, (value, encoded)  # zigzag index


@settings(max_examples=60, deadline=None)
@given(_schema_and_records(), st.data())
def test_projected_decoders_match_decode(sr, data):
    """Over random schemas, ``_compile_decoder(wanted=…)`` and
    ``_compile_columnar_decoder(wanted=…)`` equal ``_decode``'s records
    restricted to the kept fields, and end where it ends."""
    from daskberg_spark.iceberg import avro as A

    schema, records = sr
    fields = [f["name"] for f in schema["fields"]]
    keep = data.draw(st.sets(st.sampled_from(fields)))
    names: dict = {}
    A._register_names(schema, names)
    buf = bytearray()
    for r in records:
        A._encode(schema, r, buf, names)
    blob = bytes(buf)
    bio = io.BytesIO(blob)
    full = [A._decode(schema, bio, names) for _ in records]
    dec = A._compile_decoder(schema, names, wanted=keep)
    cols, row = A._compile_columnar_decoder(schema, names, wanted=keep)
    got, pos, cpos = [], 0, 0
    for _ in records:
        rec, pos = dec(blob, pos)
        got.append(rec)
        cpos = row(blob, cpos)
    assert pos == cpos == len(blob)
    assert got == [{k: r[k] for k in fields if k in keep} for r in full]
    assert cols == {k: [r[k] for r in full] for k in fields if k in keep}


def test_skipper_negative_count_block_and_enum_index():
    """A projected-away array written as a negative-count block (count,
    then byte size) is skipped by its size; a projected-away enum with
    an index outside its symbols raises like the decoders."""
    from daskberg_spark.iceberg.avro import _compile_decoder, _decode

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": {"type": "array", "items": "long"}},
            {"name": "e", "type": {"type": "enum", "name": "e", "symbols": ["A", "B"]}},
            {"name": "k", "type": "long"},
        ],
    }
    data = b"\x03\x04\x02\x04\x00\x02\x06"  # a=[1, 2] in one -2 block, e=B, k=3
    assert _decode(schema, io.BytesIO(data), {}) == {"a": [1, 2], "e": "B", "k": 3}
    dec = _compile_decoder(schema, {}, wanted={"k"})
    assert dec(data, 0) == ({"k": 3}, len(data))
    with pytest.raises(ValueError, match="enum index 2"):
        dec(data[:5] + b"\x04\x06", 0)


# -- per-schema decoder memo --------------------------------------------------


def _legacy_records(data: bytes) -> list:
    """Decode a container through the dispatching ``_decode`` with a
    header parsed here — the memo-free reference for the compiled path."""
    from daskberg_spark.iceberg import avro as A

    buf = io.BytesIO(data)
    assert buf.read(4) == A.MAGIC
    meta = {}
    while (n := A._read_long(buf)) != 0:
        if n < 0:
            A._read_long(buf)
            n = -n
        for _ in range(n):
            key = A._read_bytes(buf).decode("utf-8")
            meta[key] = A._read_bytes(buf)
    sync = buf.read(16)
    schema = json.loads(meta["avro.schema"])
    names: dict = {}
    A._register_names(schema, names)
    codec = meta.get("avro.codec", b"null").decode()
    out = []
    while buf.tell() < len(data):
        count = A._read_long(buf)
        block = buf.read(A._read_long(buf))
        payload = io.BytesIO(A._decompress_block(block, codec))
        out.extend(A._decode(schema, payload, names) for _ in range(count))
        assert buf.read(16) == sync
    return out


def _columnar_records(data: bytes, wanted) -> dict:
    """Decode a container through the columnar row function."""
    from daskberg_spark.iceberg import avro as A

    buf = io.BytesIO(data)
    _meta, raw, codec, sync = A._parse_header(buf)
    cols, row = A._compile_columnar_decoder(*A._load_schema(raw), wanted=wanted)
    for count, block in A._blocks(buf, codec, sync, buf.tell(), 2**62):
        pos = 0
        for _ in range(count):
            pos = row(block, pos)
        assert pos == len(block)
    return cols


@settings(max_examples=60, deadline=None)
@given(_schema_and_records(), st.sampled_from(["null", "deflate", "snappy"]))
def test_decoder_memo_miss_then_hit_matches_legacy(sr, codec):
    """The same container decoded twice — first a memo miss that
    compiles, then a hit that reuses the compiled decoder — yields the
    legacy ``_decode`` records both times."""
    from daskberg_spark.iceberg import avro as A

    schema, records = sr
    buf = io.BytesIO()
    write_avro(schema, records, buf, codec=codec)
    data = buf.getvalue()
    A._memo.clear()
    meta, first = read_avro(data)
    compiled = A._memo[meta["avro.schema"]]
    _, second = read_avro(data)
    assert A._memo[meta["avro.schema"]] is compiled
    legacy = _legacy_records(data)
    assert first == legacy
    assert second == legacy
    assert legacy == records
    names = [f["name"] for f in schema["fields"]]
    for keep in (names, names[::2]):
        assert _columnar_records(data, set(keep)) == {
            n: [r[n] for r in legacy] for n in keep
        }


def test_decoder_memo_same_schema_distinct_payloads(tmp_path):
    """Files sharing one schema share its compiled decoder, yet each
    decodes to its own records."""
    from daskberg_spark.iceberg import avro as A

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "k", "type": "long"},
            {"name": "s", "type": ["null", "string"]},
            {"name": "xs", "type": {"type": "array", "items": "int"}},
        ],
    }
    rows = {
        "a": [{"k": i, "s": f"a{i}", "xs": [i]} for i in range(30)],
        "b": [{"k": -i, "s": None, "xs": [i, i]} for i in range(7)],
    }
    paths = {}
    for name, recs in rows.items():
        paths[name] = str(tmp_path / f"{name}.avro")
        A.write_avro_file(paths[name], schema, recs)
    A._memo.clear()
    for _ in range(2):  # a miss, then a hit
        for name, recs in rows.items():
            assert A.read_avro_file(paths[name])[1] == recs
    # one compiled decoder serves both files
    assert len(A._memo) == 1


def test_decoder_memo_is_bounded():
    """More distinct schemas than the bound never grow the memo past it,
    and every file still decodes to its own records."""
    from daskberg_spark.iceberg import avro as A

    A._memo.clear()
    for i in range(A._MEMO_MAX + 10):
        schema = {
            "type": "record",
            "name": f"r{i}",
            "fields": [{"name": f"f{i}", "type": "long"}],
        }
        buf = io.BytesIO()
        write_avro(schema, [{f"f{i}": i}], buf)
        assert read_avro(buf.getvalue())[1] == [{f"f{i}": i}]
        assert len(A._memo) <= A._MEMO_MAX


def test_decoder_memo_shared_by_threads():
    """Reader threads (the statistics chains decode manifests on a pool)
    share the lock-free memo: with eight threads, a tiny switch
    interval and more schemas than the bound — so clears race lookups —
    every decode still returns its own file's records."""
    import sys
    import threading

    from daskberg_spark.iceberg import avro as A

    blobs = []
    for i in range(A._MEMO_MAX + 16):
        schema = {
            "type": "record",
            "name": f"r{i}",
            "fields": [{"name": "k", "type": "long"}, {"name": f"f{i}", "type": "string"}],
        }
        recs = [{"k": i * 100 + j, f"f{i}": f"v{i}.{j}"} for j in range(5)]
        buf = io.BytesIO()
        write_avro(schema, recs, buf)
        blobs.append((buf.getvalue(), recs))
    errors: list = []

    def work(offset: int) -> None:
        try:
            for r in range(3):
                for j in range(len(blobs)):
                    data, recs = blobs[(j * 7 + offset + r) % len(blobs)]
                    if read_avro(data)[1] != recs:
                        errors.append((offset, j))
        except Exception as exc:  # surfaced by the assertion below
            errors.append(exc)

    A._memo.clear()
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(A._memo) <= A._MEMO_MAX + len(threads)


# -- generated decoder: corrupt input and hostile or deep schemas -------------


def _both_decoders(schema, data: bytes, names=None):
    """Decode one value through the generated decoder and the legacy
    ``_decode``; each result is the value or the exception raised."""
    from daskberg_spark.iceberg import avro as A

    if names is None:
        names = {}
        A._register_names(schema, names)
    out = []
    for run in (
        lambda: A._compile_decoder(schema, names)(data, 0)[0],
        lambda: A._decode(schema, io.BytesIO(data), names),
    ):
        try:
            out.append(run())
        except Exception as exc:  # compared by the caller
            out.append(exc)
    return out


@pytest.mark.parametrize(
    "schema, data",
    [
        (["null", "long"], b"\x01\x02"),  # branch -1
        (["null", "long"], b"\x04\x02"),  # branch 2 of 2
        (["long", "null"], b"\x01"),  # branch -1, null second
        (["null", "long", "string"], b"\x05\x02"),  # branch -3
        (["null", "long", "string"], b"\x06\x02"),  # branch 3 of 3
        ({"type": "enum", "name": "e", "symbols": ["A", "B"]}, b"\x01"),  # -1
        ({"type": "enum", "name": "e", "symbols": ["A", "B"]}, b"\x04"),  # 2
    ],
)
def test_out_of_range_union_and_enum_index_raise(schema, data):
    """A union or enum index outside ``[0, n)`` raises ValueError in both
    decoders instead of picking a branch or symbol by negative index."""
    got = _both_decoders(schema, data)
    assert all(isinstance(g, ValueError) for g in got), got
    assert all("outside [0, " in str(g) for g in got)


def test_out_of_range_union_index_raises_in_skipper():
    """A projected-away union field with a corrupt branch index raises
    too: the skipper checks the index like the decoders."""
    from daskberg_spark.iceberg.avro import _compile_decoder

    schema = {
        "type": "record",
        "name": "r",
        "fields": [{"name": "u", "type": ["null", "long"]}, {"name": "k", "type": "long"}],
    }
    dec = _compile_decoder(schema, {}, wanted={"k"})
    assert dec(b"\x02\x04\x06", 0) == ({"k": 3}, 3)
    with pytest.raises(ValueError, match="union index -1"):
        dec(b"\x01\x04\x06", 0)


def test_truncated_map_key_and_negative_length_raise():
    """A map key whose length runs past the buffer, and a string with a
    negative length, raise EOFError in both decoders (the generated one
    sliced them short, or moved backwards, before)."""
    schema = {"type": "map", "values": "long"}
    # one entry: key of length 5 with only 2 bytes present
    got = _both_decoders(schema, b"\x02\x0aab")
    assert all(isinstance(g, EOFError) for g in got), got
    got = _both_decoders("string", b"\x03abc")  # length -2
    assert all(isinstance(g, EOFError) for g in got), got
    # the same entry complete decodes equal in both
    assert _both_decoders(schema, b"\x02\x0aabcde\x08\x00") == [{"abcde": 4}] * 2


def test_hostile_names_and_symbols_decode_verbatim():
    """Field names and enum symbols holding quotes, newlines, braces and
    Python code decode to exactly those strings, and none of it runs:
    the generated source never contains schema text."""
    import builtins

    from daskberg_spark.iceberg import avro as A

    hostile = [
        "x'); import builtins; builtins.HOSTILE_RAN = 1; ('",
        'y"); import builtins; builtins.HOSTILE_RAN = 1; ("',
        "line\n    import builtins; builtins.HOSTILE_RAN = 1\n",
        '"""\nimport builtins; builtins.HOSTILE_RAN = 1\n"""',
        "{t} {n} {} __import__('builtins').HOSTILE_RAN",
        "\\",
    ]
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": name, "type": {"type": "enum", "name": f"e{i}", "symbols": hostile}}
            for i, name in enumerate(hostile)
        ]
        + [{"name": "m", "type": {"type": "map", "values": ["null", "string"]}}],
    }
    records = [
        {
            **{name: hostile[(i + j) % len(hostile)] for j, name in enumerate(hostile)},
            "m": {h: (None if i % 2 else h) for h in hostile[i % 3 :]},
        }
        for i in range(len(hostile))
    ]
    buf = io.BytesIO()
    write_avro(schema, records, buf)
    A._memo.clear()
    assert read_avro(buf.getvalue())[1] == records
    assert read_avro(buf.getvalue())[1] == _legacy_records(buf.getvalue())
    assert not hasattr(builtins, "HOSTILE_RAN")
    src = A._CodecSource({})
    src.func(schema)
    text = "\n".join(src.funcs.values())
    assert "HOSTILE" not in text and "import" not in text
    # nor the encoder's, and every projection's skippers
    src = A._CodecSource({})
    src.encoder(schema)
    src.func(schema, wanted={"m"})
    text = "\n".join(src.funcs.values())
    assert "HOSTILE" not in text and "import" not in text


def _deep_schema(depth: int):
    """``depth`` nested levels cycling through an array of records, a
    null-union and a map, with a leaf record at the bottom."""
    node = {
        "type": "record",
        "name": "leaf",
        "fields": [{"name": "s", "type": "string"}, {"name": "b", "type": ["null", "bytes"]}],
    }
    for level in range(depth):
        kind = level % 3
        if kind == 0:
            inner = {"type": "array", "items": node}
        elif kind == 1:
            inner = ["null", node]
        else:
            inner = {"type": "map", "values": node}
        node = {
            "type": "record",
            "name": f"lvl{level}",
            "fields": [{"name": "k", "type": "long"}, {"name": "c", "type": inner}],
        }
    return node


def _deep_value(schema, rng, names):
    """A random value of ``schema`` (the subset ``_deep_schema`` uses)."""
    if isinstance(schema, list):
        return None if rng.random() < 0.3 else _deep_value(schema[1], rng, names)
    if isinstance(schema, str):
        return {"long": lambda: rng.randint(-(2**40), 2**40),
                "string": lambda: "s" * rng.randint(0, 70),
                "bytes": lambda: bytes(rng.randint(0, 9))}[schema]()
    if schema["type"] == "record":
        return {f["name"]: _deep_value(f["type"], rng, names) for f in schema["fields"]}
    item = schema.get("items", schema.get("values"))
    n = rng.randint(0, 2)
    if schema["type"] == "array":
        return [_deep_value(item, rng, names) for _ in range(n)]
    return {f"k{j}": _deep_value(item, rng, names) for j in range(n)}


def test_deep_schema_decodes_like_legacy():
    """A schema nested 25 levels deep (arrays of records, null-unions,
    maps) compiles without SyntaxError or IndentationError and decodes
    equal to the legacy ``_decode`` through a container."""
    import random

    from daskberg_spark.iceberg import avro as A

    schema = _deep_schema(25)
    names: dict = {}
    A._register_names(schema, names)
    rng = random.Random(7)
    records = [_deep_value(schema, rng, names) for _ in range(40)]
    buf = io.BytesIO()
    write_avro(schema, records, buf)
    A._memo.clear()
    got = read_avro(buf.getvalue())[1]
    assert got == records
    assert got == _legacy_records(buf.getvalue())


def test_columnar_reader_compiles_once(tmp_path, monkeypatch):
    """A columnar reader over a wide record generates one source and
    compiles it once, not once per kept field."""
    from daskberg_spark.iceberg import avro as A

    schema = {
        "type": "record",
        "name": "wide",
        "fields": [{"name": f"c{i}", "type": ["null", "long"]} for i in range(40)],
    }
    rows = [
        {f"c{i}": None if (i + j) % 3 == 0 else i * j for i in range(40)}
        for j in range(5)
    ]
    path = str(tmp_path / "wide.avro")
    with open(path, "wb") as f:
        write_avro(schema, rows, f)
    calls = []

    def counting(*args, **kwargs):
        calls.append(args[1])
        return compile(*args, **kwargs)

    monkeypatch.setattr(A, "compile", counting, raising=False)
    for columns in (None, ["c0", "c7", "c39"]):
        calls.clear()
        cols, nrows, _ = A.read_avro_range_columns(
            path, 0, os.path.getsize(path), columns=columns
        )
        assert calls == ["<avro codec>"]
        assert nrows == 5
        keep = columns or [f"c{i}" for i in range(40)]
        assert cols == {c: [r[c] for r in rows] for c in keep}
