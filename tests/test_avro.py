"""Avro container reader/writer unit tests (Spark-free, SURVEY §7 M1)."""

from __future__ import annotations

import glob
import io
import json

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
        read_avro_range,
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
            _, recs, _ = read_avro_range(path, s, min(s + step, size))
            got.extend(r["k"] for r in recs)
        assert sorted(got) == list(range(400)), n_splits
        # positional variant must agree too
        got_pos = []
        for s in range(0, size, step):
            _, recs, off = read_avro_range(
                path, s, min(s + step, size), want_row_offset=True
            )
            got_pos.extend((off + i, r["k"]) for i, r in enumerate(recs))
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
        read_avro_range,
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
            _, recs, off = read_avro_range(
                path, boff, end, known_block=(boff, roff)
            )
            assert off == roff
            got.extend((off + i, r["k"]) for i, r in enumerate(recs))
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


def test_compiled_encoder_matches_generic():
    """The compiled flat-record encoder (the distributed AVRO write
    leg's fast path) must produce BYTE-IDENTICAL containers to the
    generic recursive ``_encode`` across every compilable shape —
    null unions on both branch orders, logical wrappers, all
    primitives — and nested schemas must fall back (compile → None)."""
    import io
    import random

    import daskberg_spark.iceberg.avro as A

    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": ["null", "long"], "default": None},
            {
                "name": "b",
                "type": [
                    "null",
                    {"type": "long", "logicalType": "timestamp-micros"},
                ],
                "default": None,
            },
            {"name": "rev", "type": ["string", "null"]},  # null second
            {"name": "c", "type": ["null", "double"], "default": None},
            {"name": "e", "type": "boolean"},
            {"name": "f", "type": ["null", "bytes"], "default": None},
            {"name": "g", "type": "int"},
            {"name": "h", "type": "float"},
        ],
    }
    rng = random.Random(3)
    recs = [
        {
            "a": None if i % 7 == 0 else rng.randint(-(2**62), 2**62),
            "b": rng.randint(0, 2**50),
            "rev": None if i % 11 == 0 else f"r{i}",
            "c": None if i % 5 == 0 else rng.random(),
            "e": i % 2 == 0,
            "f": None if i % 4 == 0 else bytes([i % 256]) * (i % 9),
            "g": i - 500,
            "h": float(i) / 3,
        }
        for i in range(2000)
    ]
    fast, slow = io.BytesIO(), io.BytesIO()
    assert A.compile_record_encoder(schema, {}) is not None
    A.write_avro(schema, recs, fast)
    orig = A.compile_record_encoder
    A.compile_record_encoder = lambda s, n: None
    try:
        A.write_avro(schema, recs, slow)
    finally:
        A.compile_record_encoder = orig
    assert fast.getvalue() == slow.getvalue()
    # nested shapes (manifest schemas) must NOT compile
    nested = {
        "type": "record",
        "name": "m",
        "fields": [
            {
                "name": "part",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            }
        ],
    }
    assert A.compile_record_encoder(nested, {}) is None
    # missing required field still raises through the fast path
    import pytest as _pytest

    bad = io.BytesIO()
    with _pytest.raises(KeyError):
        A.write_avro(schema, [{"a": 1}], bad)


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
