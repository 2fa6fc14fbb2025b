"""Apache Avro object-container-file codec, pure Python.

Implements the subset of the Avro 1.x spec that Iceberg manifest lists,
manifests and AVRO data files use: records, unions, enums, fixed,
arrays, maps and the primitive types, with ``null``, ``deflate``,
``snappy`` (pure-Python raw codec + CRC) and ``zstd`` (through the Spark
JVM's bundled zstd-jni) block codecs.  The reference implementation
reads manifests with fastavro; this package has no such dependency.

Container layout (Avro spec "Object Container Files"):

    magic 'Obj\\x01'
    file-metadata map<string, bytes>   (avro.schema JSON, avro.codec)
    16-byte sync marker
    repeat: <count: long> <size: long> <block bytes> <sync marker>

All integers are zigzag varints.  ``deflate`` blocks are raw-DEFLATE
(zlib with no header, wbits=-15).

One generator, :class:`_CodecSource`, turns a schema into Python source
for its decoder, its skippers (projected-away fields) and its encoder;
manifest decoders and all encoders compile once per distinct schema.  The reader decodes every
manifest the planner opens and the writer encodes every commit's
manifest, manifest list and AVRO data file through it.  ``_decode`` and
``_encode`` dispatch on the schema per value and stay as test oracles.
"""

from __future__ import annotations

import io
import itertools
import json
import struct
import zlib
from typing import Any, BinaryIO

MAGIC = b"Obj\x01"

# ---------------------------------------------------------------------------
# primitive decode


def _read_long(buf: io.BytesIO) -> int:
    """Zigzag varint decode."""
    shift = 0
    accum = 0
    while True:
        byte = buf.read(1)
        if not byte:
            raise EOFError("truncated varint")
        b = byte[0]
        accum |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1)


def _read_bytes(buf: io.BytesIO) -> bytes:
    n = _read_long(buf)
    data = buf.read(n)
    if len(data) != n:
        raise EOFError("truncated bytes")
    return data


def _skip_to_named(schema: Any, names: dict[str, Any]) -> Any:
    """Resolve a named-type reference string to its definition."""
    if isinstance(schema, str) and schema in names:
        return names[schema]
    return schema


def _register_names(schema: Any, names: dict[str, Any]) -> None:
    """Walk a parsed schema registering record/enum/fixed names — under
    BOTH the bare name and the namespace-qualified fullname: the Avro
    spec says references use the fullname, so a foreign schema declaring
    {'name': 'r2', 'namespace': 'org.x'} and referencing 'org.x.r2'
    must resolve (bare-name-only registration made such spec-legal
    files unreadable)."""
    if isinstance(schema, dict):
        t = schema.get("type")
        if t in ("record", "enum", "fixed") and "name" in schema:
            names[schema["name"]] = schema
            ns = schema.get("namespace")
            if ns:
                names[f"{ns}.{schema['name']}"] = schema
        if t == "record":
            for field in schema.get("fields", []):
                _register_names(field["type"], names)
        elif t == "array":
            _register_names(schema.get("items"), names)
        elif t == "map":
            _register_names(schema.get("values"), names)
    elif isinstance(schema, list):
        for s in schema:
            _register_names(s, names)


def _index(kind: str, idx: int, n: int) -> int:
    """A union branch or enum symbol index, checked against ``[0, n)``:
    on corrupt input Python's negative indexing would pick one silently."""
    if 0 <= idx < n:
        return idx
    raise ValueError(f"avro {kind} index {idx} outside [0, {n})")


def _decode(schema: Any, buf: io.BytesIO, names: dict[str, Any]) -> Any:
    schema = _skip_to_named(schema, names)
    if isinstance(schema, list):  # union: zigzag branch index then value
        idx = _index("union", _read_long(buf), len(schema))
        return _decode(schema[idx], buf, names)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            return {
                f["name"]: _decode(f["type"], buf, names) for f in schema["fields"]
            }
        if t == "array":
            out = []
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:  # block with byte-size prefix
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    out.append(_decode(schema["items"], buf, names))
            return out
        if t == "map":
            out_map: dict[str, Any] = {}
            while True:
                n = _read_long(buf)
                if n == 0:
                    break
                if n < 0:
                    _read_long(buf)
                    n = -n
                for _ in range(n):
                    key = _read_bytes(buf).decode("utf-8")
                    out_map[key] = _decode(schema["values"], buf, names)
            return out_map
        if t == "fixed":
            size = schema["size"]
            data = buf.read(size)
            if len(data) != size:
                raise EOFError("truncated fixed")
            return data
        if t == "enum":
            symbols = schema["symbols"]
            return symbols[_index("enum", _read_long(buf), len(symbols))]
        # {"type": "string", ...} wrapper around a primitive
        return _decode(t, buf, names)
    # primitive
    if schema == "null":
        return None
    if schema == "boolean":
        b = buf.read(1)
        if not b:
            raise EOFError("truncated boolean")
        return b == b"\x01"
    if schema in ("int", "long"):
        return _read_long(buf)
    if schema == "float":
        return struct.unpack("<f", buf.read(4))[0]
    if schema == "double":
        return struct.unpack("<d", buf.read(8))[0]
    if schema == "bytes":
        return _read_bytes(buf)
    if schema == "string":
        return _read_bytes(buf).decode("utf-8")
    raise NotImplementedError(f"avro type {schema!r}")


def _rl(data: bytes, pos: int) -> tuple[int, int]:
    """Zigzag varint from a bytes buffer: the generated decoder's slow
    path (it inlines one-byte values, most of manifest metadata)."""
    b = data[pos]
    if b < 0x80:
        return (b >> 1) ^ -(b & 1), pos + 1
    accum = b & 0x7F
    shift = 7
    pos += 1
    while True:
        b = data[pos]
        accum |= (b & 0x7F) << shift
        pos += 1
        if not (b & 0x80):
            break
        shift += 7
    return (accum >> 1) ^ -(accum & 1), pos


_COMPLEX = ("record", "array", "map", "fixed", "enum")


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """The schema a value decodes as: named references and wrappers resolved."""
    while True:
        schema = _skip_to_named(schema, names)
        if not isinstance(schema, dict) or schema["type"] in _COMPLEX:
            return schema
        schema = schema["type"]


# Line templates of the generated code.  ``{t}`` is the target local and
# ``{x}`` the source local; ``end`` is a scratch local that never outlives
# its template.  A one-byte varint decodes by table lookup (~15% faster
# decode than the arithmetic) and encodes as one ``append``.
_ZIGZAG = tuple((b >> 1) ^ -(b & 1) for b in range(128))
_VARINT = """\
{t} = data[pos]
if {t} < 128:
    pos += 1
    {t} = _zigzag[{t}]
else:
    {t}, pos = _rl(data, pos)
"""
_SLICE = """\
if not pos <= end <= len(data):
    raise EOFError("truncated {what}")
{t} = data[pos:end]{decode}
pos = end
"""
_BLOB = _VARINT.format(t="end") + "end += pos\n" + _SLICE
_BLOCK = """\
    if {n} == 0:
        break
    if {n} < 0:
        _, pos = _rl(data, pos)
        {n} = -{n}
    for _ in range({n}):
"""
_IN_RANGE = """\
if not 0 <= {t} < {n}:
    _index("{kind}", {t}, {n})
"""
_SKIP_VARINT = """\
while data[pos] & 128:
    pos += 1
pos += 1
"""
# a negative count carries the block's byte size: skipped in O(1)
_SKIP_BLOCK = """\
    if {n} == 0:
        break
    if {n} < 0:
        {n}, pos = _rl(data, pos)
        pos += {n}
        continue
    for _ in range({n}):
"""
_PUT_LONG = """\
{z} = ({x} << 1) ^ ({x} >> 63)
if {z} >> 64:
    raise ValueError("long out of range: %d" % {x})
while {z} > 127:
    out.append({z} & 127 | 128)
    {z} >>= 7
out.append({z})
"""
_PUT_INT = """\
if not -2147483648 <= {x} <= 2147483647:
    raise ValueError("int out of range: %d" % {x})
""" + _PUT_LONG
_PUT_FIXED = """\
if len({x}) != {size}:
    raise ValueError("fixed({size}) value has %d bytes" % len({x}))
out.extend({x})
"""
# ``table`` maps each exact Python type to ``_union_branch``'s choice for
# it; any other type (a subclass, or one no branch takes) asks it directly
_PUT_UNION = """\
{b} = {table}.get(type({x}))
if {b} is None:
    {b} = _union_branch({schemas}, {x}, _names)
"""

# bytes a fixed-width primitive occupies (the skipper's ``pos += n``)
_WIDTHS = {"null": 0, "boolean": 1, "float": 4, "double": 8}


def _emit(out: list[str], ind: str, template: str, **kw: Any) -> None:
    out.extend(ind + line for line in template.format(**kw).splitlines())


class _CodecSource:
    """Python source for one schema's codec: decoders, skippers and
    encoders, compiled together by :meth:`build`.  A decoder or encoder
    is one function per record type (a recursive type calls itself) and
    a decoder also one per array/map item that loops itself; a skipper
    is one function per distinct resolved type; everything else is
    inline.  Schema text never reaches the source: field names, enum
    symbols, defaults and union tables are namespace constants, and
    every identifier comes from a counter."""

    def __init__(self, names: dict[str, Any]):
        self.names = names
        self.ns: dict[str, Any] = {
            "_rl": _rl,
            "_zigzag": _ZIGZAG,
            "_index": _index,
            "_float": struct.Struct("<f").unpack_from,
            "_double": struct.Struct("<d").unpack_from,
            "_wl": _write_long,
            "_pf": struct.Struct("<f").pack,
            "_pd": struct.Struct("<d").pack,
            "_union_branch": _union_branch,
            "_names": names,
        }
        self.funcs: dict[str, str] = {}
        self.records: dict[int, str] = {}
        self.encoders: dict[int, str] = {}
        self.skippers: dict[str, str] = {}
        self.nvars = 0

    def const(self, value: Any) -> str:
        self.ns[f"_c{len(self.ns)}"] = value
        return f"_c{len(self.ns) - 1}"

    def var(self) -> str:
        self.nvars += 1
        return f"v{self.nvars}"

    def reserve(self, prefix: str) -> str:
        """A fresh function name, reserved before its body is emitted
        (nested functions follow it)."""
        name = f"{prefix}{len(self.funcs)}"
        self.funcs[name] = ""
        return name

    def build(self, top: str):
        """Compile every emitted function with ONE ``compile()``; return
        the function named ``top``."""
        exec(compile("\n\n".join(self.funcs.values()), "<avro codec>", "exec"), self.ns)
        return self.ns[top]

    # -- decode -------------------------------------------------------------

    def func(self, schema: Any, wanted: Any = None) -> str:
        """Emit a ``(data, pos) -> (value, pos)`` function for ``schema``
        and return its name; ``wanted`` projects a record's fields."""
        s = _resolve(schema, self.names)
        record = isinstance(s, dict) and s["type"] == "record"
        memo = record and wanted is None
        if memo and id(s) in self.records:
            return self.records[id(s)]
        name = self.reserve("_f")
        if memo:  # registered first, so a recursive type calls itself
            self.records[id(s)] = name
        body: list[str] = []
        if not record:
            out = self.var()
            self.value(s, out, body, "")
        else:
            kept = self.fields(s, wanted, body)
            out = "{" + ", ".join(f"{self.const(n)}: {v}" for n, v in kept) + "}"
        self.funcs[name] = "\n    ".join(
            [f"def {name}(data, pos):", *body, f"return {out}, pos"]
        )
        return name

    def fields(
        self, record: dict, wanted: Any, body: list[str]
    ) -> list[tuple[str, str]]:
        """Emit lines decoding ``record``'s fields in order — kept ones
        (``wanted`` None keeps all) into fresh locals, the others through
        skippers — and return the kept (field name, local) pairs."""
        kept = []
        skipped: list[str] = []  # skippers since the last kept field
        for f in record["fields"]:
            if wanted is None or f["name"] in wanted:
                self.skips(skipped, body)
                v = self.var()
                self.value(f["type"], v, body, "")
                kept.append((f["name"], v))
            else:
                skipped.append(self.skipper(f["type"]))
        self.skips(skipped, body)
        return kept

    @staticmethod
    def skips(skipped: list[str], body: list[str]) -> None:
        """Emit the calls for a run of skipped fields and empty the run:
        consecutive fields of one type share a loop (each emitted line
        costs ``compile()`` ~12 us on a 4-vCPU host; 38 of 40 fields
        skipped is common)."""
        for name, group in itertools.groupby(skipped):
            call = f"pos = {name}(data, pos)"
            n = len(list(group))
            body.extend([f"for _ in range({n}):", "    " + call] if n > 1 else [call])
        skipped.clear()

    def loops(self, schema: Any) -> bool:
        """Whether ``schema`` decodes inline with a loop of its own."""
        s = _resolve(schema, self.names)
        if isinstance(s, list):
            return any(self.loops(b) for b in s)
        return isinstance(s, dict) and s["type"] in ("array", "map")

    def value(self, schema: Any, t: str, out: list[str], ind: str) -> None:
        """Emit lines at indent ``ind`` decoding one ``schema`` value
        into local ``t``."""
        s = _resolve(schema, self.names)
        kind = s["type"] if isinstance(s, dict) else s

        def emit(template: str, **kw: Any) -> None:
            _emit(out, ind, template, t=t, **kw)

        if isinstance(s, list):
            i = self.var()
            self.value("long", i, out, ind)
            for k, branch in enumerate(s):
                out.append(f"{ind}{'el' if k else ''}if {i} == {k}:")
                self.value(branch, t, out, ind + "    ")
            emit('else:\n    _index("union", {i}, {n})', i=i, n=len(s))
        elif kind == "record":
            emit("{t}, pos = {f}(data, pos)", f=self.func(s))
        elif kind in ("array", "map"):
            item = s["items"] if kind == "array" else s["values"]
            n, key, x = self.var(), self.var(), self.var()
            emit("{t} = {empty}\nwhile True:", empty="[]" if kind == "array" else "{}")
            self.value("long", n, out, ind + "    ")
            emit(_BLOCK, n=n)
            inner = ind + "        "
            if kind == "map":
                self.value("string", key, out, inner)
            if self.loops(item):
                out.append(f"{inner}{x}, pos = {self.func(item)}(data, pos)")
            else:
                self.value(item, x, out, inner)
            store = f"{t}.append({x})" if kind == "array" else f"{t}[{key}] = {x}"
            out.append(inner + store)
        elif kind == "fixed":
            # a short slice would feed wrong bytes into pruning bounds
            size = int(s["size"])
            emit("end = pos + {size}\n" + _SLICE, size=size, what="fixed", decode="")
        elif kind == "enum":
            symbols = self.const(tuple(s["symbols"]))
            emit(_VARINT + _IN_RANGE + "{t} = {symbols}[{t}]",
                 kind="enum", n=len(s["symbols"]), symbols=symbols)
        elif kind == "null":
            emit("{t} = None")
        elif kind == "boolean":
            emit("{t} = data[pos] == 1\npos += 1")
        elif kind in ("int", "long"):
            emit(_VARINT)
        elif kind == "float":
            emit("{t} = _float(data, pos)[0]\npos += 4")
        elif kind == "double":
            emit("{t} = _double(data, pos)[0]\npos += 8")
        elif kind in ("bytes", "string"):
            emit(_BLOB, what="bytes", decode=".decode()" if kind == "string" else "")
        else:
            raise NotImplementedError(f"avro type {s!r}")

    # -- skip ---------------------------------------------------------------

    def skipper(self, schema: Any) -> str:
        """Emit a ``(data, pos) -> pos`` function that advances past one
        ``schema`` value without building it — what column projection
        uses so unwanted fields cost no decode — and return its name.
        One function per distinct resolved type: 38 projected-away
        fields of one type share it."""
        s = _resolve(schema, self.names)
        key = repr(s)  # equal text, equal type
        if key in self.skippers:
            return self.skippers[key]
        name = self.skippers[key] = self.reserve("_s")
        body: list[str] = []
        if isinstance(s, dict) and s["type"] == "record":
            for f in s["fields"]:
                self.skip(f["type"], body, "")
        else:
            self.skip(s, body, "")
        self.funcs[name] = "\n    ".join([f"def {name}(data, pos):", *body, "return pos"])
        return name

    def skip(self, schema: Any, out: list[str], ind: str) -> None:
        """Emit lines at indent ``ind`` advancing ``pos`` past one
        ``schema`` value; union and enum indexes are range-checked like
        the decoder's."""
        s = _resolve(schema, self.names)
        kind = s["type"] if isinstance(s, dict) else s
        if isinstance(s, list):
            i = self.var()
            self.value("long", i, out, ind)
            _emit(out, ind, _IN_RANGE, t=i, kind="union", n=len(s))
            el = ""
            for k, branch in enumerate(s):
                body: list[str] = []
                self.skip(branch, body, ind + "    ")
                if body:
                    out.append(f"{ind}{el}if {i} == {k}:")
                    out.extend(body)
                    el = "el"
        elif kind == "record":
            out.append(f"{ind}pos = {self.skipper(s)}(data, pos)")
        elif kind in ("array", "map"):
            n = self.var()
            out.append(f"{ind}while True:")
            self.value("long", n, out, ind + "    ")
            _emit(out, ind, _SKIP_BLOCK, n=n)
            inner = ind + "        "
            body = []
            if kind == "map":
                self.skip("string", body, inner)
            self.skip(s["items"] if kind == "array" else s["values"], body, inner)
            out.extend(body or [inner + "pass"])
        elif kind == "enum":
            i = self.var()
            self.value("long", i, out, ind)
            _emit(out, ind, _IN_RANGE, t=i, kind="enum", n=len(s["symbols"]))
        elif kind in ("int", "long"):
            _emit(out, ind, _SKIP_VARINT)
        elif kind in ("bytes", "string"):
            n = self.var()
            self.value("long", n, out, ind)
            out.append(f"{ind}pos += {n}")
        elif kind in _WIDTHS:
            if _WIDTHS[kind]:
                out.append(f"{ind}pos += {_WIDTHS[kind]}")
        elif kind == "fixed":
            out.append(f"{ind}pos += {int(s['size'])}")
        else:
            raise NotImplementedError(f"avro type {s!r}")

    # -- encode -------------------------------------------------------------

    def encoder(self, schema: Any) -> str:
        """Emit a ``(v, out) -> None`` function appending the encoding of
        one ``schema`` value ``v`` to bytearray ``out``; return its name."""
        s = _resolve(schema, self.names)
        record = isinstance(s, dict) and s["type"] == "record"
        if record and id(s) in self.encoders:
            return self.encoders[id(s)]
        name = self.reserve("_e")
        body: list[str] = []
        if not record:
            self.put(s, "v", body, "")
        else:
            self.encoders[id(s)] = name  # before the fields: recursion
            for f in s["fields"]:
                x, key = self.var(), self.const(f["name"])
                get = f"v[{key}]"  # KeyError if absent: schema demands it
                if "default" in f:
                    get += f" if {key} in v else {self.const(f['default'])}"
                body.append(f"{x} = {get}")
                self.put(f["type"], x, body, "")
        self.funcs[name] = "\n    ".join([f"def {name}(v, out):", *(body or ["pass"])])
        return name

    def put(self, schema: Any, x: str, out: list[str], ind: str) -> None:
        """Emit lines at indent ``ind`` appending local ``x`` encoded as
        ``schema`` to ``out`` — the bytes and errors of ``_encode``."""
        s = _resolve(schema, self.names)
        kind = s["type"] if isinstance(s, dict) else s

        def emit(template: str, **kw: Any) -> None:
            _emit(out, ind, template, x=x, **kw)

        if isinstance(s, list):
            table = {}
            for py in (type(None), *_UNION_TYPE_MATCH):
                try:  # the choice depends on the value's type alone
                    table[py] = _union_branch(s, py(), self.names)
                except ValueError:  # raised again, with the value, at run time
                    pass
            if {"int", "long"} <= set(_branch_kinds(s, self.names)):
                del table[int]  # ...but an int's on its range too
            b = self.var()
            emit(_PUT_UNION, b=b, table=self.const(table), schemas=self.const(s))
            for k, branch in enumerate(s):
                out.append(f"{ind}{'el' if k else ''}if {b} == {k}:")
                index = f"out.append({2 * k})" if k < 64 else f"_wl(out, {k})"
                out.append(f"{ind}    {index}")
                self.put(branch, x, out, ind + "    ")
        elif kind == "record":
            emit("{f}({x}, out)", f=self.encoder(s))
        elif kind in ("array", "map"):
            n, k, v = self.var(), self.var(), self.var()
            emit("if {x}:\n    {n} = len({x})", n=n)
            self.put("long", n, out, ind + "    ")
            inner = ind + "        "
            if kind == "array":
                emit("    for {v} in {x}:", v=v)
                body: list[str] = []
                self.put(s["items"], v, body, inner)
                out.extend(body or [inner + "pass"])
            else:
                emit("    for {k}, {v} in {x}.items():", k=k, v=v)
                self.put("string", k, out, inner)
                self.put(s["values"], v, out, inner)
            emit("out.append(0)")
        elif kind == "fixed":
            emit(_PUT_FIXED, size=int(s["size"]))
        elif kind == "enum":
            emit("_wl(out, {symbols}.index({x}))", symbols=self.const(list(s["symbols"])))
        elif kind == "null":
            pass
        elif kind == "boolean":
            emit("out.append(1 if {x} else 0)")
        elif kind == "int":
            emit(_PUT_INT, z=self.var())
        elif kind == "long":
            emit(_PUT_LONG, z=self.var())
        elif kind == "float":
            emit("out.extend(_pf({x}))")
        elif kind == "double":
            emit("out.extend(_pd({x}))")
        elif kind == "bytes":
            n = self.var()
            emit("{n} = len({x})", n=n)
            self.put("long", n, out, ind)
            emit("out.extend({x})")
        elif kind == "string":
            y = self.var()
            emit("{y} = {x}.encode()", y=y)
            self.put("bytes", y, out, ind)
        else:
            raise NotImplementedError(f"avro type {s!r}")


def _compile_decoder(schema: Any, names: dict[str, Any], wanted: Any = None):
    """Compile an Avro schema ONCE into a ``(data, pos) -> (value, pos)``
    decoder: Python source generated from the schema (one function per
    record type; varints with an inline one-byte fast path, unions, bytes
    and strings inline), instead of re-dispatching on the schema dict per
    field of every record like ``_decode``, the test oracle.  The 150
    manifests of a 150-commit table decode in ~18 ms through it, ~35 ms
    through the closure chain it replaced (one call and one tuple per
    field; 4-vCPU host); compiling the manifest schema costs ~4 ms.

    ``wanted`` (a set of field names, or None for all) projects the
    TOP-LEVEL record: unwanted fields call generated skippers that never
    materialize values."""
    src = _CodecSource(names)
    return src.build(src.func(schema, wanted))


def _compile_encoder(schema: Any, names: dict[str, Any]):
    """Compile an Avro schema ONCE into a ``(value, out) -> None``
    encoder that appends to a bytearray: the generated counterpart of
    ``_encode``, the test oracle, with the same bytes and the same
    errors (``ValueError`` for a wrong-length fixed value or an unknown
    enum symbol, ``KeyError`` for a missing field with no default)."""
    src = _CodecSource(names)
    return src.build(src.encoder(schema))


# Every manifest of a table shares one Avro schema, and a compiled codec
# is a pure function of its schema: memoised by the raw ``avro.schema``
# bytes, the schema parses and compiles once instead of once per file
# (compiling a manifest schema's decoder takes ~4 ms, the decode of one
# 8-entry manifest ~0.1 ms; 4-vCPU host).  A memo holds code, never
# data.  Bounded; a full memo is cleared, not iterated, so threads share
# it without a lock.  ``_memo`` holds decoders, ``_encoders`` encoders.
_MEMO_MAX = 64
_memo: dict[bytes, Any] = {}
_encoders: dict[bytes, Any] = {}


def _memoised(memo: dict[bytes, Any], raw: bytes, compile_schema):
    """``compile_schema``'s function for schema bytes ``raw``, memoised."""
    fn = memo.get(raw)
    if fn is None:
        fn = compile_schema(*_load_schema(raw))
        if len(memo) >= _MEMO_MAX:
            memo.clear()
        memo[raw] = fn
    return fn


def _parse_header(buf) -> tuple[dict[str, bytes], bytes, str, bytes]:
    """Container header → (metadata, raw schema bytes, codec, sync)."""
    if buf.read(4) != MAGIC:
        raise ValueError("not an Avro object container file")
    meta: dict[str, bytes] = {}
    while True:
        n = _read_long(buf)
        if n == 0:
            break
        if n < 0:
            _read_long(buf)
            n = -n
        for _ in range(n):
            key = _read_bytes(buf).decode("utf-8")
            meta[key] = _read_bytes(buf)
    sync = buf.read(16)
    codec = meta.get("avro.codec", b"null").decode()
    return meta, meta["avro.schema"], codec, sync


def _load_schema(raw: bytes) -> tuple[Any, dict[str, Any]]:
    """Schema bytes → (parsed schema, name registry)."""
    schema = json.loads(raw)
    names: dict[str, Any] = {}
    _register_names(schema, names)
    return schema, names


def _decompress_block(block: bytes, codec: str) -> bytes:
    if codec == "deflate":
        return zlib.decompress(block, -15)
    if codec == "snappy":
        # Avro spec: snappy block = compressed data + 4-byte
        # big-endian CRC32 of the UNCOMPRESSED data
        crc = int.from_bytes(block[-4:], "big")
        block = _snappy_decompress(block[:-4])
        if zlib.crc32(block) & 0xFFFFFFFF != crc:
            raise ValueError("snappy block CRC mismatch")
        return block
    if codec == "zstd":
        return _zstd_decompress(block)
    if codec != "null":
        raise NotImplementedError(f"avro codec {codec}")
    return block


def read_avro(data: bytes) -> tuple[dict[str, bytes], list[dict[str, Any]]]:
    """Decode an Avro object-container file → (file metadata, records)."""
    buf = io.BytesIO(data)
    meta, raw, codec, sync = _parse_header(buf)
    dec = _memoised(_memo, raw, _compile_decoder)
    records: list[dict[str, Any]] = []
    append = records.append
    for count, block in _blocks(buf, codec, sync, buf.tell(), 2**62):
        pos = 0
        for _ in range(count):
            rec, pos = dec(block, pos)
            append(rec)
    return meta, records


def _blocks(f, codec: str, sync: bytes, first: int, end: int):
    """``(record count, payload)`` of each block from offset ``first`` to
    the last one owned by a range ending at ``end`` (the split rule of
    :func:`read_avro_range_columns`)."""
    f.seek(first)
    while True:
        try:
            count = _read_long(f)
        except EOFError:
            return
        size = _read_long(f)
        block = f.read(size)
        if len(block) != size:
            raise EOFError("truncated block")
        yield count, _decompress_block(block, codec)
        t = f.tell()  # this block's trailing sync == next block's owner
        if f.read(16) != sync:
            raise ValueError("sync marker mismatch")
        if t >= end:
            return


def read_avro_file(path: str) -> tuple[dict[str, bytes], list[dict[str, Any]]]:
    with open(path, "rb") as f:
        return read_avro(f.read())


def _plausible_block(f, sync: bytes, block_start: int, size: int) -> bool:
    """Validate a sync-search candidate: a real block header must parse,
    fit in the file, and be followed by the trailing sync.  Record bytes
    that happen to contain the 16-byte marker fail this chain check."""
    f.seek(block_start)
    try:
        count = _read_long(f)
        bsize = _read_long(f)
    except (EOFError, ValueError):
        return False
    if count < 0 or bsize < 0:
        return False
    t = f.tell() + bsize
    if t + 16 > size:
        return False
    f.seek(t)
    return f.read(16) == sync


def _find_first_block(f, sync, start: int, end: int, size: int) -> int | None:
    """First block start whose PRECEDING sync begins in [start, end),
    located by chunked byte search (one sequential read, object-store
    friendly — no per-block seeking) with chain validation."""
    chunk = 1 << 20
    pos = start
    tail = b""
    tail_at = start
    while pos < min(end + 15, size):
        f.seek(pos)
        data = f.read(min(chunk, size - pos))
        if not data:
            break
        hay = tail + data
        base = tail_at
        off = 0
        while True:
            q = hay.find(sync, off)
            if q < 0:
                break
            absq = base + q
            if absq >= end:
                return None
            if absq >= start and _plausible_block(f, sync, absq + 16, size):
                return absq + 16
            off = q + 1
        pos += len(data)
        tail = hay[-15:]
        tail_at = pos - len(tail)
    return None


def avro_block_index(path: str) -> list[tuple[int, int]]:
    """(block_offset, first_row_offset) for every block — ONE header
    walk (seek per block, no decode).  Split planning uses this to hand
    each positional range task its block start and row offset directly:
    k tasks each re-walking the headers from the file start would do
    O(k × blocks) seeks, quadratic in file size."""
    with open(path, "rb") as f:
        _parse_header(f)
        out: list[tuple[int, int]] = []
        rows = 0
        pos = f.tell()
        f.seek(0, 2)
        size = f.tell()
        while pos < size:
            f.seek(pos)
            try:
                count = _read_long(f)
                bsize = _read_long(f)
            except EOFError:
                break
            out.append((pos, rows))
            rows += count
            pos = f.tell() + bsize + 16
        return out


def _compile_columnar_decoder(
    schema: Any, names: dict[str, Any], wanted: Any = None
) -> tuple[dict[str, list], Any]:
    """Columnar variant of :func:`_compile_decoder` for a TOP-LEVEL
    record schema: returns ``(cols, row_fn)`` where ``row_fn(data,
    pos) -> pos`` decodes one record APPENDING each kept field's value
    straight into its list in ``cols`` — no per-row dict is ever
    built, and no second per-column extraction pass runs (the two
    costs that dominate the row-oriented decode when the consumer is
    a columnar engine).  Unwanted fields compile to generated skippers.
    Decode semantics are identical by construction: the row function
    is generated by the same ``_CodecSource`` as
    ``_compile_decoder``'s record functions, with each kept field's
    local appended to its list instead of stored in a dict, and the
    whole source compiles once."""
    schema = _skip_to_named(schema, names)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("columnar decode requires a top-level record")
    src = _CodecSource(names)
    body: list[str] = []
    cols: dict[str, list] = {}
    for name, v in src.fields(schema, wanted, body):
        cols[name] = []
        body.append(f"{src.const(cols[name].append)}({v})")
    src.funcs["_row"] = "\n    ".join(["def _row(data, pos):", *body, "return pos"])
    return cols, src.build("_row")


def read_avro_range_columns(
    path: str,
    start: int,
    end: int,
    want_row_offset: bool = False,
    known_block: tuple[int, int] | None = None,
    columns: Any = None,
) -> tuple[dict[str, list], int, int]:
    """Decode the container blocks OWNED by byte range ``[start, end)``
    into columns.

    A block is owned iff the 16-byte sync marker that precedes it begins
    at a position ``q`` with ``start <= q < end`` — the Hadoop split
    rule, so any partition of ``[0, file_size)`` decodes every record
    exactly once with no cross-task coordination.  Returns ``(cols,
    nrows, row_offset)``: ``cols`` maps each present and wanted field
    name (``columns``, None for all) to a Python list of values, ready
    for ``pyarrow.array`` construction in the data scan's ``mapInArrow``
    leg (fields absent from the file schema are absent keys; the caller
    null-fills); ``row_offset`` is the number of records in earlier
    blocks (0 unless ``want_row_offset`` or ``known_block``).

    ``want_row_offset`` — needed when rows must carry their whole-file
    position (delete alignment) — walks the preceding block HEADERS
    (seek per block, no decode/decompress), which is also an exact,
    collision-proof block chain; the positionless path instead does one
    sequential sync search from ``start`` (object-store friendly), with
    candidates validated against the block chain so record bytes that
    contain the marker cannot derail the scan.

    ``known_block=(block_offset, row_offset)`` — from a prior
    :func:`avro_block_index` pass — skips both the walk and the search:
    decoding starts at that exact block with that row offset (split
    planning hands every task its own entry so per-task work stays
    O(own range))."""
    with open(path, "rb") as f:
        _meta, raw, codec, sync = _parse_header(f)
        cols, row_fn = _compile_columnar_decoder(
            *_load_schema(raw),
            wanted=set(columns) if columns is not None else None,
        )
        nrows = 0
        first_block, row_offset = _locate_first_block(
            f, sync, start, end, want_row_offset, known_block
        )
        if first_block is None:
            return cols, 0, 0
        for count, data in _blocks(f, codec, sync, first_block, end):
            pos = 0
            for _ in range(count):
                pos = row_fn(data, pos)
            nrows += count
        return cols, nrows, row_offset


def _locate_first_block(
    f,
    sync: bytes,
    start: int,
    end: int,
    want_row_offset: bool,
    known_block: tuple[int, int] | None,
) -> tuple[int | None, int]:
    """Where :func:`read_avro_range_columns` starts: returns
    ``(first_block_offset_or_None, row_offset)``.  ``f`` must be
    positioned just past the header."""
    header_end = f.tell()
    f.seek(0, 2)
    size = f.tell()
    end = min(end, size)
    row_offset = 0
    first_block: int | None = None
    if known_block is not None:
        first_block, row_offset = known_block
        if first_block >= size:
            first_block = None
    elif want_row_offset:
        pos = header_end
        while pos - 16 < end:
            if pos - 16 >= start:
                first_block = pos
                break
            f.seek(pos)
            try:
                count = _read_long(f)
                _bsize = _read_long(f)
            except EOFError:
                break
            row_offset += count
            pos = f.tell() + _bsize + 16
    elif start <= header_end - 16:
        if header_end - 16 < end:
            first_block = header_end
    else:
        first_block = _find_first_block(f, sync, start, end, size)
    return first_block, row_offset


# ---------------------------------------------------------------------------
# snappy codec (pure Python).  Raw-snappy format, public spec
# (google/snappy format_description.txt): uvarint uncompressed length, then
# tagged elements — literals and back-references with 1/2/4-byte offsets.
# Needed because manifests written by other engines (Java Iceberg defaults
# to gzip/deflate, but snappy is common) must still open; env has no
# python-snappy.


def _zstd_jvm():
    """The zstd-jni class Spark bundles, via the ACTIVE session's JVM —
    this Python env has no zstd module (no stdlib zstd before 3.14, no
    zstandard wheel), but every Spark deployment ships
    ``com.github.luben.zstd`` for shuffle/parquet codecs.  Manifests are
    metadata-scale, so the py4j byte-array hop is a non-issue."""
    from pyspark.sql import SparkSession

    # getActiveSession is thread-local; fall back to the JVM-backed
    # singleton so worker threads (pytest, schedulers) still find it
    spark = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if spark is None:
        raise NotImplementedError(
            "avro codec zstd needs the 'zstandard' package or a live "
            "SparkSession (whose JVM bundles zstd-jni)"
        )
    return spark


def _zstd_decompress(data: bytes) -> bytes:
    try:  # pragma: no cover - zstandard absent in this env
        import zstandard

        return zstandard.ZstdDecompressor().decompress(data)
    except ImportError:
        pass
    spark = _zstd_jvm()
    jvm = spark._jvm
    Zstd = jvm.com.github.luben.zstd.Zstd
    size = int(Zstd.getFrameContentSize(data))
    if size > 0:
        return bytes(Zstd.decompress(data, size))
    # streamed frame without a recorded content size (what Java Avro's
    # ZstdOutputStream emits): stream-decode through ZstdInputStream
    zis = jvm.com.github.luben.zstd.ZstdInputStream(
        jvm.java.io.ByteArrayInputStream(data)
    )
    try:
        return bytes(zis.readAllBytes())
    finally:
        zis.close()


def _zstd_compress(data: bytes) -> bytes:
    try:  # pragma: no cover - zstandard absent in this env
        import zstandard

        return zstandard.ZstdCompressor().compress(data)
    except ImportError:
        pass
    spark = _zstd_jvm()
    return bytes(spark._jvm.com.github.luben.zstd.Zstd.compress(data, 3))


def _snappy_decompress(data: bytes) -> bytes:
    pos, shift, n = 0, 0, 0
    while True:  # uvarint preamble: uncompressed length
        b = data[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not (b & 0x80):
            break
        shift += 7
    out = bytearray()
    while pos < len(data):
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                nb = ln - 59
                ln = int.from_bytes(data[pos : pos + nb], "little")
                pos += nb
            ln += 1
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset (len 4-11, offset < 2048)
            ln = ((tag >> 2) & 0x7) + 4
            off = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte little-endian offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos : pos + 2], "little")
            pos += 2
        else:  # copy, 4-byte little-endian offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[pos : pos + 4], "little")
            pos += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: invalid copy offset")
        start = len(out) - off
        if off >= ln:
            out += out[start : start + ln]
        else:  # overlapping copy: byte-at-a-time (RLE-style repetition)
            for i in range(ln):
                out.append(out[start + i])
    if len(out) != n:
        raise ValueError(f"snappy: expected {n} bytes, got {len(out)}")
    return bytes(out)


def _snappy_compress(data: bytes) -> bytes:
    """Literal-only snappy encoding — valid per the format spec (backrefs
    are optional), enough for writing snappy-codec manifests and for
    roundtrip tests; foreign readers decode it with any snappy library."""
    out = bytearray()
    n = len(data)
    while True:  # uvarint preamble
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            break
    pos = 0
    while pos < len(data):
        chunk = data[pos : pos + 65536]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(ln << 2)
        elif ln < (1 << 8):
            out.append(60 << 2)
            out += ln.to_bytes(1, "little")
        else:
            out.append(61 << 2)
            out += ln.to_bytes(2, "little")
        out += chunk
        pos += len(chunk)
    return bytes(out)


# ---------------------------------------------------------------------------
# encode: the test oracle ``_encode`` and the container writer


_INT_MIN, _INT_MAX = -(2**31), 2**31 - 1


def _write_long(out: bytearray, value: int) -> None:
    # zigzag lands in [0, 2**64) exactly for values in the signed 64-bit
    # range; anything outside would wrap to another long on decode
    z = (value << 1) ^ (value >> 63)
    if z >> 64:
        raise ValueError(f"long out of range: {value}")
    while z > 127:
        out.append(z & 0x7F | 0x80)
        z >>= 7
    out.append(z)


def _write_bytes(out: bytearray, data: bytes) -> None:
    _write_long(out, len(data))
    out.extend(data)


def _encode(schema: Any, value: Any, out: bytearray, names: dict[str, Any]) -> None:
    schema = _skip_to_named(schema, names)
    if isinstance(schema, list):  # union: pick the branch matching the value
        idx = _union_branch(schema, value, names)
        _write_long(out, idx)
        _encode(schema[idx], value, out, names)
        return
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            for f in schema["fields"]:
                if f["name"] in value:
                    field_val = value[f["name"]]
                else:
                    field_val = f["default"]  # KeyError if absent: schema demands it
                _encode(f["type"], field_val, out, names)
            return
        if t == "array":
            if value:
                _write_long(out, len(value))
                for item in value:
                    _encode(schema["items"], item, out, names)
            _write_long(out, 0)
            return
        if t == "map":
            if value:
                _write_long(out, len(value))
                for k, v in value.items():
                    _write_bytes(out, k.encode("utf-8"))
                    _encode(schema["values"], v, out, names)
            _write_long(out, 0)
            return
        if t == "fixed":
            if len(value) != schema["size"]:
                # writing short/long bytes verbatim produces a container
                # that fails (or decodes garbage) far from the cause
                raise ValueError(
                    f"fixed({schema['size']}) value has {len(value)} bytes"
                )
            out.extend(value)
            return
        if t == "enum":
            _write_long(out, schema["symbols"].index(value))
            return
        _encode(t, value, out, names)
        return
    if schema == "null":
        return
    if schema == "boolean":
        out.append(1 if value else 0)
    elif schema == "int":
        if not _INT_MIN <= value <= _INT_MAX:
            raise ValueError(f"int out of range: {value}")
        _write_long(out, value)
    elif schema == "long":
        _write_long(out, value)
    elif schema == "float":
        out.extend(struct.pack("<f", value))
    elif schema == "double":
        out.extend(struct.pack("<d", value))
    elif schema == "bytes":
        _write_bytes(out, value)
    elif schema == "string":
        _write_bytes(out, value.encode("utf-8"))
    else:
        raise NotImplementedError(f"avro type {schema!r}")


_UNION_TYPE_MATCH = {
    bool: ("boolean",),
    int: ("int", "long"),
    float: ("float", "double"),
    str: ("string", "enum"),
    bytes: ("bytes", "fixed"),
    bytearray: ("bytes", "fixed"),
    dict: ("record", "map"),
    list: ("array",),
}


def _branch_kinds(schemas: list[Any], names: dict[str, Any]) -> list[str]:
    """The type name of each union branch, named types resolved."""
    kinds = []
    for s in schemas:
        s = _skip_to_named(s, names)
        kinds.append(s["type"] if isinstance(s, dict) else s)
    return kinds


def _union_branch(schemas: list[Any], value: Any, names: dict[str, Any]) -> int:
    """Pick the union branch MATCHING the value's type — first-non-null
    would mis-encode (or corrupt) any union with several non-null
    branches (e.g. ["null","int","double"] with 1.5 written through the
    int branch).  An int outside the signed 32-bit range skips an
    ``int`` branch when the union also has a ``long`` one.  Falls back
    to the first non-null branch only when no type matches
    (logical-type wrappers)."""
    branch_types = _branch_kinds(schemas, names)
    if value is None:
        for i, t in enumerate(branch_types):
            if t == "null":
                return i
        raise ValueError(f"no null branch in {schemas!r}")
    if (
        isinstance(value, int)
        and type(value) is not bool
        and not _INT_MIN <= value <= _INT_MAX
        and "long" in branch_types
    ):
        branch_types = ["" if t == "int" else t for t in branch_types]
    # bool before int: bool is an int subclass in Python
    for py, avro_types in _UNION_TYPE_MATCH.items():
        if type(value) is py or (py is not bool and isinstance(value, py)):
            for i, t in enumerate(branch_types):
                if t in avro_types:
                    return i
            break
    for i, t in enumerate(branch_types):
        if t != "null":
            return i
    raise ValueError(f"no union branch for {value!r} in {schemas!r}")


AVRO_BLOCK_BYTES = 512 * 1024  # flush a block when raw payload exceeds this


def _compress_payload(payload: bytes, codec: str) -> bytes:
    if codec == "deflate":
        compressor = zlib.compressobj(9, zlib.DEFLATED, -15)
        return compressor.compress(payload) + compressor.flush()
    if codec == "snappy":
        return _snappy_compress(payload) + (
            zlib.crc32(payload) & 0xFFFFFFFF
        ).to_bytes(4, "big")
    if codec == "zstd":
        return _zstd_compress(payload)
    if codec != "null":
        raise NotImplementedError(f"avro codec {codec}")
    return payload


def write_avro(
    schema: dict[str, Any],
    records: list[dict[str, Any]],
    fh: BinaryIO,
    metadata: dict[str, bytes] | None = None,
    codec: str = "deflate",
) -> None:
    """Encode records into an Avro object container file through the
    schema's generated encoder (:func:`_compile_encoder`, memoised by the
    ``avro.schema`` bytes, so a commit pays no ``compile()`` after its
    first manifest).

    Records chunk into blocks of ~``AVRO_BLOCK_BYTES`` raw payload (one
    block when smaller): a single-block container cannot be byte-range
    split, so a large data file would decode on ONE core — block
    boundaries are what :func:`read_avro_range_columns` parallelizes
    over (and what any Hadoop-style Avro reader splits on)."""
    raw = json.dumps(schema).encode()
    encode_one = _memoised(_encoders, raw, _compile_encoder)
    meta = {"avro.schema": raw, "avro.codec": codec.encode()}
    if metadata:
        meta.update(metadata)

    # Sync marker: content-derived, unique per distinct file.  The Avro
    # spec uses 16 RANDOM bytes so that record bytes which happen to
    # contain a container (e.g. an avro file stored in a bytes column)
    # cannot alias a block boundary under byte-range splitting — a fixed
    # marker made exactly that happen (an embedded container written by
    # this same writer passed _plausible_block's chain check and derailed
    # a mid-file split task).  Hashing the encoded record stream keeps
    # writes byte-deterministic while guaranteeing an embedded container
    # (strict substring of this file's record bytes) hashes differently.
    import hashlib

    digest = hashlib.sha256()
    digest.update(json.dumps(schema, sort_keys=True).encode())
    digest.update(codec.encode())
    blocks: list[tuple[int, bytes]] = []
    body = bytearray()
    count = 0
    for rec in records:
        encode_one(rec, body)
        count += 1
        if len(body) >= AVRO_BLOCK_BYTES:
            digest.update(body)
            blocks.append((count, _compress_payload(bytes(body), codec)))
            body = bytearray()
            count = 0
    if count or not blocks:
        digest.update(body)
        blocks.append((count, _compress_payload(bytes(body), codec)))
    sync = digest.digest()[:16]

    head = bytearray()
    head.extend(MAGIC)
    _write_long(head, len(meta))
    for k, v in meta.items():
        _write_bytes(head, k.encode())
        _write_bytes(head, v)
    _write_long(head, 0)
    head.extend(sync)
    fh.write(bytes(head))
    for n, payload in blocks:
        block = bytearray()
        _write_long(block, n)
        _write_long(block, len(payload))
        block.extend(payload)
        block.extend(sync)
        fh.write(bytes(block))


def write_avro_file(
    path: str,
    schema: dict[str, Any],
    records: list[dict[str, Any]],
    metadata: dict[str, bytes] | None = None,
    codec: str = "deflate",
) -> None:
    with open(path, "wb") as f:
        write_avro(schema, records, f, metadata=metadata, codec=codec)
