"""Minimal Apache Avro object-container-file reader (and writer), pure Python.

Implements exactly the subset of the Avro 1.x spec that Iceberg v1
manifest-list and manifest files use: records, unions, arrays, maps, and
the primitive types, with ``null``, ``deflate``, ``snappy`` (pure-Python
raw codec + CRC) and ``zstd`` (via the Spark JVM's bundled zstd-jni —
no Python zstd exists in this env) block codecs.  The
reference reads these files with fastavro
(``/root/reference/daskberg/ice.py:148-151,186-188``); that dependency is
not available here, and the format is simple enough that a from-scratch
decoder is ~200 lines.

Container layout (Avro spec "Object Container Files"):

    magic 'Obj\\x01'
    file-metadata map<string, bytes>   (avro.schema JSON, avro.codec)
    16-byte sync marker
    repeat: <count: long> <size: long> <block bytes> <sync marker>

All integers are zigzag varints.  ``deflate`` blocks are raw-DEFLATE
(zlib with no header, wbits=-15).

The writer exists to generate our own partitioned test fixtures (the
reference ships none — SURVEY.md §5) and to support catalog-free table
writes; it emits the same subset.
"""

from __future__ import annotations

import io
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


def _sl(data: bytes, pos: int) -> int:
    """Skip one varint: advance past continuation bytes, decode nothing."""
    while data[pos] & 0x80:
        pos += 1
    return pos + 1


def _compile_skipper(schema: Any, names: dict[str, Any]):
    """Compile a ``(data, pos) -> pos`` SKIPPER: advance past one value
    of this schema without materializing it — what column projection
    uses to not pay for unwanted fields (an executor projecting 2 of 40
    AVRO columns otherwise decodes and discards 95% of its work)."""
    schema = _skip_to_named(schema, names)
    if isinstance(schema, list):
        skips = [_compile_skipper(s, names) for s in schema]

        def _skip_union(data, pos):
            idx, pos = _rl(data, pos)
            return skips[_index("union", idx, len(skips))](data, pos)

        return _skip_union
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            members = [_compile_skipper(f["type"], names) for f in schema["fields"]]

            def _skip_record(data, pos):
                for m in members:
                    pos = m(data, pos)
                return pos

            return _skip_record
        if t in ("array", "map"):
            item = _compile_skipper(
                schema["items"] if t == "array" else schema["values"], names
            )
            is_map = t == "map"

            def _skip_blocks(data, pos):
                while True:
                    n, pos = _rl(data, pos)
                    if n == 0:
                        return pos
                    if n < 0:
                        # negative count carries a byte size → O(1) skip
                        size, pos = _rl(data, pos)
                        pos += size
                        continue
                    for _ in range(n):
                        if is_map:
                            ln, pos = _rl(data, pos)
                            pos += ln
                        pos = item(data, pos)

            return _skip_blocks
        if t == "fixed":
            size = schema["size"]
            return lambda data, pos: pos + size
        if t == "enum":
            return _sl
        return _compile_skipper(t, names)
    if schema == "null":
        return lambda data, pos: pos
    if schema == "boolean":
        return lambda data, pos: pos + 1
    if schema in ("int", "long"):
        return _sl
    if schema == "float":
        return lambda data, pos: pos + 4
    if schema == "double":
        return lambda data, pos: pos + 8
    if schema in ("bytes", "string"):

        def _skip_len(data, pos):
            n, pos = _rl(data, pos)
            return pos + n

        return _skip_len
    raise NotImplementedError(f"avro type {schema!r}")


_COMPLEX = ("record", "array", "map", "fixed", "enum")


def _resolve(schema: Any, names: dict[str, Any]) -> Any:
    """The schema a value decodes as: named references and wrappers resolved."""
    while True:
        schema = _skip_to_named(schema, names)
        if not isinstance(schema, dict) or schema["type"] in _COMPLEX:
            return schema
        schema = schema["type"]


# Line templates of the generated decoder.  ``{t}`` is the target local;
# ``end`` is a scratch local that never outlives its template.  A one-byte
# varint decodes by table lookup (~15% faster decode than the arithmetic).
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
_ENUM = """\
if not 0 <= {t} < {n}:
    _index("enum", {t}, {n})
{t} = {symbols}[{t}]
"""


class _DecoderSource:
    """Python source for one schema's decoder: one function per record
    type and per array/map item that loops itself, everything else
    inline.  Schema text never reaches the source: field names, enum
    symbols and skippers are namespace constants, and every identifier
    comes from a counter."""

    def __init__(self, names: dict[str, Any]):
        self.names = names
        self.ns: dict[str, Any] = {
            "_rl": _rl,
            "_zigzag": _ZIGZAG,
            "_index": _index,
            "_float": struct.Struct("<f").unpack_from,
            "_double": struct.Struct("<d").unpack_from,
        }
        self.funcs: dict[str, str] = {}
        self.records: dict[int, str] = {}
        self.nvars = 0

    def const(self, value: Any) -> str:
        self.ns[f"_c{len(self.ns)}"] = value
        return f"_c{len(self.ns) - 1}"

    def var(self) -> str:
        self.nvars += 1
        return f"v{self.nvars}"

    def func(self, schema: Any, wanted: Any = None) -> str:
        """Emit a ``(data, pos) -> (value, pos)`` function for ``schema``
        and return its name; ``wanted`` projects a record's fields."""
        s = _resolve(schema, self.names)
        record = isinstance(s, dict) and s["type"] == "record"
        memo = record and wanted is None
        if memo and id(s) in self.records:
            return self.records[id(s)]
        name = f"_f{len(self.funcs)}"
        self.funcs[name] = ""  # reserve the name: nested functions follow
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
        for f in record["fields"]:
            if wanted is None or f["name"] in wanted:
                v = self.var()
                self.value(f["type"], v, body, "")
                kept.append((f["name"], v))
            else:
                skip = self.const(_compile_skipper(f["type"], self.names))
                body.append(f"pos = {skip}(data, pos)")
        return kept

    def build(self, top: str):
        """Compile every emitted function with ONE ``compile()``; return
        the function named ``top``."""
        exec(compile("\n\n".join(self.funcs.values()), "<avro decoder>", "exec"), self.ns)
        return self.ns[top]

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
            out.extend(ind + x for x in template.format(t=t, **kw).splitlines())

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
            emit(_VARINT + _ENUM, n=len(s["symbols"]), symbols=symbols)
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
    TOP-LEVEL record: unwanted fields call position skippers that never
    materialize values."""
    src = _DecoderSource(names)
    return src.build(src.func(schema, wanted))


# Every manifest of a table shares one Avro schema, and a compiled
# decoder is a pure function of its schema: memoised by the raw
# ``avro.schema`` bytes, the schema parses and compiles once instead of
# once per file (compiling a manifest schema's decoder takes ~4 ms, the
# decode of one 8-entry manifest ~0.1 ms; 4-vCPU host).  This holds
# code, never decoded data.  Bounded; a full memo is cleared, not
# iterated, so reader threads share it without a lock.
_MEMO_MAX = 64
_memo: dict[bytes, Any] = {}


def _record_decoder(raw: bytes):
    """The compiled record decoder for schema bytes ``raw``, memoised."""
    dec = _memo.get(raw)
    if dec is None:
        dec = _compile_decoder(*_load_schema(raw))
        if len(_memo) >= _MEMO_MAX:
            _memo.clear()
        _memo[raw] = dec
    return dec


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
    dec = _record_decoder(raw)
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
    the last one owned by a range ending at ``end`` (:func:`read_avro_range`)."""
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
    a columnar engine).  Unwanted fields compile to position skippers.
    Decode semantics are identical by construction: the row function
    is generated by the same ``_DecoderSource`` as
    ``_compile_decoder``'s record functions, with each kept field's
    local appended to its list instead of stored in a dict, and the
    whole source compiles once."""
    schema = _skip_to_named(schema, names)
    if not (isinstance(schema, dict) and schema.get("type") == "record"):
        raise ValueError("columnar decode requires a top-level record")
    src = _DecoderSource(names)
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
    """Columnar :func:`read_avro_range`: same block-ownership rule and
    arguments, but returns ``(cols, nrows, row_offset)`` where ``cols``
    maps each present+wanted field name to a Python list of values —
    ready for zero-copy-ish ``pyarrow.array`` construction in the data
    scan's ``mapInArrow`` leg (fields absent from the file schema are
    simply absent keys; the caller null-fills)."""
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
    """Shared range-entry logic for the row and columnar range readers:
    returns ``(first_block_offset_or_None, row_offset)``.  ``f`` must be
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


def read_avro_range(
    path: str,
    start: int,
    end: int,
    want_row_offset: bool = False,
    known_block: tuple[int, int] | None = None,
    columns: Any = None,
) -> tuple[dict[str, bytes], list[dict[str, Any]], int]:
    """Decode the container blocks OWNED by byte range ``[start, end)``.

    A block is owned iff the 16-byte sync marker that precedes it begins
    at a position ``q`` with ``start <= q < end`` — the Hadoop split
    rule, so any partition of ``[0, file_size)`` decodes every record
    exactly once with no cross-task coordination.  Returns
    ``(metadata, records, row_offset)`` where ``row_offset`` is the
    number of records in earlier blocks (0 unless ``want_row_offset``).

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
        meta, raw, codec, sync = _parse_header(f)
        dec = _compile_decoder(
            *_load_schema(raw),
            wanted=set(columns) if columns is not None else None,
        )
        first_block, row_offset = _locate_first_block(
            f, sync, start, end, want_row_offset, known_block
        )
        records: list[dict[str, Any]] = []
        if first_block is None:
            return meta, records, 0
        for count, data in _blocks(f, codec, sync, first_block, end):
            pos = 0
            for _ in range(count):
                rec, pos = dec(data, pos)
                records.append(rec)
        return meta, records, row_offset


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
# encode (for fixture generation / table writes)


def _write_long(out: bytearray, value: int) -> None:
    value = (value << 1) ^ (value >> 63)  # zigzag
    value &= (1 << 64) - 1
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            break


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
    elif schema in ("int", "long"):
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


def _compile_type_encoder(schema: Any, names: dict[str, Any]):
    """Once-per-schema encoder closure for the flat subset data-file
    schemas use (primitives, logical-type wrappers, 2-branch null
    unions).  Returns None outside that subset — the caller keeps the
    generic recursive ``_encode`` (manifest schemas with nested
    records/arrays/maps take that path unchanged).  Mirrors the
    compiled DECODER closures: the win is skipping per-value schema
    dispatch and union type-matching, measured ~3× on the distributed
    AVRO write leg."""
    schema = _skip_to_named(schema, names)
    if isinstance(schema, list):
        if len(schema) != 2:
            return None
        branch_types = []
        for s in schema:
            s = _skip_to_named(s, names)
            branch_types.append(s["type"] if isinstance(s, dict) else s)
        if "null" not in branch_types:
            return None
        null_idx = branch_types.index("null")
        other = schema[1 - null_idx]
        inner = _compile_type_encoder(other, names)
        if inner is None:
            return None
        null_byte = null_idx * 2  # zigzag varint of 0/1 is one byte
        val_byte = (1 - null_idx) * 2

        def enc_opt(v, out, _inner=inner, _nb=null_byte, _vb=val_byte):
            if v is None:
                out.append(_nb)
            else:
                out.append(_vb)
                _inner(v, out)

        return enc_opt
    if isinstance(schema, dict):
        # logical-type wrapper ({"type": "long", "logicalType": ...}):
        # encodes as its underlying primitive
        t = schema.get("type")
        if isinstance(t, str) and t in (
            "int", "long", "float", "double", "boolean", "string", "bytes"
        ):
            return _compile_type_encoder(t, names)
        return None
    if schema in ("int", "long"):

        def enc_long(v, out):
            v = (v << 1) ^ (v >> 63)
            v &= 0xFFFFFFFFFFFFFFFF
            while True:
                b = v & 0x7F
                v >>= 7
                if v:
                    out.append(b | 0x80)
                else:
                    out.append(b)
                    break

        return enc_long
    if schema == "double":

        def enc_double(v, out):
            out.extend(struct.pack("<d", v))

        return enc_double
    if schema == "float":

        def enc_float(v, out):
            out.extend(struct.pack("<f", v))

        return enc_float
    if schema == "boolean":

        def enc_bool(v, out):
            out.append(1 if v else 0)

        return enc_bool
    if schema == "string":

        def enc_str(v, out):
            b = v.encode("utf-8")
            n = len(b) << 1  # zigzag of a non-negative length
            while True:
                byt = n & 0x7F
                n >>= 7
                if n:
                    out.append(byt | 0x80)
                else:
                    out.append(byt)
                    break
            out.extend(b)

        return enc_str
    if schema == "bytes":

        def enc_bytes(v, out):
            n = len(v) << 1
            while True:
                byt = n & 0x7F
                n >>= 7
                if n:
                    out.append(byt | 0x80)
                else:
                    out.append(byt)
                    break
            out.extend(v)

        return enc_bytes
    return None


def compile_record_encoder(schema: Any, names: dict[str, Any]):
    """Compiled encoder for a flat record schema, or None (caller falls
    back to the generic ``_encode``).  Byte-identical output is pinned
    by a differential test across every compilable shape."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        return None
    encs = []
    for f in schema["fields"]:
        enc = _compile_type_encoder(f["type"], names)
        if enc is None:
            return None
        encs.append((f["name"], enc, "default" in f, f.get("default")))

    def encode_record(value, out, _encs=tuple(encs)):
        for name, enc, has_default, default in _encs:
            if name in value:
                enc(value[name], out)
            elif has_default:
                enc(default, out)
            else:
                raise KeyError(name)  # schema demands the field

    return encode_record


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


def _union_branch(schemas: list[Any], value: Any, names: dict[str, Any]) -> int:
    """Pick the union branch MATCHING the value's type — first-non-null
    would mis-encode (or corrupt) any union with several non-null
    branches (e.g. ["null","int","double"] with 1.5 written through the
    int branch).  Falls back to the first non-null branch only when no
    type matches (logical-type wrappers)."""
    branch_types = []
    for s in schemas:
        s = _skip_to_named(s, names)
        branch_types.append(s["type"] if isinstance(s, dict) else s)
    if value is None:
        for i, t in enumerate(branch_types):
            if t == "null":
                return i
        raise ValueError(f"no null branch in {schemas!r}")
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
    """Encode records into an Avro object container file.

    Records chunk into blocks of ~``AVRO_BLOCK_BYTES`` raw payload (one
    block when smaller, as before): a single-block container cannot be
    byte-range split, so a large data file would decode on ONE core —
    block boundaries are what :func:`read_avro_range` parallelizes over
    (and what any Hadoop-style Avro reader splits on)."""
    names: dict[str, Any] = {}
    _register_names(schema, names)
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": codec.encode()}
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
    # flat record schemas (the data-file shape) take the compiled
    # encoder; anything nested keeps the generic recursive path
    compiled = compile_record_encoder(schema, names)
    encode_one = compiled if compiled is not None else (
        lambda rec, out: _encode(schema, rec, out, names)
    )
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
