"""Puffin files and 64-bit "portable" roaring bitmaps — Iceberg v3
deletion vectors, from scratch.

Format sources (public specs): the Iceberg Puffin spec
(iceberg.apache.org/puffin-spec) for the container layout and the
``deletion-vector-v1`` blob type, and the RoaringBitmap interoperable
serialization spec (github.com/RoaringBitmap/RoaringFormatSpec) for the
bitmap bytes.  The reference repo is v1-only (``daskberg/ice.py`` reads
no delete files of any kind), so this module has no counterpart there.

Writer emits the no-run-container 32-bit serialization (always valid);
the reader additionally decodes run containers and the run-bitset
cookie, so bitmaps produced by real RoaringBitmap implementations with
run optimization read correctly.  Round-trip (write→read) is
property-tested across array/bitmap container densities, and the
encodings are pinned by KNOWN-ANSWER byte vectors hand-assembled from
the published spec layouts (array/bitset/run containers, multi-bucket
64-bit, the DV blob framing, the Puffin container —
``tests/test_puffin.py`` "known-answer" section), so a self-consistent
writer+reader drift cannot pass the suite.
"""

from __future__ import annotations

import json
import struct
import zlib
from typing import Any, BinaryIO

MAGIC = b"PFA1"  # Puffin spec: 0x50 0x46 0x41 0x31, file head and footer
# deletion-vector-v1 blob magic (Iceberg v3 spec), stored little-endian
DV_MAGIC = b"\xd1\xd3\x39\x64"

# RoaringFormatSpec cookies (little-endian u32 / u16)
SERIAL_COOKIE_NO_RUNCONTAINER = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096  # container cardinality above which a bitset is used


# -- 32-bit roaring ----------------------------------------------------------


def _r32_group(values: list[int]) -> list[tuple[int, list[int]]]:
    groups: list[tuple[int, list[int]]] = []
    for v in values:
        key, low = v >> 16, v & 0xFFFF
        if groups and groups[-1][0] == key:
            groups[-1][1].append(low)
        else:
            groups.append((key, [low]))
    return groups


def serialize_r32(values: list[int]) -> bytes:
    """Serialize sorted distinct u32 values in the portable no-run
    layout: u32 cookie 12346, u32 container count, (u16 key, u16 card-1)
    headers, u32 offsets, then array (u16s) or bitset (8 KiB) containers.
    """
    groups = _r32_group(values)
    n = len(groups)
    out = bytearray()
    out += struct.pack("<II", SERIAL_COOKIE_NO_RUNCONTAINER, n)
    for key, lows in groups:
        out += struct.pack("<HH", key, len(lows) - 1)
    # offsets: absolute byte position of each container within the stream
    offsets_pos = len(out)
    out += b"\x00" * (4 * n)
    positions = []
    for key, lows in groups:
        positions.append(len(out))
        if len(lows) <= _ARRAY_MAX:
            out += struct.pack(f"<{len(lows)}H", *lows)
        else:
            bits = bytearray(8192)
            for low in lows:
                bits[low >> 3] |= 1 << (low & 7)
            out += bits
    for i, pos in enumerate(positions):
        struct.pack_into("<I", out, offsets_pos + 4 * i, pos)
    return bytes(out)


def deserialize_r32(buf: bytes, off: int = 0) -> tuple[list[int], int]:
    """Decode one 32-bit roaring bitmap at ``buf[off:]``; returns
    (sorted values, offset past the bitmap).  Handles both cookies,
    array/bitset/run containers."""
    (cookie,) = struct.unpack_from("<I", buf, off)
    run_bits = b""
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        n = (cookie >> 16) + 1
        off += 4
        nbytes = (n + 7) // 8
        run_bits = buf[off : off + nbytes]
        off += nbytes
        has_offsets = n >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUNCONTAINER:
        (n,) = struct.unpack_from("<I", buf, off + 4)
        off += 8
        has_offsets = True
    else:
        raise ValueError(f"bad roaring cookie {cookie}")
    headers = [struct.unpack_from("<HH", buf, off + 4 * i) for i in range(n)]
    off += 4 * n
    if has_offsets:
        off += 4 * n  # sequential read; offsets are redundant
    values: list[int] = []
    for i, (key, card_m1) in enumerate(headers):
        card = card_m1 + 1
        base = key << 16
        is_run = bool(run_bits) and (run_bits[i >> 3] >> (i & 7)) & 1
        if is_run:
            (n_runs,) = struct.unpack_from("<H", buf, off)
            off += 2
            for _ in range(n_runs):
                start, length_m1 = struct.unpack_from("<HH", buf, off)
                off += 4
                values.extend(base + v for v in range(start, start + length_m1 + 1))
        elif card <= _ARRAY_MAX:
            values.extend(
                base + v for v in struct.unpack_from(f"<{card}H", buf, off)
            )
            off += 2 * card
        else:
            chunk = buf[off : off + 8192]
            off += 8192
            for byte_i, byte in enumerate(chunk):
                while byte:
                    low_bit = byte & -byte
                    values.append(base + (byte_i << 3) + low_bit.bit_length() - 1)
                    byte ^= low_bit
    return values, off


# -- 64-bit portable ---------------------------------------------------------


def roaring64_serialize(positions: list[int]) -> bytes:
    """64-bit portable layout: u64 LE bucket count, then per ascending
    bucket a u32 LE high-32 key + a 32-bit roaring serialization of the
    low-32 values."""
    positions = sorted(set(positions))
    buckets: list[tuple[int, list[int]]] = []
    for p in positions:
        if p < 0:
            raise ValueError(f"negative position {p}")
        hi, lo = p >> 32, p & 0xFFFFFFFF
        if buckets and buckets[-1][0] == hi:
            buckets[-1][1].append(lo)
        else:
            buckets.append((hi, [lo]))
    out = bytearray(struct.pack("<Q", len(buckets)))
    for hi, lows in buckets:
        out += struct.pack("<I", hi)
        out += serialize_r32(lows)
    return bytes(out)


def roaring64_deserialize(data: bytes) -> list[int]:
    (n_buckets,) = struct.unpack_from("<Q", data, 0)
    off = 8
    values: list[int] = []
    for _ in range(n_buckets):
        (hi,) = struct.unpack_from("<I", data, off)
        off += 4
        lows, off = deserialize_r32(data, off)
        values.extend((hi << 32) + v for v in lows)
    return values


# -- deletion-vector-v1 blob -------------------------------------------------


def dv_blob(positions: list[int]) -> bytes:
    """deletion-vector-v1 blob bytes: u32 BE combined length of magic +
    vector, the 4 magic bytes, the portable 64-bit bitmap, and a u32 BE
    CRC-32 of magic + vector."""
    vector = roaring64_serialize(positions)
    body = DV_MAGIC + vector
    return (
        struct.pack(">I", len(body))
        + body
        + struct.pack(">I", zlib.crc32(body) & 0xFFFFFFFF)
    )


def dv_decode(blob: bytes) -> list[int]:
    (length,) = struct.unpack_from(">I", blob, 0)
    body = blob[4 : 4 + length]
    if body[:4] != DV_MAGIC:
        raise ValueError(f"bad deletion-vector magic {body[:4]!r}")
    (crc,) = struct.unpack_from(">I", blob, 4 + length)
    if crc != (zlib.crc32(body) & 0xFFFFFFFF):
        raise ValueError("deletion-vector CRC mismatch")
    return roaring64_deserialize(body[4:])


def dv_decode_file(path: str, offset: int, length: int) -> list[int]:
    """Decode one DV blob read straight from a Puffin file — used
    executor-side (mapInPandas) so position materialization never
    touches the driver."""
    with open(path, "rb") as f:
        f.seek(offset)
        return dv_decode(f.read(length))


# -- Puffin container --------------------------------------------------------


def write_puffin(
    path: str,
    blobs: list[dict[str, Any]],
    properties: dict[str, str] | None = None,
) -> list[dict[str, Any]]:
    """Write a Puffin file; each blob dict carries ``data`` (bytes) plus
    its metadata fields (``type``, ``fields``, ``snapshot-id``,
    ``sequence-number``, ``properties``).  Returns the footer's blob
    metadata (with offsets/lengths) for manifest entries.  Layout per
    spec: Magic, blobs, Magic, footer payload JSON, u32 LE payload size,
    u32 flags (0 = uncompressed payload), Magic.

    The write is ATOMIC (temp file + ``os.replace``): statistics file
    names are deterministic (uuid5 of snapshot/columns/grouping), so
    two concurrent family refreshes that derive the same file — e.g.
    global and grouped quantile refreshes on two threads both
    backfilling the shared per-file CDF partials — each publish a
    complete file and last-rename-wins; a reader can never observe
    interleaved bytes."""
    import os
    import uuid as _uuid

    metas = []
    tmp = f"{path}.tmp-{_uuid.uuid4().hex[:12]}"
    try:
        with open(tmp, "wb") as f:
            f.write(MAGIC)
            for b in blobs:
                offset = f.tell()
                f.write(b["data"])
                meta = {k: v for k, v in b.items() if k != "data"}
                meta["offset"] = offset
                meta["length"] = len(b["data"])
                metas.append(meta)
            payload = json.dumps(
                {"blobs": metas, "properties": properties or {}}
            ).encode()
            f.write(MAGIC)
            f.write(payload)
            f.write(struct.pack("<I", len(payload)))
            f.write(b"\x00\x00\x00\x00")
            f.write(MAGIC)
        os.replace(tmp, path)
    except BaseException:
        try:
            os.unlink(tmp)
        except OSError:
            pass
        raise
    return metas


def read_puffin_footer(path: str) -> dict[str, Any]:
    with open(path, "rb") as f:
        f.seek(0, 2)
        size = f.tell()
        if size < 16 + len(MAGIC):
            raise ValueError("not a puffin file (too short)")
        f.seek(size - 12)
        tail = f.read(12)
        if tail[8:] != MAGIC:
            raise ValueError("not a puffin file (tail magic)")
        (payload_size,) = struct.unpack("<I", tail[:4])
        flags = struct.unpack("<I", tail[4:8])[0]
        if payload_size > size - 12 - 4 - len(MAGIC):
            # a bogus size would seek negative (OSError) — keep format
            # errors in the ValueError family callers catch
            raise ValueError("not a puffin file (footer size exceeds file)")
        f.seek(size - 12 - payload_size)
        payload = f.read(payload_size)
        if flags & 1:
            # Puffin spec: the footer-compressed flag means LZ4 (Java's
            # PuffinFormat.FOOTER_COMPRESSION_CODEC) — zlib was wishful
            # and could never decode a foreign file
            payload = _lz4_frame_decompress(payload)
        f.seek(size - 12 - payload_size - 4)
        # payload is preceded by the footer's leading Magic
        if f.read(4) != MAGIC:
            raise ValueError("not a puffin file (footer magic)")
        return json.loads(payload)



def _lz4_block_decompress(src: bytes) -> bytes:
    """Pure-Python LZ4 BLOCK decompression (the format's sequences of
    token / literals / little-endian match offset, with overlapping
    copies) — no lz4 library in this environment.  Every overrun is a
    loud ValueError: silently returning the readable prefix would
    surface as a confusing JSON error (or corrupt match history) far
    from the real corruption."""
    out = bytearray()
    i, n = 0, len(src)
    while i < n:
        token = src[i]
        i += 1
        lit_len = token >> 4
        if lit_len == 15:
            while True:
                if i >= n:
                    raise ValueError("corrupt LZ4 block (truncated length)")
                b = src[i]
                i += 1
                lit_len += b
                if b != 255:
                    break
        if i + lit_len > n:
            raise ValueError("corrupt LZ4 block (truncated literals)")
        out += src[i : i + lit_len]
        i += lit_len
        if i >= n:
            break  # last sequence has no match
        if i + 2 > n:
            raise ValueError("corrupt LZ4 block (truncated match offset)")
        offset = src[i] | (src[i + 1] << 8)
        i += 2
        if offset == 0:
            raise ValueError("corrupt LZ4 block (zero offset)")
        match_len = (token & 0x0F) + 4
        if (token & 0x0F) == 15:
            while True:
                if i >= n:
                    raise ValueError("corrupt LZ4 block (truncated length)")
                b = src[i]
                i += 1
                match_len += b
                if b != 255:
                    break
        start = len(out) - offset
        if start < 0:
            raise ValueError("corrupt LZ4 block (offset past start)")
        for _ in range(match_len):  # byte-wise: copies may overlap
            out.append(out[start])
            start += 1
    return bytes(out)


def _lz4_frame_decompress(data: bytes) -> bytes:
    """Pure-Python LZ4 FRAME decompression — enough of the frame spec
    (magic, FLG/BD descriptor, optional content size/dict id, size-
    prefixed blocks, optional checksums skipped) to read Puffin footers
    compressed by Java Iceberg (the spec's footer codec is LZ4, not
    zlib)."""
    if data[:4] != b"\x04\x22\x4d\x18":
        raise ValueError("not an LZ4 frame")
    i = 4
    flg = data[i]
    if (flg >> 6) != 0b01:
        raise ValueError(
            f"unsupported LZ4 frame version (FLG {flg:#04x}); this "
            "reader implements v1"
        )
    i += 1
    i += 1  # BD byte
    if flg & 0x08:  # content size present
        i += 8
    if flg & 0x01:  # dict id present
        i += 4
    i += 1  # header checksum (HC)
    block_checksums = bool(flg & 0x10)
    out = bytearray()
    while True:
        (bsize,) = struct.unpack("<I", data[i : i + 4])
        i += 4
        if bsize == 0:
            break  # EndMark
        uncompressed = bool(bsize & 0x80000000)
        bsize &= 0x7FFFFFFF
        block = data[i : i + bsize]
        i += bsize
        if block_checksums:
            i += 4
        out += block if uncompressed else _lz4_block_decompress(block)
    return bytes(out)


def read_blob(path: str, meta: dict[str, Any]) -> bytes:
    codec = (meta.get("compression-codec") or "").lower()
    if codec and codec != "none":
        # Java Iceberg may zstd-compress sketch blobs; returning the
        # compressed bytes as if they were the payload hands callers
        # silent garbage — refuse until a codec is implemented (DV
        # blobs are spec-forbidden from compression, so the DV path
        # never hits this)
        raise NotImplementedError(
            f"puffin blob compression-codec {codec!r} is not supported"
        )
    with open(path, "rb") as f:
        f.seek(meta["offset"])
        return f.read(meta["length"])
