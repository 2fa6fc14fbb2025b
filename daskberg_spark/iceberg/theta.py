"""Apache DataSketches theta sketches — the Iceberg spec's STANDARD
``apache-datasketches-theta-v1`` Puffin blob type — from scratch.

The reference repo carries no statistics machinery at all
(``daskberg/ice.py`` reads only data manifests), and this engine's
earlier ``daskberg-ndv-v1`` blobs held a bare count: correct for the
``ndv`` property real engines read, but opaque — nothing could be
MERGED, so every stats refresh re-scanned the whole table.  A theta
sketch is a mergeable distinct-count summary: per-partition (and
per-file-batch) sketches union into the table sketch, and a stats
refresh over an append-only window unions the PREVIOUS sketch with
sketches over only the NEW files — at 100 TB that turns NDV
maintenance from a full-table scan into a scan of the day's appends.

Format sources (all public):

- Iceberg Puffin spec, blob type ``apache-datasketches-theta-v1``:
  a compact theta sketch whose update values are the column values
  encoded with Iceberg's single-value binary serialization
  (spec Appendix D), with the estimate in the ``ndv`` blob property.
- Apache DataSketches theta binary layout, serial version 3, Compact
  family (id 3): 1 preamble long for empty, 2 for exact mode, 3 for
  estimation mode (adds thetaLong), then the retained 63-bit hash
  values as little-endian longs, ascending when ORDERED.
- MurmurHash3 x64-128 (Austin Appleby, public domain) with the
  DataSketches default update seed 9001; the retained value is
  ``hash[0] >>> 1`` (a 63-bit positive long), zero excluded.

Semantics notes (documented divergences, all fixture-safe):

- NULLs never update a sketch (NDV is distinct non-null, matching
  COUNT(DISTINCT col)).
- Empty byte strings are skipped, mirroring DataSketches'
  ``update(byte[])`` no-op on empty input.
- Doubles canonicalize -0.0 -> 0.0 and NaN -> the quiet-NaN bit
  pattern before serialization (DataSketches ``update(double)``
  semantics) so an estimator never double-counts equal values.

The sketch builder is KMV-shaped: it retains the k smallest distinct
hash values and sets theta to the (k+1)-th smallest once more than k
distinct hashes are seen.  Any (theta, retained) pair with "retained =
every input hash below theta" is a valid theta sketch — unions with
sketches from other builders remain correct, and the standard
estimator count * LONG_MAX / thetaLong applies.  Below k the sketch is
in EXACT mode: the estimate equals the true distinct count, which is
what lets the DuckDB oracle pin it with COUNT(DISTINCT ...).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Any, Iterable, Sequence

import numpy as np

_M64 = (1 << 64) - 1
LONG_MAX = (1 << 63) - 1
DEFAULT_UPDATE_SEED = 9001
DEFAULT_LG_K = 12

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F

FAMILY_COMPACT = 3
SER_VER = 3
# flags byte (theta PreambleUtil): bit0 BIG_ENDIAN, bit1 READ_ONLY,
# bit2 EMPTY, bit3 COMPACT, bit4 ORDERED
_F_READ_ONLY = 2
_F_EMPTY = 4
_F_COMPACT = 8
_F_ORDERED = 16
_F_SINGLEITEM = 32

THETA_BLOB_TYPE = "apache-datasketches-theta-v1"

_SKETCHABLE = frozenset(
    {
        "boolean",
        "int",
        "long",
        "float",
        "double",
        "date",
        "time",
        "timestamp",
        "timestamptz",
        "string",
        "binary",
        "uuid",
    }
)


def sketchable(ice_type: str) -> bool:
    """Whether ``single_value_bytes`` covers this primitive type."""
    return (
        ice_type in _SKETCHABLE
        or ice_type.startswith("decimal")
        or ice_type.startswith("fixed")
    )


# -- MurmurHash3 x64-128 (scalar) --------------------------------------------


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Reference MurmurHash3 x64-128 over ``data``; returns the two
    unsigned 64-bit halves.  Validated against the public 'foo' test
    vector (tests/test_theta.py)."""
    length = len(data)
    h1 = seed & _M64
    h2 = seed & _M64
    nblocks = length // 16
    for i in range(nblocks):
        k1, k2 = struct.unpack_from("<QQ", data, i * 16)
        k1 = (k1 * _C1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _M64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (k2 * _C2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _M64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16 :]
    tlen = len(tail)
    k1 = 0
    k2 = 0
    for i in range(min(tlen, 15) - 1, 7, -1):  # bytes 8..14 -> k2
        k2 ^= tail[i] << ((i - 8) * 8)
    if tlen > 8:
        k2 = (k2 * _C2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _M64
        h2 ^= k2
    for i in range(min(tlen, 8) - 1, -1, -1):  # bytes 0..7 -> k1
        k1 ^= tail[i] << (i * 8)
    if tlen > 0:
        k1 = (k1 * _C1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * _C2) & _M64
        h1 ^= k1
    h1 ^= length
    h2 ^= length
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def hash63(data: bytes, seed: int = DEFAULT_UPDATE_SEED) -> int:
    """DataSketches update hash: first murmur half, unsigned-shifted
    right by 1 (63-bit positive).  Zero is excluded by callers."""
    return murmur3_x64_128(data, seed)[0] >> 1


def compute_seed_hash(seed: int = DEFAULT_UPDATE_SEED) -> int:
    """DataSketches ``Util.computeSeedHash``: low 16 bits of the
    murmur hash of the seed long (as 8 LE bytes) with seed 0."""
    sh = murmur3_x64_128(struct.pack("<q", seed), 0)[0] & 0xFFFF
    if sh == 0:
        raise ValueError("seed produced a zero seed hash; pick another")
    return sh


# -- vectorized hashing for fixed-width single-value encodings ---------------

# For inputs <= 15 bytes the block loop never runs: the whole hash is
# the tail mix + finalization, which vectorizes directly in uint64
# numpy arithmetic (wrapping mul/xor/shift are the native semantics).


def _fmix64_np(k: np.ndarray) -> np.ndarray:
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xFF51AFD7ED558CCD)
    k = k ^ (k >> np.uint64(33))
    k = k * np.uint64(0xC4CEB9FE1A85EC53)
    k = k ^ (k >> np.uint64(33))
    return k


def _hash63_fixed_np(
    k1: np.ndarray, length: int, seed: int = DEFAULT_UPDATE_SEED
) -> np.ndarray:
    """Vectorized ``hash63`` for inputs of 1..8 bytes given as the
    zero-extended little-endian uint64 ``k1`` (i.e. exactly the tail
    k1 word of the scalar algorithm)."""
    if not 1 <= length <= 8:
        raise ValueError("fixed-width fast path covers 1..8 bytes")
    c1 = np.uint64(_C1)
    c2 = np.uint64(_C2)
    k1 = k1 * c1
    k1 = (k1 << np.uint64(31)) | (k1 >> np.uint64(33))
    k1 = k1 * c2
    h1 = np.uint64(seed) ^ k1
    h2 = np.uint64(seed)
    h1 = h1 ^ np.uint64(length)
    h2 = h2 ^ np.uint64(length)
    h1 = h1 + h2
    h2 = h2 + h1
    h1 = _fmix64_np(h1)
    h2 = _fmix64_np(h2)
    h1 = h1 + h2
    return h1 >> np.uint64(1)


# -- Iceberg single-value serialization (spec Appendix D, binary) ------------


def single_value_bytes(value: Any, ice_type: str) -> bytes | None:
    """Encode one NON-NULL value with Iceberg's single-value binary
    serialization for the types this engine's columns use.  Returns
    None for values the sketch skips (NULL handled by callers; empty
    strings/binary mirror DataSketches' empty-input no-op)."""
    t = ice_type
    if t == "boolean":
        return b"\x01" if value else b"\x00"
    if t == "int":
        return struct.pack("<i", int(value))
    if t == "long":
        return struct.pack("<q", int(value))
    if t == "float":
        v = float(value)
        if v != v:
            return struct.pack("<I", 0x7FC00000)
        return struct.pack("<f", v + 0.0)
    if t == "double":
        v = float(value)
        if v != v:
            return struct.pack("<Q", 0x7FF8000000000000)
        return struct.pack("<d", v + 0.0)
    if t == "date":
        import datetime as _dt

        if isinstance(value, (int, np.integer)):
            days = int(value)
        else:
            days = (value - _dt.date(1970, 1, 1)).days
        return struct.pack("<i", days)
    if t in ("timestamp", "timestamptz", "time"):
        micros = _to_micros(value)
        return struct.pack("<q", micros)
    if t == "string":
        b = value.encode("utf-8") if isinstance(value, str) else bytes(value)
        return b or None
    if t in ("binary",) or t.startswith("fixed"):
        b = bytes(value)
        return b or None
    if t == "uuid":
        import uuid as _uuid

        u = value if isinstance(value, _uuid.UUID) else _uuid.UUID(str(value))
        return u.bytes  # big-endian per spec
    if t.startswith("decimal"):
        from decimal import Decimal

        scale = int(t.rstrip(")").split(",")[1]) if "," in t else 0
        unscaled = int(Decimal(str(value)).scaleb(scale).to_integral_value())
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    raise NotImplementedError(f"single-value serialization for {t!r}")


def _to_micros(value: Any) -> int:
    import datetime as _dt

    if isinstance(value, (int, np.integer)):
        return int(value)
    if isinstance(value, np.datetime64):
        return int(value.astype("datetime64[us]").astype("int64"))
    if isinstance(value, _dt.datetime):
        epoch = _dt.datetime(1970, 1, 1, tzinfo=value.tzinfo)
        return int((value - epoch) / _dt.timedelta(microseconds=1))
    if isinstance(value, _dt.time):
        return (
            value.hour * 3600_000_000
            + value.minute * 60_000_000
            + value.second * 1_000_000
            + value.microsecond
        )
    raise TypeError(f"cannot convert {type(value)} to micros")


def hash_values(
    values: Sequence[Any] | np.ndarray,
    ice_type: str,
    seed: int = DEFAULT_UPDATE_SEED,
) -> np.ndarray:
    """63-bit update hashes for a batch of NON-NULL column values.
    Fixed-width numerics/temporals take the vectorized tail-only
    murmur (differential-tested against the scalar); strings and
    other variable-width types hash per distinct value.  Zero hashes
    (probability 2^-63 each) are dropped per the sketch contract."""
    if ice_type in ("long", "int", "date", "float", "double",
                    "timestamp", "timestamptz", "time"):
        arr = np.asarray(values)
        if ice_type == "date" and arr.dtype.kind == "M":
            # numpy datetime64 dates: convert to epoch DAYS so they take
            # the int32 fast path (single_value_bytes can't subtract a
            # datetime.date from a np.datetime64), mirroring the
            # timestamp branch's kind-'M' handling.
            arr = arr.astype("datetime64[D]").astype(np.int64)
        if ice_type == "int" or ice_type == "date":
            if ice_type == "date" and arr.dtype.kind not in "iu":
                # NB: never np.asarray the bytes list — numpy 'S' dtype
                # strips trailing NULs, silently shortening LE encodings
                hs = np.fromiter(
                    (
                        hash63(single_value_bytes(v, "date"), seed)
                        for v in values
                    ),
                    dtype=np.uint64,
                    count=len(arr),
                )
                return hs[hs != 0]
            k1 = arr.astype(np.int32).view(np.uint32).astype(np.uint64)
            hs = _hash63_fixed_np(k1, 4, seed)
        elif ice_type == "float":
            f = arr.astype(np.float32)
            f = np.where(np.isnan(f), np.float32(np.nan), f + np.float32(0.0))
            k1 = f.view(np.uint32).astype(np.uint64)
            # canonical NaN: float32 NaN bit pattern 0x7FC00000
            k1 = np.where(
                np.isnan(f), np.uint64(0x7FC00000), k1
            )
            hs = _hash63_fixed_np(k1, 4, seed)
        elif ice_type == "double":
            d = arr.astype(np.float64) + 0.0
            k1 = d.view(np.uint64).copy()
            k1[np.isnan(d)] = np.uint64(0x7FF8000000000000)
            hs = _hash63_fixed_np(k1, 8, seed)
        elif ice_type in ("timestamp", "timestamptz", "time"):
            if arr.dtype.kind == "M":
                ints = arr.astype("datetime64[us]").astype("int64")
            elif arr.dtype.kind in "iu":
                ints = arr.astype("int64")
            else:
                ints = np.fromiter(
                    (_to_micros(v) for v in values),
                    dtype=np.int64,
                    count=len(arr),
                )
            hs = _hash63_fixed_np(ints.view(np.uint64), 8, seed)
        else:  # long
            k1 = arr.astype(np.int64).view(np.uint64)
            hs = _hash63_fixed_np(k1, 8, seed)
        return hs[hs != np.uint64(0)]
    out = []
    for v in values:
        b = single_value_bytes(v, ice_type)
        if b is None:
            continue
        h = hash63(b, seed)
        if h:
            out.append(h)
    return np.asarray(out, dtype=np.uint64)


# -- the sketch ---------------------------------------------------------------


@dataclass
class ThetaSketch:
    """A compact, ordered theta sketch: ``hashes`` is the ascending
    array of retained 63-bit values, every one of them < ``theta``."""

    theta: int = LONG_MAX
    hashes: np.ndarray = None  # type: ignore[assignment]
    lg_k: int = DEFAULT_LG_K
    seed_hash: int = 0

    def __post_init__(self) -> None:
        if self.hashes is None:
            self.hashes = np.empty(0, dtype=np.uint64)
        if not self.seed_hash:
            self.seed_hash = compute_seed_hash()

    # ---- construction

    @classmethod
    def from_hashes(
        cls, hashes: np.ndarray | Iterable[int], lg_k: int = DEFAULT_LG_K
    ) -> "ThetaSketch":
        """Build from raw update hashes (duplicates fine): keep the k
        smallest distinct; theta = the (k+1)-th smallest when more
        than k exist (the KMV rule — a valid theta sketch)."""
        hs = np.unique(np.asarray(list(hashes) if not isinstance(
            hashes, np.ndarray) else hashes, dtype=np.uint64))
        hs = hs[hs != np.uint64(0)]
        k = 1 << lg_k
        if len(hs) <= k:
            return cls(LONG_MAX, hs, lg_k)
        return cls(int(hs[k]), hs[:k].copy(), lg_k)

    @classmethod
    def from_values(
        cls,
        values: Sequence[Any],
        ice_type: str,
        lg_k: int = DEFAULT_LG_K,
    ) -> "ThetaSketch":
        return cls.from_hashes(hash_values(values, ice_type), lg_k)

    # ---- estimator / merge

    @property
    def is_exact(self) -> bool:
        return self.theta >= LONG_MAX

    def estimate(self) -> float:
        if self.is_exact:
            return float(len(self.hashes))
        return len(self.hashes) * LONG_MAX / self.theta

    def union(self, *others: "ThetaSketch") -> "ThetaSketch":
        """Standard theta union: cut everything at the minimum theta,
        merge, re-cut at k if the merge overflows."""
        sketches = (self, *others)
        for o in others:
            self._check_seed(o)
        lg_k = min(s.lg_k for s in sketches)
        theta = min(s.theta for s in sketches)
        merged = np.unique(
            np.concatenate([s.hashes for s in sketches])
        )
        merged = merged[merged < np.uint64(theta)]
        k = 1 << lg_k
        if len(merged) > k:
            theta = int(merged[k])
            merged = merged[:k].copy()
        return ThetaSketch(theta, merged, lg_k, self.seed_hash)

    def _check_seed(self, other: "ThetaSketch") -> None:
        # DataSketches set operations throw on seed-hash mismatch —
        # intersecting hash sets from different hash functions returns
        # a meaningless ~0 overlap, which a CBO would happily consume
        if self.seed_hash != other.seed_hash:
            raise ValueError(
                f"theta seed hash mismatch ({self.seed_hash} vs "
                f"{other.seed_hash}); sketches were built with different "
                "update seeds and cannot be combined"
            )

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        """Standard theta intersection: cut both at the minimum theta,
        keep the hash-set intersection.  The estimate |A∩B| feeds join
        selectivity (how many fact keys actually hit the dim) — far
        tighter than the containment assumption when key ranges barely
        overlap.  Matches DataSketches' Intersection (differential-
        tested: equal thetaLong, retained set, and estimate; mismatched
        seeds refused like DataSketches does)."""
        self._check_seed(other)
        theta = min(self.theta, other.theta)
        t = np.uint64(theta)
        merged = np.intersect1d(
            self.hashes[self.hashes < t], other.hashes[other.hashes < t]
        )
        return ThetaSketch(
            theta, merged, min(self.lg_k, other.lg_k), self.seed_hash
        )

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        """Theta set difference (DataSketches AnotB): hashes of A below
        min theta that are absent from B — e.g. "how many keys did this
        append introduce" from two snapshots' sketches, zero IO."""
        self._check_seed(other)
        theta = min(self.theta, other.theta)
        t = np.uint64(theta)
        a = self.hashes[self.hashes < t]
        keep = a[~np.isin(a, other.hashes)]
        return ThetaSketch(
            theta, keep, min(self.lg_k, other.lg_k), self.seed_hash
        )

    # ---- DataSketches compact serialization (serial version 3)

    def serialize(self) -> bytes:
        """DataSketches CompactSketch bytes, serial version 3 — verified
        BYTE-IDENTICAL to datasketches-java 6.2.0 output in exact mode
        (incl. the single-item form) and wrap-readable with matching
        estimates in estimation mode (tests/test_theta.py runs the
        differential through the bundled JVM library)."""
        flags = _F_READ_ONLY | _F_COMPACT | _F_ORDERED
        n = len(self.hashes)
        if n == 0 and self.is_exact:
            # DataSketches' EmptyCompactSketch is a seed-agnostic
            # singleton serialized with seed hash 0
            return struct.pack(
                "<BBBBBBH",
                1,
                SER_VER,
                FAMILY_COMPACT,
                0,
                0,
                flags | _F_EMPTY,
                0,
            )
        if n == 1 and self.is_exact:
            return struct.pack(
                "<BBBBBBH",
                1,
                SER_VER,
                FAMILY_COMPACT,
                0,
                0,
                flags | _F_SINGLEITEM,
                self.seed_hash,
            ) + self.hashes.astype("<u8").tobytes()
        if self.is_exact:
            head = struct.pack(
                "<BBBBBBHif",
                2,
                SER_VER,
                FAMILY_COMPACT,
                0,
                0,
                flags,
                self.seed_hash,
                n,
                1.0,
            )
        else:
            head = struct.pack(
                "<BBBBBBHifq",
                3,
                SER_VER,
                FAMILY_COMPACT,
                0,
                0,
                flags,
                self.seed_hash,
                n,
                1.0,
                self.theta,
            )
        return head + self.hashes.astype("<u8").tobytes()

    @classmethod
    def deserialize(
        cls, data: bytes, lg_k: int = DEFAULT_LG_K
    ) -> "ThetaSketch":
        """``lg_k`` restores the builder's nominal size — the compact
        serialization cannot carry it, and a union of partials
        deserialized at a SMALLER lg_k than they were built with would
        silently cut the merge at the smaller k (the
        build_column_sketches driver threads its own lg_k through)."""
        if len(data) < 8:
            raise ValueError("theta sketch blob shorter than a preamble")
        pre, ver, fam, _lg, _la, flags, seed_hash = struct.unpack_from(
            "<BBBBBBH", data, 0
        )
        if ver != SER_VER:
            raise ValueError(f"unsupported theta serial version {ver}")
        if fam != FAMILY_COMPACT:
            raise ValueError(f"not a compact theta sketch (family {fam})")
        if flags & _F_EMPTY:
            return cls(LONG_MAX, np.empty(0, dtype=np.uint64),
                       lg_k, seed_hash)
        if pre == 1:
            # single-item compact form: one hash, theta = MAX
            hs = np.frombuffer(data, dtype="<u8", count=1, offset=8)
            return cls(LONG_MAX, hs.astype(np.uint64), lg_k, seed_hash)
        count = struct.unpack_from("<i", data, 8)[0]
        if pre == 2:
            theta = LONG_MAX
            off = 16
        elif pre == 3:
            theta = struct.unpack_from("<q", data, 16)[0]
            off = 24
        else:
            raise ValueError(f"unsupported preamble length {pre}")
        hs = np.frombuffer(data, dtype="<u8", count=count, offset=off)
        return cls(int(theta), np.sort(hs.astype(np.uint64)),
                   lg_k, seed_hash)


# -- bounded streaming accumulator (per-partition builder state) --------------


class KmvAccumulator:
    """Bounded distinct-hash accumulator: never holds more than k+1
    hashes, so per-partition builder state is ~(k+1)*8 bytes per
    column REGARDLESS of row count — the property that makes the
    distributed build safe at any scale."""

    def __init__(self, lg_k: int = DEFAULT_LG_K) -> None:
        self.lg_k = lg_k
        self._cap = (1 << lg_k) + 1
        self._arr = np.empty(0, dtype=np.uint64)

    def add_hashes(self, hs: np.ndarray) -> None:
        if len(hs) == 0:
            return
        if len(self._arr) == self._cap:
            hs = hs[hs < self._arr[-1]]
            if len(hs) == 0:
                return
        self._arr = np.unique(np.concatenate([self._arr, hs]))[: self._cap]

    def sketch(self) -> ThetaSketch:
        k = 1 << self.lg_k
        if len(self._arr) <= k:
            return ThetaSketch(LONG_MAX, self._arr.copy(), self.lg_k)
        return ThetaSketch(int(self._arr[k]), self._arr[:k].copy(), self.lg_k)


def _arrow_column_hashes(arr: Any, ice_type: str) -> np.ndarray:
    """63-bit update hashes for one arrow array's NON-NULL values.
    Arrow (not pandas) is the executor transport precisely because it
    keeps NULL distinct from NaN (pandas folds both into float NaN —
    NaN doubles would vanish from the sketch while COUNT(DISTINCT)
    counts them) and never routes nullable int64 through float64
    (which corrupts values past 2^53)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    vals = pc.unique(arr.drop_null())
    if len(vals) == 0:
        return np.empty(0, dtype=np.uint64)
    if ice_type in ("long", "int"):
        return hash_values(vals.to_numpy(zero_copy_only=False), ice_type)
    if ice_type == "date":
        days = vals.cast(pa.int32()).to_numpy(zero_copy_only=False)
        return hash_values(days, "int")  # date = 4-byte LE days
    if ice_type in ("timestamp", "timestamptz", "time"):
        micros = vals.cast(pa.int64()).to_numpy(zero_copy_only=False)
        return hash_values(micros, ice_type)
    if ice_type in ("float", "double"):
        return hash_values(vals.to_numpy(zero_copy_only=False), ice_type)
    return hash_values(vals.to_pylist(), ice_type)


def build_column_sketches(
    df: Any,
    colspecs: Sequence[tuple[str, str]],
    lg_k: int = DEFAULT_LG_K,
) -> dict[str, ThetaSketch]:
    """One distributed pass over ``df`` building a theta sketch per
    column.  Each task deduplicates batch values (arrow ``unique`` —
    NULL/NaN-exact, see ``_arrow_column_hashes``), hashes them
    (vectorized for fixed-width types), folds them into a bounded KMV
    accumulator, and emits ONE serialized partial sketch per column;
    the driver unions partials.  Driver + task state are both bounded
    by (k+1)*8 bytes per column per partition — at any table size the
    collect is sketches, never values."""
    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    names = [c for c, _ in colspecs]
    types = {c: t for c, t in colspecs}
    out_schema = StructType(
        [
            StructField("col", StringType()),
            StructField("sketch", BinaryType()),
        ]
    )

    def build(iterator):
        import pyarrow as pa

        accs = {c: KmvAccumulator(lg_k) for c in names}
        for batch in iterator:
            cols = {n: i for i, n in enumerate(batch.schema.names)}
            for c in names:
                accs[c].add_hashes(
                    _arrow_column_hashes(batch.column(cols[c]), types[c])
                )
        yield pa.RecordBatch.from_pydict(
            {
                "col": names,
                "sketch": [accs[c].sketch().serialize() for c in names],
            },
            schema=pa.schema(
                [pa.field("col", pa.string()), pa.field("sketch", pa.binary())]
            ),
        )

    rows = df.select(*names).mapInArrow(build, schema=out_schema).collect()
    partials: dict[str, list[ThetaSketch]] = {c: [] for c in names}
    for r in rows:
        partials[r["col"]].append(
            ThetaSketch.deserialize(bytes(r["sketch"]), lg_k)
        )
    return {c: _union_all(partials[c], lg_k) for c in names}


# ---------------------------------------------------------------------------
# Grouped NDV (r12): per-group theta sketches as an engine-extension blob —
# "distinct users by day" served metadata-only, completing the grouped
# statistics family (grouped MIN/MAX/COUNT/SUM via identity pushdown,
# grouped percentiles via the grouped quantile blobs, grouped NDV here).

GROUPED_THETA_BLOB_TYPE = "daskberg-theta-grouped-v1"
# per-(file, group, column) partial sketches — the mergeable substrate
# that makes the grouped refresh O(new + dirty files) (r13).  RAW file
# content (no delete application): the blob describes the immutable
# file, so it is snapshot-independent and later-entries-win per file,
# exactly like the per-file CDF partials (quantiles.py)
GROUPED_THETA_FILE_BLOB_TYPE = "daskberg-theta-files-grouped-v1"
# per-task builder state is groups x (2^lg_k + 1) x 8 bytes per column —
# the cap keeps it a few MB at the default lg_k
MAX_THETA_GROUPS = 2000


def build_grouped_column_sketches(
    df: Any,
    group_cols: list[str],
    colspecs: Sequence[tuple[str, str]],
    lg_k: int = DEFAULT_LG_K,
    max_groups: int | None = None,
    cap_cols: list[str] | None = None,
    group_types: Sequence[str | None] | None = None,
) -> dict[tuple, dict[str, ThetaSketch]]:
    """One distributed pass building a theta sketch per (group tuple,
    column): each task splits every arrow batch by the group key,
    folds the subset's hashes into a bounded KMV accumulator per
    (group, column), and emits ONE serialized partial per pair; the
    driver unions partials per group.  Task and driver state are both
    sketches, never values — bounded by groups × (k+1)·8 B per column.
    Group keys ride as a JSON array string (int/str/bool/None round-trip
    exactly; dates encode to ISO strings — the grouped-quantile blob's
    convention — and the CALLER gates group-column types).

    ``max_groups`` with ``cap_cols`` (a subset of ``group_cols``, e.g.
    the real grouping minus the ``__file`` tag) folds the group-count
    gate into this same pass (r13 advisor — no separate
    ``distinct().count()`` scan): every TASK raises as soon as its
    local distinct cap-key count exceeds the cap (task-local distinct
    is a lower bound on global, so raising is sound and bounds task
    state BEFORE the blow-up), and the driver re-checks the global
    union after collect."""
    import json as _json

    from pyspark.sql.types import (
        BinaryType,
        StringType,
        StructField,
        StructType,
    )

    names = [c for c, _ in colspecs]
    types = {c: t for c, t in colspecs}
    cap_idx = (
        [group_cols.index(g) for g in cap_cols]
        if (max_groups is not None and cap_cols)
        else None
    )
    out_schema = StructType(
        [
            StructField("grp", StringType()),
            StructField("col", StringType()),
            StructField("sketch", BinaryType()),
        ]
    )

    def build(iterator):
        import collections

        import pyarrow as pa

        # dates/timestamps → ISO strings (JSON can't carry them);
        # THE shared codec (groupkeys.py, r15) so the theta and
        # quantile key spaces can never drift — Arrow hands this
        # builder NTZ walls naive (encoded verbatim) and LTZ instants
        # session-TZ-aware (normalized to the payload's UTC-naive
        # convention), keyed by ``group_types``
        from daskberg_spark.iceberg.groupkeys import encode_group_value

        gtypes = list(group_types or [None] * len(group_cols))

        def enc(v, j):
            return encode_group_value(v, gtypes[j])

        accs: dict[tuple[str, str], KmvAccumulator] = {}
        cap_seen: set[tuple] = set()
        for batch in iterator:
            cols = {n: i for i, n in enumerate(batch.schema.names)}
            gcols = [batch.column(cols[g]).to_pylist() for g in group_cols]
            rows_by_key = collections.defaultdict(list)
            for i, key in enumerate(zip(*gcols)):
                rows_by_key[
                    _json.dumps(
                        [enc(v, j) for j, v in enumerate(key)],
                        sort_keys=True,
                    )
                ].append(i)
                if cap_idx is not None:
                    cap_seen.add(tuple(enc(key[j], j) for j in cap_idx))
            if cap_idx is not None and len(cap_seen) > max_groups:
                raise ValueError(
                    f"more than {max_groups} distinct {cap_cols} tuples — "
                    "grouped sketches must stay metadata-sized"
                )
            for gkey, idxs in rows_by_key.items():
                take = pa.array(idxs, type=pa.int64())
                for c in names:
                    sub = batch.column(cols[c]).take(take)
                    acc = accs.get((gkey, c))
                    if acc is None:
                        acc = accs[(gkey, c)] = KmvAccumulator(lg_k)
                    acc.add_hashes(_arrow_column_hashes(sub, types[c]))
        yield pa.RecordBatch.from_pydict(
            {
                "grp": [g for g, _c in accs],
                "col": [c for _g, c in accs],
                "sketch": [a.sketch().serialize() for a in accs.values()],
            },
            schema=pa.schema(
                [
                    pa.field("grp", pa.string()),
                    pa.field("col", pa.string()),
                    pa.field("sketch", pa.binary()),
                ]
            ),
        )

    try:
        rows = (
            df.select(*group_cols, *names)
            .mapInArrow(build, schema=out_schema)
            .collect()
        )
    except Exception as e:
        # a task tripping the cap surfaces as a wrapped PythonException;
        # re-raise the documented ValueError the driver-side check throws
        if "must stay metadata-sized" in str(e):
            raise ValueError(
                f"more than {max_groups} distinct {cap_cols} tuples — "
                "grouped sketches must stay metadata-sized"
            ) from None
        raise
    partials: dict[tuple, dict[str, list[ThetaSketch]]] = {}
    for r in rows:
        key = tuple(_json.loads(r["grp"]))
        partials.setdefault(key, {}).setdefault(r["col"], []).append(
            ThetaSketch.deserialize(bytes(r["sketch"]), lg_k)
        )
    if cap_idx is not None:
        global_caps = {
            tuple(k[j] for j in cap_idx) for k in partials
        }
        if len(global_caps) > max_groups:
            raise ValueError(
                f"more than {max_groups} distinct {cap_cols} tuples — "
                "grouped sketches must stay metadata-sized"
            )
    return {
        key: {c: _union_all(parts, lg_k) for c, parts in by_col.items()}
        for key, by_col in partials.items()
    }


# group-key types whose values round-trip exactly through the
# builder's key encoding and the blob payload (dates as ISO strings —
# r13 — and timestamps as ISO-micros strings — r14 — decoded by
# consumers via quantiles.decode_group_value).  Raw timestamp keys
# usually trip max_groups first; the useful form is a derived
# day()/hour() key (groupkeys.py), which lands here as date/timestamp.
_THETA_GROUP_KEY_TYPES = {
    "int",
    "long",
    "string",
    "boolean",
    "date",
    "timestamp",
    "timestamptz",
    "timestampz",
}


def _b64_sketch(sk: ThetaSketch) -> str:
    import base64 as _b64

    return _b64.b64encode(sk.serialize()).decode()


def _from_b64(b64: str, lg_k: int) -> ThetaSketch:
    import base64 as _b64

    return ThetaSketch.deserialize(_b64.b64decode(b64), lg_k)


def _union_all(parts: list[ThetaSketch], lg_k: int) -> ThetaSketch:
    """One theta union over ``parts`` (the empty sketch for none)."""
    if not parts:
        return ThetaSketch(LONG_MAX, np.empty(0, dtype=np.uint64), lg_k)
    return parts[0].union(*parts[1:]) if len(parts) > 1 else parts[0]


def _grouped_blobs(writer, sketches_by_col, group_cols, lg_k, snapshot_id, merged):
    """One ``daskberg-theta-grouped-v1`` blob per column from ``{column:
    {group key: sketch}}``, groups in key order ({"key", "ndv", "exact",
    "sketch": base64})."""
    from daskberg_spark.iceberg.statsblobs import json_blob

    seq = writer._last_sequence_number
    blobs = []
    for c, by_key in sketches_by_col.items():
        groups = [
            {
                "key": list(key),
                "ndv": int(round(sk.estimate())),
                "exact": bool(sk.is_exact),
                "sketch": _b64_sketch(sk),
            }
            for key, sk in sorted(
                by_key.items(),
                key=lambda kv: tuple((v is None, v) for v in kv[0]),
            )
        ]
        payload = {"group_cols": list(group_cols), "lg_k": lg_k, "groups": groups}
        if merged:
            payload["merged"] = True
        blobs.append(
            json_blob(GROUPED_THETA_BLOB_TYPE, writer, c, payload, snapshot_id, seq)
        )
    return blobs


def _publish_grouped(writer, t, tag, snapshot_id, columns, group_cols, blobs):
    """Publish a grouped NDV entry, replacement CONFIG-scoped (r14):
    writing "NDV by source" never clobbers a same-snapshot "NDV by day"
    entry."""
    from daskberg_spark.iceberg.statsblobs import publish_grouped

    return publish_grouped(
        writer,
        t,
        GROUPED_THETA_BLOB_TYPE,
        "theta-grouped",
        f"{tag}{snapshot_id}{sorted(columns)}{group_cols}",
        snapshot_id,
        group_cols,
        blobs,
    )


def write_grouped_theta_statistics(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str] | None = None,
    lg_k: int = DEFAULT_LG_K,
    max_groups: int = MAX_THETA_GROUPS,
    scan_source=None,
) -> str | None:
    """PER-GROUP NDV sketches — the grouped twin of
    ``write_table_statistics`` (r12): one distributed pass builds a
    theta sketch per (``group_cols`` tuple, value column), packed as
    one ``daskberg-theta-grouped-v1`` Puffin blob per value column on
    the current snapshot ({"key", "ndv", "exact", "sketch":
    base64} per group — the serialized sketches keep the blob
    mergeable for future refresh paths).  ``agg.ndv_groupby`` serves
    "distinct users by day" metadata-only from it; below the sketch's
    nominal k each group's estimate is EXACT.  Refuses above
    ``max_groups`` distinct tuples (builder state is groups × (k+1)·8
    bytes per task per column) and restricts group columns to
    JSON-round-trippable types."""
    import daskberg_spark.iceberg.scan  # noqa: F401  (attaches .to_df)

    from daskberg_spark.iceberg.metadata import IcebergTable

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    if not group_cols:
        raise ValueError("group_cols must be non-empty")
    from daskberg_spark.iceberg.groupkeys import (
        apply_group_keys,
        gate_group_key,
        group_key_base,
        group_key_type,
    )

    types = dict(writer.types)
    for g in group_cols:
        gate_group_key(g, types, _THETA_GROUP_KEY_TYPES, "grouped NDV keys")
    if columns is None:
        columns = sorted(
            c
            for c, t in types.items()
            if sketchable(t) and c not in group_cols
        )
    else:
        for c in columns:
            if c not in types:
                raise ValueError(f"unknown column {c!r}")
            if not sketchable(types[c]):
                raise ValueError(
                    f"column {c!r} has type {types[c]!r} — not sketchable"
                )
    if not columns:
        return None
    snapshot_id = writer.head_snapshot["snapshot-id"]
    t = IcebergTable(writer.path)
    bases = {group_key_base(g, types) for g in group_cols}
    need = sorted(bases | set(columns))
    # one-scan bootstrap (r16): this full-table write needs CURRENT
    # content, so it may only serve from a shared cache through the
    # delete-state gate — raw rows equal current rows exactly when no
    # delete applies to any live file at the scan's planned snapshot;
    # otherwise fall back to the delete-aware direct read below
    src = (
        scan_source.current_frame(t.plan_files(None), need, snapshot_id)
        if scan_source is not None
        else None
    )
    if src is None:
        src = t.to_df(spark, columns=need)
    df = apply_group_keys(src, group_cols, types)
    # the EXACT max_groups gates ride inside the sketch pass (per-task
    # lower bound + driver re-check after collect; r13 advisor removed
    # the distinct().count() double-read).  A cheap ADVISORY pre-gate
    # guards the blow-up case those exact gates can't bound early: with
    # T tasks of disjoint groups the driver could collect up to
    # T·max_groups partial rows before the re-check raises (r14
    # advisor).  approx_count_distinct over the key columns alone is a
    # column-pruned single-aggregate pass; the 1.25 slack keeps its ~2%
    # rsd from refusing a legitimately ≤max_groups grouping — anything
    # past the slack is caught here before building sketches, anything
    # inside it by the exact gates.
    from pyspark.sql import functions as F

    est = df.select(
        F.approx_count_distinct(F.struct(*group_cols)).alias("g")
    ).first()["g"]
    if est > max_groups * 1.25:
        raise ValueError(
            f"more than {max_groups} distinct {list(group_cols)} tuples — "
            "grouped sketches must stay metadata-sized"
        )
    sketches = build_grouped_column_sketches(
        df,
        group_cols,
        [(c, types[c]) for c in columns],
        lg_k,
        max_groups=max_groups,
        cap_cols=list(group_cols),
        group_types=[group_key_type(g, types) for g in group_cols],
    )
    by_col = {
        c: {k: by[c] for k, by in sketches.items() if c in by} for c in columns
    }
    blobs = _grouped_blobs(writer, by_col, group_cols, lg_k, snapshot_id, False)
    return _publish_grouped(
        writer, t, "gtheta", snapshot_id, columns, group_cols, blobs
    )


def write_file_grouped_theta_partials(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str],
    file_subset=None,
    lg_k: int = DEFAULT_LG_K,
    max_groups: int = MAX_THETA_GROUPS,
    scan_source=None,
) -> str | None:
    """Per-(file, group, column) theta sketches in ONE distributed
    pass — the mergeable substrate of the grouped-NDV family (r13),
    written through ``statsblobs.write_file_partials``.  Reads RAW
    file contents (no delete application — the blob describes the
    immutable file, so it stays valid at every snapshot) tagged by
    ``__file``; per (file, group) only one serialized sketch per
    column reaches the driver, and in exact mode (below k distinct)
    the union of per-file sketches IS the exact distinct set — so a
    refresh built from them matches COUNT(DISTINCT) bit-for-bit.
    ``file_subset`` (paths) restricts the pass — the incremental
    refresh — and the entry APPENDS (later entries win per file);
    without it the snapshot's partials entry is replaced.  Returns
    the Puffin path or None when nothing scans."""
    from daskberg_spark.iceberg.groupkeys import gate_group_key, group_key_type
    from daskberg_spark.iceberg.statsblobs import write_file_partials

    if not writer.snapshots:
        raise ValueError("table has no snapshots")
    types = dict(writer.types)
    for g in group_cols:
        gate_group_key(g, types, _THETA_GROUP_KEY_TYPES, "grouped NDV keys")
    for c in columns:
        if c not in types or not sketchable(types[c]):
            raise ValueError(f"column {c!r} missing or not sketchable")

    def kernel(df, _scan_files):
        # "__file" rides as one more group column: per-(file, group,
        # col) partials fall out of the existing bounded distributed
        # builder.  The max_groups gate rides INSIDE the same pass (r13
        # advisor: a separate distinct().count() read every refreshed
        # file twice) — cap_cols excludes the __file tag so many files
        # never trip it.
        sketches = build_grouped_column_sketches(
            df,
            ["__file"] + list(group_cols),
            [(c, types[c]) for c in columns],
            lg_k,
            max_groups=max_groups if group_cols else None,
            cap_cols=list(group_cols) or None,
            group_types=[None] + [group_key_type(g, types) for g in group_cols],
        )
        out: dict[str, dict] = {c: {} for c in columns}
        for key, by_col in sketches.items():
            p, gkey = key[0], _file_key(key[1:])
            for c in columns:
                sk = by_col.get(c)
                if sk is not None:
                    out[c].setdefault(p, {})[gkey] = _b64_sketch(sk)
        return out

    return write_file_partials(
        writer,
        spark,
        GROUPED_THETA_FILE_BLOB_TYPE,
        "theta-files-grouped",
        "fgtheta",
        columns,
        group_cols,
        file_subset,
        empty={},
        extras=lambda c: {"lg_k": lg_k},
        kernel=kernel,
        scan_source=scan_source,
    )


def _file_key(key: tuple) -> str:
    """The per-file payload's group key encoding: a JSON array string
    (round-trips int/str/bool/None exactly — the same gate the grouped
    writer applies to group-column types)."""
    import json as _json

    return _json.dumps(list(key), sort_keys=True)


def write_file_theta_partials(
    writer,
    spark,
    columns: list[str] | None = None,
    file_subset=None,
    lg_k: int = DEFAULT_LG_K,
    scan_source=None,
) -> str | None:
    """Per-(file, column) theta partials — the UNGROUPED special case
    of ``write_file_grouped_theta_partials`` (``group_cols=[]``: every
    file's rows fall in the one empty-tuple group).  Opting a table in
    upgrades ``refresh_table_statistics`` from the append-window union
    (full rebuild on overwrites, compaction, or >20% deletes) to the
    partials path: EXACT at O(new + dirty files) under any commit
    shape (r13)."""
    if columns is None:
        columns = _sketchable_columns(writer)
    return write_file_grouped_theta_partials(
        writer,
        spark,
        [],
        columns,
        file_subset=file_subset,
        lg_k=lg_k,
        scan_source=scan_source,
    )


def _sketchable_columns(writer) -> list[str]:
    return sorted(
        c
        for c, t in dict(writer.types).items()
        if isinstance(t, str) and sketchable(t)
    )


def _ungrouped_partials_lg_k(writer, t) -> int | None:
    """The global-NDV partials opt-in: the lg_k the LATEST ungrouped
    per-file partials were built with, None when none exist."""
    from daskberg_spark.iceberg.statsblobs import blob_payloads

    lg_k = None
    for _e, _b, payload in blob_payloads(
        t, writer.statistics, GROUPED_THETA_FILE_BLOB_TYPE
    ):
        if payload.get("group_cols") == []:
            lg_k = int(payload.get("lg_k") or DEFAULT_LG_K)
    return lg_k


def _consolidate_theta_partials(writer, t, group_cols, columns, lg_k) -> bool:
    """Repack accumulated per-file theta sketch entries into ONE
    live-files-only entry covering EVERY (grouping, column) pair —
    grouped and ungrouped flavors share the blob type (the caller's
    final metadata write persists it)."""
    from daskberg_spark.iceberg.statsblobs import (
        consolidate_partials,
        partial_pairs,
    )

    return consolidate_partials(
        writer,
        t,
        GROUPED_THETA_FILE_BLOB_TYPE,
        "theta-files-grouped",
        lambda: partial_pairs(writer, t, GROUPED_THETA_FILE_BLOB_TYPE),
        lambda c: {"lg_k": lg_k},
        salt=str(sorted(columns)) + str(group_cols),
    )


def refresh_column_sketches_from_partials(
    writer, spark, lg_k: int | None = None, scan_source=None
) -> tuple[dict[str, "ThetaSketch"], dict[str, Any]] | None:
    """The partials path of the GLOBAL NDV refresh (r13): union stored
    per-file sketches for clean live files, partial-scan only
    uncovered clean files, re-read delete-dirtied files delete-aware.
    None when the table never opted in (no ungrouped partials blob) —
    ``refresh_table_statistics`` then keeps its append-window logic.
    The opt-in is TABLE-level: once any ungrouped partials blob
    exists, the refresh covers EVERY currently-sketchable column
    (columns added since the opt-in bootstrap their partials in the
    missing-files pass), so the published NDV entry never silently
    narrows.  ``lg_k=None`` (the only caller's mode) restores the
    nominal size the LATEST stored partials were built with — a table
    opted in at lg_k=16 must not have its sketches unioned or its
    missing-file bootstrap written at the k=4096 default, which would
    silently narrow the exact-below-k guarantee the opt-in paid for
    (mirrors ``refresh_grouped_theta_statistics``; r13 advisor).
    Returns (sketches by column, report)."""
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import catch_up_partials, dirty_read

    t = IcebergTable(writer.path)
    stored_lg_k = _ungrouped_partials_lg_k(writer, t)
    if stored_lg_k is None:
        return None
    if lg_k is None:
        lg_k = stored_lg_k
    types = dict(writer.types)
    columns = _sketchable_columns(writer)
    if not columns:
        return None
    cu = catch_up_partials(
        writer,
        t,
        columns,
        lambda t_, c: grouped_theta_filesketches(t_, c, []),
        lambda missing: write_file_grouped_theta_partials(
            writer,
            spark,
            [],
            columns,
            file_subset=missing,
            lg_k=lg_k,
            scan_source=scan_source,
        ),
    )
    _consolidate_theta_partials(writer, cu.t, [], columns, lg_k)
    empty_key = _file_key(())
    merged = {
        c: _union_all(
            [
                _from_b64(b64, lg_k)
                for p in sorted(cu.clean)
                if (b64 := (cu.maps[c].get(p) or {}).get(empty_key))
                is not None
            ],
            lg_k,
        )
        for c in columns
    }
    if cu.dirty:
        df = dirty_read(cu.t, spark, cu.dirty, columns, scan_source)
        fresh = build_column_sketches(
            df, [(c, types[c]) for c in columns], lg_k
        )
        for c in columns:
            merged[c] = merged[c].union(fresh[c])
    report = {
        "columns": list(columns),
        "files_total": len(cu.files),
        "partials_computed": len(cu.missing),
        "dirty_files": len(cu.dirty),
    }
    return merged, report


def grouped_theta_filesketches(
    table, name: str, group_cols: list[str]
) -> dict[str, dict[str, str]] | None:
    """Merged per-file grouped sketch partials for a column across
    every statistics entry (later entries win per file):
    ``{normalized_path: {json_group_key: b64_sketch}}``, or None when
    no blob covers the column with EXACTLY these group columns."""
    from daskberg_spark.iceberg.statsblobs import file_partials

    return file_partials(
        table, GROUPED_THETA_FILE_BLOB_TYPE, name, group_cols
    )


def _theta_runnable(types, gc: tuple, cfg: dict):
    """(group_cols, value columns, lg_k) of a registered grouping that
    can still refresh — its value columns sketchable and its keys of a
    round-trippable type — else None."""
    from daskberg_spark.iceberg.groupkeys import group_key_type

    def _key_ok(g: str) -> bool:
        try:
            return group_key_type(g, types) in _THETA_GROUP_KEY_TYPES
        except ValueError:
            return False

    cols = [c for c in cfg["columns"] if c in types and sketchable(types[c])]
    if not (gc and cols and all(_key_ok(g) for g in gc)):
        return None
    return list(gc), cols, int(cfg["payload"].get("lg_k") or DEFAULT_LG_K)


def refresh_grouped_theta_statistics(
    writer,
    spark,
    max_groups: int = MAX_THETA_GROUPS,
    scan_source=None,
    skip_head_covered: bool = False,
) -> dict[str, Any] | None:
    """Advance the GROUPED NDV blobs to the current snapshot at
    O(new + dirty files) cost (r13) — the refresh path the r12 blobs
    were serialized mergeable for, closing the last full-rebuild-only
    statistics family.  Per-file grouped sketch partials already on
    record are REUSED for clean files (theta union is the blob's
    native merge, and in exact mode the union is exactly the distinct
    set, so ``ndv_groupby`` stays bit-equal to COUNT(DISTINCT));
    clean files no partial covers take one raw grouped pass
    (``write_file_grouped_theta_partials``), and files with
    possibly-applicable deletes take one delete-aware restricted scan
    (a sketch cannot subtract, so a dirtied file's raw-content partial
    can't be trusted).  Compaction needs no special case: rewritten
    files' partials re-derive the same hashes, and union is
    idempotent.

    EVERY grouping any blob ever defined refreshes (multi-config,
    r14) — drop one deliberately with
    ``drop_grouped_theta_statistics``; each takes (value columns,
    lg_k) from its latest blob.  ``skip_head_covered`` (maintain())
    skips a grouping whose own entry already covers the head (r15).
    The first call bootstraps partials at one-full-pass cost; every
    later call is incremental.  Returns ``{"path", "columns",
    "files_total", "partials_computed", "dirty_files", "groups"}``
    (merged with a ``"configs"`` list over several groupings), or
    None on tables that never wrote a grouped blob."""
    from daskberg_spark.iceberg.statsblobs import refresh_configs

    types = dict(writer.types)
    return refresh_configs(
        writer,
        GROUPED_THETA_BLOB_TYPE,
        skip_head_covered,
        lambda gc, cfg: _theta_runnable(types, gc, cfg),
        lambda gc, cols, lg_k: _refresh_grouped_theta_config(
            writer, spark, gc, cols, lg_k, max_groups, scan_source
        ),
        lambda reports: {
            "columns": sorted({c for r in reports for c in r["columns"]})
        },
    )


def _refresh_grouped_theta_config(
    writer,
    spark,
    group_cols: list[str],
    columns: list[str],
    lg_k: int,
    max_groups: int,
    scan_source,
) -> dict[str, Any]:
    """One grouping's incremental refresh."""
    import json as _json

    from daskberg_spark.iceberg.groupkeys import (
        apply_group_keys,
        group_key_base,
        group_key_type,
    )
    from daskberg_spark.iceberg.metadata import IcebergTable
    from daskberg_spark.iceberg.statsblobs import catch_up_partials, dirty_read

    types = dict(writer.types)
    snapshot_id = writer.head_snapshot["snapshot-id"]
    cu = catch_up_partials(
        writer,
        IcebergTable(writer.path),
        columns,
        lambda t_, c: grouped_theta_filesketches(t_, c, group_cols),
        lambda missing: write_file_grouped_theta_partials(
            writer,
            spark,
            group_cols,
            columns,
            file_subset=missing,
            lg_k=lg_k,
            max_groups=max_groups,
            scan_source=scan_source,
        ),
    )
    _consolidate_theta_partials(writer, cu.t, group_cols, columns, lg_k)
    # union the clean partials per (group, column)
    merged: dict[str, dict[tuple, ThetaSketch]] = {c: {} for c in columns}
    for c in columns:
        for p in sorted(cu.clean):
            for gkey, b64 in (cu.maps[c].get(p) or {}).items():
                key = tuple(_json.loads(gkey))
                sk = _from_b64(b64, lg_k)
                prev = merged[c].get(key)
                merged[c][key] = sk if prev is None else prev.union(sk)
    if cu.dirty:
        dirty_cols = sorted(
            {group_key_base(g, types) for g in group_cols} | set(columns)
        )
        df = dirty_read(cu.t, spark, cu.dirty, dirty_cols, scan_source)
        df = apply_group_keys(df, list(group_cols), types)
        fresh = build_grouped_column_sketches(
            df,
            list(group_cols),
            [(c, types[c]) for c in columns],
            lg_k,
            group_types=[group_key_type(g, types) for g in group_cols],
        )
        for key, by_col in fresh.items():
            for c in columns:
                sk = by_col.get(c)
                if sk is None:
                    continue
                prev = merged[c].get(key)
                merged[c][key] = sk if prev is None else prev.union(sk)
    n_groups = max((len(m) for m in merged.values()), default=0)
    if n_groups > max_groups:
        raise ValueError(
            f"{n_groups} merged {group_cols} tuples exceed max_groups="
            f"{max_groups} — grouped sketches must stay metadata-sized"
        )
    # ndv-0 groups (all-NULL values) stay in, matching the fresh
    # builder; fully-deleted groups never reach `merged` (their files
    # are dead or their rows fail the dirty scan)
    blobs = _grouped_blobs(writer, merged, group_cols, lg_k, snapshot_id, True)
    path = _publish_grouped(
        writer, cu.t, "mgtheta", snapshot_id, columns, group_cols, blobs
    )
    return {
        "path": path,
        "group_cols": list(group_cols),
        "columns": list(columns),
        "files_total": len(cu.files),
        "partials_computed": len(cu.missing),
        "dirty_files": len(cu.dirty),
        "groups": n_groups,
    }


def plan_global_ndv_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT global-NDV partials
    refresh: ``(raw_norm_paths, raw_columns, dirty_columns)`` — the
    theta row of the ``statsblobs.stats_families`` table that
    ``onepass.plan_shared_stats_scan`` composes.  Empty sets when the
    table never opted in or nothing needs scanning.  Planning is
    advisory: a stale plan only changes shared-cache membership — the
    refresh falls back to its own direct read for anything the shared
    frame can't serve, never to a wrong answer."""
    from daskberg_spark.iceberg.statsblobs import plan_missing

    columns = _sketchable_columns(writer)
    if _ungrouped_partials_lg_k(writer, t) is None or not columns:
        return set(), set(), set()
    return plan_missing(
        t, columns, lambda t_, c: grouped_theta_filesketches(t_, c, [])
    )


def plan_grouped_ndv_refresh_scan(writer, t):
    """Metadata-only scan plan for the NEXT grouped-NDV refresh:
    ``(raw_norm_paths, raw_columns, dirty_columns)`` over exactly the
    groupings the refresh would run (head-covered ones skipped).  Raw
    and dirty columns include the group columns — the partial and
    dirty passes both group by them."""
    from daskberg_spark.iceberg.groupkeys import group_key_base
    from daskberg_spark.iceberg.statsblobs import (
        _dirty_split,
        clean_paths,
        runnable_configs,
        uncovered,
    )

    types = dict(writer.types)
    runnable = runnable_configs(
        writer,
        t,
        GROUPED_THETA_BLOB_TYPE,
        lambda gc, cfg: _theta_runnable(types, gc, cfg),
    )
    if not runnable:
        return set(), set(), set()
    files, dirty = _dirty_split(t)
    clean = clean_paths(files, dirty)
    missing: set[str] = set()
    cols: set[str] = set()
    for gc, columns, _lg_k in runnable:
        missing |= uncovered(
            clean, [grouped_theta_filesketches(t, c, gc) or {} for c in columns]
        )
        cols |= {group_key_base(g, types) for g in gc} | set(columns)
    return missing, cols, (cols if dirty else set())


def drop_grouped_theta_statistics(
    writer, group_cols: list[str], drop_unreadable: bool = False
) -> int:
    """Stop maintaining one grouping (r14 multi-config complement):
    removes every statistics entry whose grouped theta blob keys on
    EXACTLY ``group_cols`` — at any snapshot, so the refresh's config
    registry forgets it — and returns the removed entry count.
    Metadata-only; the superseded Puffin files become orphans for the
    next sweep.  An entry whose blob can't be READ is kept by default
    (r15): a transient IO error must not delete a healthy DIFFERENT
    grouping's statistics; pass ``drop_unreadable=True`` to sweep
    genuinely corrupt entries deliberately."""
    from daskberg_spark.iceberg.statsblobs import drop_grouped

    return drop_grouped(
        writer, GROUPED_THETA_BLOB_TYPE, group_cols, drop_unreadable
    )
