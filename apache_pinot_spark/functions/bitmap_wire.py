"""RoaringBitmap (org.roaringbitmap) BYTES wire interop.

Pinot's ``DISTINCTCOUNTBITMAP`` over a BYTES column treats every cell as
a SERIALIZED 32-bit RoaringBitmap, ORs them together, and returns the
union's cardinality (DistinctCountBitmapAggregationFunction — the
reference's schema docs name BYTES metric columns for exactly this
migration shape, configuration-reference/schema.md:48).  This module
makes those migrated columns load here: parse, union, cardinality, and
re-serialization that is byte-identical to the Java library so blobs
built HERE load in any RoaringBitmap implementation.

Everything derives from the PUBLIC RoaringFormatSpec
(github.com/RoaringBitmap/RoaringFormatSpec — the interoperable
serialization implemented by the Java, C, Go and Rust libraries), and
is golden-tested byte-for-byte against the real ``RoaringBitmap-1.3.0``
jar that ships on Spark's classpath:

    cookie (little-endian, 4 bytes):
      12346 (SERIAL_COOKIE_NO_RUNCONTAINER): followed by int32 container
            count; NO run containers anywhere in the stream.
      12347 (SERIAL_COOKIE, low 16 bits): container count - 1 in the
            HIGH 16 bits; followed by ceil(size/8) bytes — a little-
            endian bitset flagging which containers are run-encoded.
    descriptive header: per container, uint16 key (value >> 16) then
            uint16 cardinality-1.
    offset header: int32 byte offset (from stream start) of each
            container's payload.  Present always for cookie 12346, and
            for cookie 12347 only when size >= NO_OFFSET_THRESHOLD (4).
    container payloads, ascending key order:
      array  (card <= 4096, not run): cardinality sorted uint16 values
      bitmap (card >  4096, not run): 1024 uint64 words (8 KiB), LE,
             bit i of word w  <=>  value (w<<6)+i present
      run:   uint16 run count, then per run (uint16 start,
             uint16 length-1) — value range [start, start+length]

In-memory representation here: ``dict[int high16] -> np.uint64[1024]``
dense bitset per container key.  Dense-per-key is the right shape for
the UNION hot path (a grouped aggregate ORs thousands of blobs: OR of
aligned uint64 words vectorizes; array/run containers are expanded once
at parse).  At 65 KiB per touched key the transient state is bounded by
the value universe's high-16 spread, not by row count — the same bound
the Java library's BitmapContainer carries.

``run_optimize()`` reproduces the Java library's container-selection
rule (Container.runOptimize: convert to run encoding iff the run form
is strictly smaller than the current representation's serialized size)
so ``serialize(run_optimize=True)`` is byte-identical to
``RoaringBitmap.runOptimize(); serialize()`` — pinned by the jar tests.
"""

from __future__ import annotations

import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint inference needs 'pd.*'

SERIAL_COOKIE_NO_RUN = 12346
SERIAL_COOKIE = 12347
NO_OFFSET_THRESHOLD = 4

_WORDS = 1024  # uint64 words per container bitset (2^16 bits)
_ARRAY_MAX = 4096  # max cardinality of an array container

# popcount via byte lookup (numpy 1.26 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint16)


def _popcount(words: np.ndarray) -> int:
    return int(_POP8[words.view(np.uint8)].sum())


def _bits_to_words(bits: np.ndarray) -> np.ndarray:
    """65536-element uint8 0/1 array -> 1024 uint64 LE words."""
    packed = np.packbits(bits, bitorder="little")
    return np.frombuffer(packed.tobytes(), dtype="<u8").copy()


def _words_to_values(words: np.ndarray) -> np.ndarray:
    """1024 uint64 words -> sorted uint16-range values present."""
    bits = np.unpackbits(words.view(np.uint8), bitorder="little")
    return np.flatnonzero(bits).astype(np.uint16)


class RoaringBitmap32:
    """Parsed 32-bit roaring bitmap: {high16 key -> uint64[1024] bitset}."""

    __slots__ = ("containers",)

    # HYBRID containers, exactly like the libraries themselves: a key
    # maps to EITHER a sorted-unique uint16 value array (array rep,
    # card <= 4096) OR a uint64[1024] bitset (bitmap rep).  Parsing a
    # sparse blob must NOT expand every 3-value array container into a
    # 64 KiB bitset — at 100 TB the union hot path is dominated by
    # exactly that case (thousands of sparse per-segment bitmaps per
    # group).  The rep is distinguished by dtype; the WIRE form is
    # always decided by cardinality, so serialization is rep-agnostic.
    def __init__(self, containers: dict[int, np.ndarray] | None = None):
        self.containers = containers or {}

    # -- construction ------------------------------------------------------
    @classmethod
    def from_values(cls, values: np.ndarray) -> "RoaringBitmap32":
        v = np.asarray(values)
        if v.size == 0:
            return cls()
        vv = v.astype(np.int64)
        if vv.size and (vv.min() < 0 or vv.max() > 0xFFFFFFFF):
            raise ValueError(
                "RoaringBitmap32 holds uint32 values; got value outside "
                "[0, 2^32) — the 64-bit format is a different wire layout"
            )
        u = np.unique(vv.astype(np.uint32))
        keys = (u >> np.uint32(16)).astype(np.int64)
        lows = (u & np.uint32(0xFFFF)).astype(np.uint16)
        out: dict[int, np.ndarray] = {}
        start = 0
        for key, count in zip(*np.unique(keys, return_counts=True)):
            sel = lows[start : start + count]
            if count <= _ARRAY_MAX:
                out[int(key)] = np.ascontiguousarray(sel)
            else:
                bits = np.zeros(1 << 16, dtype=np.uint8)
                bits[sel.astype(np.int64)] = 1
                out[int(key)] = _bits_to_words(bits)
            start += count
        return cls(out)

    # -- set algebra -------------------------------------------------------
    def union_inplace(self, other: "RoaringBitmap32") -> "RoaringBitmap32":
        for k, theirs in other.containers.items():
            mine = self.containers.get(k)
            if mine is None:
                self.containers[k] = theirs.copy()
            elif mine.dtype == np.uint64 and theirs.dtype == np.uint64:
                np.bitwise_or(mine, theirs, out=mine)
            elif mine.dtype == np.uint16 and theirs.dtype == np.uint16:
                u = np.union1d(mine, theirs)
                self.containers[k] = (
                    u if u.size <= _ARRAY_MAX else _values_to_words(u)
                )
            else:
                words, vals = (
                    (mine, theirs) if mine.dtype == np.uint64 else (theirs, mine)
                )
                w = words if words is mine else words.copy()
                _or_values_into_words(w, vals)
                self.containers[k] = w
        return self

    def cardinality(self) -> int:
        return sum(
            (c.size if c.dtype == np.uint16 else _popcount(c))
            for c in self.containers.values()
        )

    def to_values(self) -> np.ndarray:
        """All values, ascending, as uint32 (test/debug surface)."""
        parts = []
        for k in sorted(self.containers):
            c = self.containers[k]
            lows = (c if c.dtype == np.uint16 else _words_to_values(c)).astype(
                np.uint32
            )
            parts.append((np.uint32(k) << np.uint32(16)) | lows)
        return np.concatenate(parts) if parts else np.zeros(0, np.uint32)

    def contains(self, value: int) -> bool:
        c = self.containers.get(value >> 16)
        if c is None:
            return False
        low = value & 0xFFFF
        if c.dtype == np.uint16:
            i = int(np.searchsorted(c, np.uint16(low)))
            return i < c.size and int(c[i]) == low
        return bool((int(c[low >> 6]) >> (low & 63)) & 1)


def _values_to_words(vals: np.ndarray) -> np.ndarray:
    bits = np.zeros(1 << 16, dtype=np.uint8)
    bits[vals.astype(np.int64)] = 1
    return _bits_to_words(bits)


def _or_values_into_words(words: np.ndarray, vals: np.ndarray) -> None:
    idx = (vals.astype(np.int64) >> 6)
    masks = np.left_shift(np.uint64(1), (vals.astype(np.uint64) & np.uint64(63)))
    np.bitwise_or.at(words, idx, masks)


def _runs_of(bits: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths-1) of the runs in a 0/1 array, uint16 pairs."""
    padded = np.concatenate(([0], bits.astype(np.int8), [0]))
    d = np.diff(padded)
    starts = np.flatnonzero(d == 1)
    ends = np.flatnonzero(d == -1)  # exclusive
    return starts.astype(np.uint16), (ends - starts - 1).astype(np.uint16)


def _runs_of_values(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, lengths-1) of the runs in a sorted-unique value array —
    the array-rep twin of _runs_of, no bitset expansion."""
    vv = vals.astype(np.int64)
    brk = np.flatnonzero(np.diff(vv) > 1)
    s_idx = np.concatenate(([0], brk + 1))
    e_idx = np.concatenate((brk, [vv.size - 1]))
    starts = vv[s_idx]
    return starts.astype(np.uint16), (vv[e_idx] - starts).astype(np.uint16)


def serialize(bm: RoaringBitmap32, run_optimize: bool = False) -> bytes:
    """Portable serialization, byte-identical to the Java library.

    run_optimize=False mirrors plain ``RoaringBitmap.serialize()`` on a
    bitmap that holds no run containers (cookie 12346).  True mirrors
    ``runOptimize(); serialize()``: each container converts to run
    encoding iff that form is strictly smaller (the library's
    Container.runOptimize rule); cookie 12347 iff any container
    converted.
    """
    keys = sorted(bm.containers)
    size = len(keys)
    cards: list[int] = []
    payloads: list[bytes] = []
    is_run: list[bool] = []
    for k in keys:
        c = bm.containers[k]
        if c.dtype == np.uint16:
            vals, card = c, int(c.size)
        else:
            card = _popcount(c)
            vals = None  # extracted lazily only if the wire form needs it
        if card == 0:
            raise ValueError("empty container in serialize (internal)")
        cards.append(card)
        use_run = False
        if run_optimize:
            if vals is not None:
                starts, lens = _runs_of_values(vals)
            else:
                starts, lens = _runs_of(
                    np.unpackbits(c.view(np.uint8), bitorder="little")
                )
            run_size = 2 + 4 * starts.size
            cur_size = 8192 if card > _ARRAY_MAX else 2 * card
            use_run = run_size < cur_size
        is_run.append(use_run)
        if use_run:
            payloads.append(
                struct.pack("<H", starts.size)
                + np.column_stack([starts, lens]).astype("<u2").tobytes()
            )
        elif card > _ARRAY_MAX:
            w = c if vals is None else _values_to_words(vals)
            payloads.append(w.astype("<u8").tobytes())
        else:
            v = vals if vals is not None else _words_to_values(c)
            payloads.append(v.astype("<u2").tobytes())

    has_run = any(is_run)
    out = bytearray()
    if has_run:
        out += struct.pack("<I", SERIAL_COOKIE | ((size - 1) << 16))
        flag_bits = np.zeros(size, dtype=np.uint8)
        flag_bits[np.flatnonzero(is_run)] = 1
        out += np.packbits(flag_bits, bitorder="little").tobytes()
    else:
        out += struct.pack("<I", SERIAL_COOKIE_NO_RUN)
        out += struct.pack("<I", size)
    for k, card in zip(keys, cards):
        out += struct.pack("<HH", k, card - 1)
    if (not has_run) or size >= NO_OFFSET_THRESHOLD:
        pos = len(out) + 4 * size
        for p in payloads:
            out += struct.pack("<I", pos)
            pos += len(p)
    for p in payloads:
        out += p
    return bytes(out)


def deserialize(blob: bytes) -> RoaringBitmap32:
    """Parse a portable-format blob (any container mix) into bitsets."""
    if len(blob) < 4:
        raise ValueError("roaring blob too short for a cookie")
    (cookie,) = struct.unpack_from("<I", blob)
    pos = 4
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        nrun_bytes = (size + 7) // 8
        if len(blob) < pos + nrun_bytes:
            raise ValueError("roaring blob truncated in run-flag bitset")
        run_flags = np.unpackbits(
            np.frombuffer(blob, np.uint8, nrun_bytes, pos), bitorder="little"
        )[:size].astype(bool)
        pos += nrun_bytes
        has_offsets = size >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        if len(blob) < 8:
            raise ValueError("roaring blob truncated in container count")
        (size,) = struct.unpack_from("<I", blob, 4)
        run_flags = np.zeros(size, dtype=bool)
        pos = 8
        has_offsets = True
    else:
        raise ValueError(f"not a roaring bitmap: cookie {cookie & 0xFFFF}")
    if size < 0 or size > (1 << 16):
        raise ValueError(f"roaring blob: invalid container count {size}")
    if len(blob) < pos + 4 * size:
        raise ValueError("roaring blob truncated in descriptive header")
    desc = np.frombuffer(blob, "<u2", 2 * size, pos)
    keys = desc[0::2].astype(np.int64)
    cards = desc[1::2].astype(np.int64) + 1
    pos += 4 * size
    if has_offsets:
        pos += 4 * size  # offsets are redundant for a sequential parse
    containers: dict[int, np.ndarray] = {}
    for i in range(size):
        key, card = int(keys[i]), int(cards[i])
        if run_flags[i]:
            if len(blob) < pos + 2:
                raise ValueError("roaring blob truncated in run count")
            (nruns,) = struct.unpack_from("<H", blob, pos)
            pos += 2
            if len(blob) < pos + 4 * nruns:
                raise ValueError("roaring blob truncated in run payload")
            pairs = np.frombuffer(blob, "<u2", 2 * nruns, pos).astype(np.int64)
            pos += 4 * nruns
            total = int((pairs[1::2] + 1).sum())
            if total <= _ARRAY_MAX:
                rep = np.sort(
                    np.concatenate(
                        [
                            np.arange(
                                pairs[2 * r], pairs[2 * r] + pairs[2 * r + 1] + 1
                            )
                            for r in range(nruns)
                        ]
                        or [np.zeros(0, np.int64)]
                    )
                ).astype(np.uint16)
            else:
                bits = np.zeros(1 << 16, dtype=np.uint8)
                for r in range(nruns):
                    start, ln = pairs[2 * r], pairs[2 * r + 1]
                    bits[start : start + ln + 1] = 1
                rep = _bits_to_words(bits)
        elif card > _ARRAY_MAX:
            if len(blob) < pos + 8192:
                raise ValueError("roaring blob truncated in bitmap payload")
            rep = np.frombuffer(blob, "<u8", _WORDS, pos).copy()
            pos += 8192
        else:
            if len(blob) < pos + 2 * card:
                raise ValueError("roaring blob truncated in array payload")
            # array containers stay value arrays — the sparse-blob parse
            # must not cost 64 KiB of bitset per 3-value container
            # (unique also normalizes hostile unsorted/duplicated blobs)
            rep = np.unique(np.frombuffer(blob, "<u2", card, pos))
            pos += 2 * card
        if key in containers:
            raise ValueError(f"roaring blob: duplicate container key {key}")
        containers[int(key)] = rep
    return RoaringBitmap32(containers)


def blob_to_codes(blob: bytes) -> np.ndarray:
    """One VECTORIZED pass: every value in the blob as a uint32 code.

    This is the union hot path's parser — the structural deserialize()
    loops per container, which at fleet scale (thousands of sparse
    per-segment bitmaps per group, hundreds of containers each) is tens
    of millions of Python iterations.  Here the common shape (cookie
    12346, all-array containers) costs a FIXED number of numpy calls
    per blob: headers via two frombuffers, then the whole payload
    region reinterpreted as one uint16 array with per-container high
    bits repeated on top.  Bitmap/run containers fall back to the
    per-container loop (they are by definition few and dense)."""
    if len(blob) < 4:
        raise ValueError("roaring blob too short for a cookie")
    (cookie,) = struct.unpack_from("<I", blob, 0)
    pos = 4
    if (cookie & 0xFFFF) == SERIAL_COOKIE:
        size = (cookie >> 16) + 1
        nrb = (size + 7) // 8
        run_flags = np.unpackbits(
            np.frombuffer(blob, np.uint8, nrb, pos), bitorder="little"
        )[:size].astype(bool)
        pos += nrb
        has_offsets = size >= NO_OFFSET_THRESHOLD
    elif cookie == SERIAL_COOKIE_NO_RUN:
        (size,) = struct.unpack_from("<I", blob, 4)
        run_flags = None
        pos = 8
        has_offsets = True
    else:
        raise ValueError(f"not a roaring bitmap: cookie {cookie & 0xFFFF}")
    if size < 0 or size > (1 << 16):
        raise ValueError(f"roaring blob: invalid container count {size}")
    if len(blob) < pos + 4 * size:
        raise ValueError("roaring blob truncated in descriptive header")
    desc = np.frombuffer(blob, "<u2", 2 * size, pos)
    keys = desc[0::2].astype(np.uint32)
    cards = desc[1::2].astype(np.int64) + 1
    pos += 4 * size
    if has_offsets:
        pos += 4 * size
    if run_flags is None and bool((cards <= _ARRAY_MAX).all()):
        total = int(cards.sum())
        if len(blob) < pos + 2 * total:
            raise ValueError("roaring blob truncated in array payload")
        lows = np.frombuffer(blob, "<u2", total, pos).astype(np.uint32)
        highs = np.repeat(keys << np.uint32(16), cards)
        return highs | lows
    # dense / run-bearing blob: the structural parser handles every case
    parsed = deserialize(blob)
    return parsed.to_values()


def merge_codes(blobs: Iterable[bytes]) -> np.ndarray:
    """Distinct uint32 codes across blobs — ONE concatenate + unique,
    the bulk-union shape (no per-blob set algebra)."""
    parts = [blob_to_codes(bytes(b)) for b in blobs if b is not None]
    if not parts:
        return np.zeros(0, np.uint32)
    return np.unique(np.concatenate(parts))


def merge_blobs(blobs: Iterable[bytes]) -> RoaringBitmap32:
    return RoaringBitmap32.from_values(merge_codes(blobs).astype(np.int64))


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------
CARD_UDF = "pinot_bitmap_card"
UNION_UDF = "pinot_bitmap_union"
BUILD_UDF = "pinot_bitmap_build"


def register_bitmap_udfs(spark) -> None:
    """Grouped-agg pandas UDFs over serialized-bitmap BYTES columns.

    Like the other sketch families these are two-phase-safe: UNION returns a
    wire blob, so partial unions re-merge losslessly; CARD is the
    terminal count.  State per group is the union bitset — bounded by
    the value universe, not the row count.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pinot_bitmap_union(blobs: pd.Series) -> bytes:
        return serialize(merge_blobs(blobs.dropna()))

    @pandas_udf("long")
    def pinot_bitmap_card(blobs: pd.Series) -> int:
        # count-only: skip rebuilding containers entirely
        return int(merge_codes(blobs.dropna()).size)

    @pandas_udf("binary")
    def pinot_bitmap_build(values: pd.Series) -> bytes:
        from apache_pinot_spark.functions.bitmap_wire import _build_blob

        return _build_blob(values)

    spark.udf.register(UNION_UDF, pinot_bitmap_union)
    spark.udf.register(CARD_UDF, pinot_bitmap_card)
    spark.udf.register(BUILD_UDF, pinot_bitmap_build)


def _build_blob(values: "pd.Series") -> bytes:
    """Shared build body for the registered UDF and bitmap_aggregate —
    one place to fix value coercion."""
    v = pd.to_numeric(values.dropna()).to_numpy()
    return serialize(RoaringBitmap32.from_values(v))


def bitmap_aggregate(df, keys: list[str], value_col: str):
    """Build wire-format RoaringBitmap blobs per group from a raw int
    column (the write side of a bitmap migration: produce columns the
    Java library loads).  Grouped-agg pandas UDF; for very hot keys the
    two-phase union path (partial blobs -> UNION_UDF) applies unchanged
    because the wire format re-merges losslessly."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def build(values: pd.Series) -> bytes:
        from apache_pinot_spark.functions.bitmap_wire import _build_blob

        return _build_blob(values)

    return df.groupBy(*[F.col(k) for k in keys]).agg(
        build(F.col(value_col)).alias("bitmap")
    )
