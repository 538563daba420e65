"""Apache DataSketches TUPLE sketch (integer summaries) wire interop.

Pinot's tuple-sketch aggregation family — ``DISTINCTCOUNTTUPLESKETCH``,
``DISTINCTCOUNTRAWINTEGERSUMTUPLESKETCH``,
``SUMVALUESINTEGERSUMTUPLESKETCH``, ``AVGVALUEINTEGERSUMTUPLESKETCH`` —
operates on BYTES columns holding serialized
``org.apache.datasketches.tuple.aninteger.IntegerSketch`` state: a
theta sketch whose retained entries each carry an integer summary
combined by a mode (Sum/Min/Max/AlwaysOne).  This module parses,
merges, estimates, and re-serializes that state so a migrating user's
tuple-sketch columns (reference configuration-reference/schema.md:48
names BYTES sketch columns) load here and blobs built here heapify in
the Java library.

Wire layout (serial version 3, the format datasketches-java ≥ 3 writes;
validated field-by-field against the ``datasketches-java-6.2.0`` jar on
Spark's classpath — see tests/test_tuple_wire.py):

    byte 0      preamble longs: 1 empty/single-item, 2 exact, 3 estimation
    byte 1      serial version = 3
    byte 2      family id = 9 (TUPLE)
    byte 3      sketch type = 1 (Sketch)
    byte 4      unused (0)
    byte 5      flags: 1=BIG_ENDIAN 2=READ_ONLY 4=EMPTY 8=COMPACT
    bytes 6-7   seed hash (uint16 LE, murmur3 of the seed — 9001 default)
    [exact/est] retained count, uint64 LE
    [est only]  theta long, uint64 LE
    then        retained entries; each entry is
                  uint64 LE hash | int32 LE summary value | 1 byte mode

Java's compact form stores entries in HASH-TABLE order (not sorted), so
byte-identity is not the contract the library itself honors; the pinned
contract is LOGICAL identity: our blobs heapify in Java with identical
entries/summaries/theta/estimate, and vice versa.  We emit entries in
ascending hash order (a valid unordered-compact instance).

Hash domain: identical to theta (murmur3-x64-128 seed 9001, h1 >>> 1,
zero rejected) — reused from functions/theta_wire.py.  Union: theta-rule
min-cut + per-hash summary combine by mode + QuickSelect trim to k.
"""

from __future__ import annotations

import struct
from typing import Iterable

import numpy as np
import pandas as pd  # module-level: pandas_udf type-hint inference needs 'pd.*'

from apache_pinot_spark.functions import theta_wire as _wire

DEFAULT_SEED = _wire.DEFAULT_SEED
DEFAULT_NOMINAL = 16384  # Pinot's tuple-sketch default nominal entries
LONG_MAX = (1 << 63) - 1

_SER_VER = 3
_FAMILY_TUPLE = 9
_SKETCH_TYPE = 1  # SerializerDeserializer.SketchType.Sketch
_F_READ_ONLY = 2
_F_EMPTY = 4
_F_COMPACT = 8

MODE_SUM, MODE_MIN, MODE_MAX, MODE_ALWAYS_ONE = 0, 1, 2, 3
_INT32_MIN, _INT32_MAX = -(1 << 31), (1 << 31) - 1


class IntegerTupleSketch:
    """cut (theta long), sorted uint64 hashes, aligned int64 summaries."""

    __slots__ = ("cut", "hashes", "values", "k", "mode")

    def __init__(self, cut: int, hashes: np.ndarray, values: np.ndarray,
                 k: int = DEFAULT_NOMINAL, mode: int = MODE_SUM):
        order = np.argsort(hashes, kind="stable")
        self.cut = int(cut)
        self.hashes = np.ascontiguousarray(hashes[order], dtype=np.uint64)
        self.values = np.ascontiguousarray(values[order], dtype=np.int64)
        self.k = k
        self.mode = mode

    @classmethod
    def empty(cls, k: int = DEFAULT_NOMINAL, mode: int = MODE_SUM):
        return cls(LONG_MAX, np.zeros(0, np.uint64), np.zeros(0, np.int64),
                   k, mode)

    @classmethod
    def from_longs(cls, keys: np.ndarray, values: np.ndarray,
                   k: int = DEFAULT_NOMINAL, mode: int = MODE_SUM,
                   seed: int = DEFAULT_SEED) -> "IntegerTupleSketch":
        """Build like IntegerSketch.update(longKey, intValue) over the
        rows: duplicate keys combine summaries by mode, then theta
        retention applies to the distinct-key set."""
        kk = np.asarray(keys, dtype=np.int64)
        vv = np.asarray(values, dtype=np.int64)
        h = _wire.hash64_longs(kk, seed)
        return cls._from_hash_pairs(h, vv, k, mode)

    @classmethod
    def from_strings(cls, keys, values: np.ndarray,
                     k: int = DEFAULT_NOMINAL, mode: int = MODE_SUM,
                     seed: int = DEFAULT_SEED) -> "IntegerTupleSketch":
        h = _wire.hash64_bytes([str(s).encode("utf-8") for s in keys], seed)
        return cls._from_hash_pairs(h, np.asarray(values, np.int64), k, mode)

    @classmethod
    def _from_hash_pairs(cls, h: np.ndarray, vv: np.ndarray, k: int,
                         mode: int) -> "IntegerTupleSketch":
        uniq, inv = np.unique(h, return_inverse=True)
        if mode == MODE_SUM:
            merged = np.zeros(uniq.size, np.int64)
            np.add.at(merged, inv, vv)
        elif mode == MODE_ALWAYS_ONE:
            merged = np.ones(uniq.size, np.int64)
        else:
            fill = _INT32_MAX if mode == MODE_MIN else _INT32_MIN
            merged = np.full(uniq.size, fill, np.int64)
            (np.minimum if mode == MODE_MIN else np.maximum).at(merged, inv, vv)
        return cls(LONG_MAX, uniq, merged, k, mode)._trim()

    # -- theta mechanics ---------------------------------------------------
    def _trim(self) -> "IntegerTupleSketch":
        if self.hashes.size <= self.k:
            return self
        return IntegerTupleSketch(int(self.hashes[self.k]),
                                  self.hashes[: self.k],
                                  self.values[: self.k], self.k, self.mode)

    def _below(self, cut: int):
        if cut > LONG_MAX - 1 and self.cut >= cut:
            return self.hashes, self.values
        keep = self.hashes < np.uint64(cut)
        return self.hashes[keep], self.values[keep]

    @property
    def theta(self) -> float:
        return self.cut / LONG_MAX

    def estimate(self) -> float:
        return float(self.hashes.size * LONG_MAX / self.cut)

    def sum_values(self) -> int:
        """Raw sum of the RETAINED entries' summaries (the merge-then-
        report convention: callers wanting a population estimate divide
        by theta themselves — documented, deterministic)."""
        return int(self.values.sum())

    def union(self, other: "IntegerTupleSketch") -> "IntegerTupleSketch":
        if self.mode != other.mode:
            raise ValueError("cannot union tuple sketches of different modes")
        cut = min(self.cut, other.cut)
        h1, v1 = self._below(cut)
        h2, v2 = other._below(cut)
        allh = np.concatenate([h1, h2])
        allv = np.concatenate([v1, v2])
        uniq, inv = np.unique(allh, return_inverse=True)
        if self.mode == MODE_SUM:
            merged = np.zeros(uniq.size, np.int64)
            np.add.at(merged, inv, allv)
        elif self.mode == MODE_ALWAYS_ONE:
            merged = np.ones(uniq.size, np.int64)
        else:
            fill = _INT32_MAX if self.mode == MODE_MIN else _INT32_MIN
            merged = np.full(uniq.size, fill, np.int64)
            (np.minimum if self.mode == MODE_MIN else np.maximum).at(
                merged, inv, allv
            )
        return IntegerTupleSketch(cut, uniq, merged,
                                  min(self.k, other.k), self.mode)._trim()


# --------------------------------------------------------------------------
# Wire serde
# --------------------------------------------------------------------------
def serialize(s: IntegerTupleSketch, seed: int = DEFAULT_SEED) -> bytes:
    n = s.hashes.size
    seed_hash = _wire.compute_seed_hash(seed)
    est = s.cut < LONG_MAX
    if n == 0 and not est:
        return struct.pack("<BBBBBBH", 1, _SER_VER, _FAMILY_TUPLE,
                           _SKETCH_TYPE, 0,
                           _F_READ_ONLY | _F_EMPTY | _F_COMPACT, seed_hash)
    flags = _F_READ_ONLY | _F_COMPACT
    if n == 1 and not est:
        pre = 1
    elif not est:
        pre = 2
    else:
        pre = 3
    out = bytearray(struct.pack("<BBBBBBH", pre, _SER_VER, _FAMILY_TUPLE,
                                _SKETCH_TYPE, 0, flags, seed_hash))
    if pre >= 2:
        out += struct.pack("<Q", n)
    if pre == 3:
        out += struct.pack("<Q", s.cut)
    entry = np.zeros(n, dtype=[("h", "<u8"), ("v", "<i4"), ("m", "u1")])
    entry["h"] = s.hashes
    entry["v"] = s.values.astype(np.int32)
    entry["m"] = s.mode
    out += entry.tobytes()
    return bytes(out)


def deserialize(blob: bytes, k: int = DEFAULT_NOMINAL,
                seed: int = DEFAULT_SEED) -> IntegerTupleSketch:
    if len(blob) < 8:
        raise ValueError("tuple-sketch blob too short for a preamble")
    pre, ver, family, stype, _, flags, seed_hash = struct.unpack_from(
        "<BBBBBBH", blob, 0
    )
    if family != _FAMILY_TUPLE:
        raise ValueError(f"not a tuple sketch: family {family}")
    if ver != _SER_VER:
        raise ValueError(f"unsupported tuple-sketch serial version {ver}")
    if stype != _SKETCH_TYPE:
        raise ValueError(f"unsupported tuple sketch type {stype}")
    if pre not in (1, 2, 3):
        raise ValueError(f"invalid tuple-sketch preamble longs {pre}")
    if flags & _F_EMPTY:
        return IntegerTupleSketch.empty(k)
    expect = _wire.compute_seed_hash(seed)
    if seed_hash != expect:
        raise ValueError(
            f"tuple-sketch seed hash {seed_hash:#06x} != {expect:#06x} "
            f"for seed {seed}: refusing to merge mismatched hash domains"
        )
    pos = 8
    if pre == 1:
        n, cut = 1, LONG_MAX
    else:
        if len(blob) < pos + 8:
            raise ValueError("tuple-sketch blob truncated in count")
        (n,) = struct.unpack_from("<Q", blob, pos)
        pos += 8
        cut = LONG_MAX
        if pre == 3:
            if len(blob) < pos + 8:
                raise ValueError("tuple-sketch blob truncated in theta")
            (cut,) = struct.unpack_from("<Q", blob, pos)
            pos += 8
            if not 0 < cut <= LONG_MAX:
                raise ValueError(f"tuple-sketch blob: invalid theta {cut}")
    if n > (len(blob) - pos) // 13:
        raise ValueError("tuple-sketch blob truncated in entries")
    entry = np.frombuffer(blob, dtype=[("h", "<u8"), ("v", "<i4"), ("m", "u1")],
                          count=n, offset=pos)
    modes = np.unique(entry["m"])
    if modes.size > 1 or (modes.size and modes[0] > MODE_ALWAYS_ONE):
        raise ValueError(f"tuple-sketch blob: inconsistent summary modes {modes}")
    mode = int(modes[0]) if modes.size else MODE_SUM
    hashes = entry["h"].astype(np.uint64)
    if np.unique(hashes).size != hashes.size:
        raise ValueError("tuple-sketch blob: duplicate hash entries")
    if hashes.size and (hashes.min() == 0 or int(hashes.max()) >= cut):
        raise ValueError("tuple-sketch blob: entry outside (0, theta)")
    return IntegerTupleSketch(cut, hashes, entry["v"].astype(np.int64), k, mode)


def merge_blobs(blobs: Iterable[bytes],
                k: int = DEFAULT_NOMINAL) -> IntegerTupleSketch:
    """Bulk union: ONE concatenate + unique + scatter-combine across
    all blobs (min-cut first, trim once at the end) instead of per-blob
    pairwise set algebra — the same state the library's own Union
    reaches by inserting every input into one QuickSelect table, and
    the shape that stays flat when a group holds thousands of
    per-segment sketches."""
    parsed = [deserialize(bytes(b), k) for b in blobs if b is not None]
    if not parsed:
        return IntegerTupleSketch.empty(k)
    nonempty = [p for p in parsed if p.hashes.size]
    # mode comes from the first NON-EMPTY sketch (an empty blob carries
    # no mode byte and defaults to SUM — it must not dictate how real
    # summaries combine), and every non-empty input must agree
    mode = nonempty[0].mode if nonempty else parsed[0].mode
    for p in nonempty:
        if p.mode != mode:
            raise ValueError("cannot union tuple sketches of different modes")
    cut = min(p.cut for p in parsed)
    below = [p._below(cut) for p in nonempty]
    if not below:
        return IntegerTupleSketch(cut, np.zeros(0, np.uint64),
                                  np.zeros(0, np.int64), k, mode)
    allh = np.concatenate([h for h, _ in below])
    allv = np.concatenate([v for _, v in below])
    uniq, inv = np.unique(allh, return_inverse=True)
    if mode == MODE_SUM:
        merged = np.zeros(uniq.size, np.int64)
        np.add.at(merged, inv, allv)
    elif mode == MODE_ALWAYS_ONE:
        merged = np.ones(uniq.size, np.int64)
    else:
        fill = _INT32_MAX if mode == MODE_MIN else _INT32_MIN
        merged = np.full(uniq.size, fill, np.int64)
        (np.minimum if mode == MODE_MIN else np.maximum).at(merged, inv, allv)
    return IntegerTupleSketch(cut, uniq, merged, k, mode)._trim()


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------
ESTIMATE_UDF = "pinot_tuple_estimate"
UNION_UDF = "pinot_tuple_union"
SUMVALUES_UDF = "pinot_tuple_sum_values"
AVGVALUE_UDF = "pinot_tuple_avg_value"


def register_tuple_udfs(spark) -> None:
    """Grouped-agg pandas UDFs over serialized tuple-sketch BYTES
    columns.  UNION emits a wire blob (two-phase-safe partial state);
    the others are terminal reports over the group's merged sketch."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pinot_tuple_union(blobs: pd.Series) -> bytes:
        return serialize(merge_blobs(blobs.dropna()))

    @pandas_udf("double")
    def pinot_tuple_estimate(blobs: pd.Series) -> float:
        return merge_blobs(blobs.dropna()).estimate()

    @pandas_udf("long")
    def pinot_tuple_sum_values(blobs: pd.Series) -> int:
        return merge_blobs(blobs.dropna()).sum_values()

    @pandas_udf("double")
    def pinot_tuple_avg_value(blobs: pd.Series) -> float:
        m = merge_blobs(blobs.dropna())
        if m.hashes.size == 0:
            return float("nan")
        return m.sum_values() / m.hashes.size

    spark.udf.register(UNION_UDF, pinot_tuple_union)
    spark.udf.register(ESTIMATE_UDF, pinot_tuple_estimate)
    spark.udf.register(SUMVALUES_UDF, pinot_tuple_sum_values)
    spark.udf.register(AVGVALUE_UDF, pinot_tuple_avg_value)
