"""Clearspring (stream-lib) HyperLogLog BYTES wire interop — the
serialized HLL format of the reference's DISTINCTCOUNTHLL sketch
columns (configuration-reference/schema.md:48 names BYTES sketch
columns; the public engine serializes them with
com.clearspring.analytics.stream.cardinality.HyperLogLog.getBytes()).

This closes the engine's last documented HLL divergence for MIGRATING
data: functions/hll.py stays the query-time portable estimator (its
md5-based register pipeline is reproducible in DuckDB for the
correctness oracle — a deliberate property this module does not
disturb), while THIS module loads, merges, estimates, re-serializes,
and BUILDS sketches in the clearspring wire domain, so a Pinot user's
existing serialized HLL columns keep working.

Everything derives from the public stream-lib implementation
(Apache-2.0; algorithms are Austin Appleby's public-domain MurmurHash2
plus Flajolet et al.'s HyperLogLog):

  wire layout   int32 BE log2m | int32 BE register-bytes | register
                words, 32-bit BE, SIX 5-bit registers per word from the
                LSB (register j lives in word j//6 at bit 5*(j%6)).
  value hash    MurmurHash2 32-bit: byte[]/String via hash(data,
                seed=-1 ^ len); Integer/Long (and Float/Double through
                their raw bits) via hashLong's two-word variant.
  offer         j = h >>> (32-log2m);
                rank = nlz32((h << log2m) | ((1 << (log2m-1)) + 1)) + 1
                (the parenthesization mirrors stream-lib's operator
                precedence exactly — it is part of the wire contract).
  estimate      alphaMM / sum(2^-reg) with the small-range linear
                counting branch, rounded half-up like Math.round.

All of it is golden-tested against the REAL stream-lib jar (stream-
2.9.8 ships on Spark's classpath): sketches built here serialize
BYTE-IDENTICALLY to sketches built by the library over the same
values, foreign blobs load and merge, and cardinalities agree exactly
(tests/test_hll_clearspring.py).

Scale shape: same two-phase contract as tdigest — vectorized
numpy hashing per Arrow batch (values grouped by byte length; no
per-row Python), constant m-byte state per group, register-max merge.

Known divergence, documented rather than emulated: a blob whose
registers are saturated at 31 makes stream-lib's `1 << 31` int
arithmetic overflow and return a nonsense cardinality (observed
Long.MAX_VALUE). Register 31 is UNREACHABLE through real offers (the
32-bit hash caps rho at 32 − log2m + 1 ≤ 29 for log2m ≥ 4), so only a
crafted blob hits it; this implementation returns the mathematically
defined estimate instead. Every reachable register state is
cardinality-exact against the jar (tests).
"""

from __future__ import annotations

import math
import struct
from typing import Iterable, Iterator

import numpy as np
import pandas as pd  # noqa: F401  (pandas_udf type-hint inference)

_M32 = 0xFFFFFFFF
_MULT = 0x5BD1E995
DEFAULT_LOG2M = 12  # the reference's default HLL size


# --------------------------------------------------------------------------
# MurmurHash2 (stream-lib variant) — scalar reference + numpy batches
# --------------------------------------------------------------------------
def murmur2_32(data: bytes, seed: int = -1) -> int:
    """stream-lib MurmurHash.hash(byte[]) — signed 32-bit result."""
    m, r = _MULT, 24
    h = (seed ^ len(data)) & _M32
    n4 = len(data) >> 2
    for i in range(n4):
        k = int.from_bytes(data[4 * i : 4 * i + 4], "little")
        k = (k * m) & _M32
        k ^= k >> r
        k = (k * m) & _M32
        h = (h * m) & _M32
        h ^= k
    left = len(data) & 3
    if left:
        if left >= 3:
            h ^= data[len(data) - 3] << 16
        if left >= 2:
            h ^= data[len(data) - 2] << 8
        h ^= data[len(data) - 1]
        h = (h * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def hash_long(v: int) -> int:
    """stream-lib MurmurHash.hashLong — the Integer/Long/raw-bits path."""
    m, r = _MULT, 24
    v &= (1 << 64) - 1
    h = 0
    k = ((v & _M32) * m) & _M32
    k ^= k >> r
    h ^= (k * m) & _M32
    k = (((v >> 32) & _M32) * m) & _M32
    k ^= k >> r
    h = (h * m) & _M32
    h ^= (k * m) & _M32
    h ^= h >> 13
    h = (h * m) & _M32
    h ^= h >> 15
    return h - (1 << 32) if h >= (1 << 31) else h


def _mask32(x: np.ndarray) -> np.ndarray:
    return x & np.uint64(_M32)


def hash_longs_batch(values: np.ndarray) -> np.ndarray:
    """Vectorized hashLong → uint32 array."""
    v = np.asarray(values).astype(np.int64, copy=False).view(np.uint64)
    m = np.uint64(_MULT)
    r = np.uint64(24)
    with np.errstate(over="ignore"):
        h = np.zeros(v.shape, dtype=np.uint64)
        k = _mask32((v & np.uint64(_M32)) * m)
        k ^= k >> r
        h ^= _mask32(k * m)
        k = _mask32((v >> np.uint64(32)) * m)
        k ^= k >> r
        h = _mask32(h * m)
        h ^= _mask32(k * m)
        h ^= h >> np.uint64(13)
        h = _mask32(h * m)
        h ^= h >> np.uint64(15)
    return h.astype(np.uint32)


def _murmur2_matrix(mat: np.ndarray, seed: int = -1) -> np.ndarray:
    """Vectorized murmur2_32 for n equal-length byte rows."""
    n, length = mat.shape
    m = np.uint64(_MULT)
    r = np.uint64(24)
    with np.errstate(over="ignore"):
        h = np.full(n, np.uint64((seed ^ length) & _M32), dtype=np.uint64)
        for i in range(length >> 2):
            k = (
                np.ascontiguousarray(mat[:, 4 * i : 4 * i + 4])
                .view("<u4").ravel().astype(np.uint64)
            )
            k = _mask32(k * m)
            k ^= k >> r
            k = _mask32(k * m)
            h = _mask32(h * m)
            h ^= k
        left = length & 3
        if left:
            if left >= 3:
                h ^= mat[:, length - 3].astype(np.uint64) << np.uint64(16)
            if left >= 2:
                h ^= mat[:, length - 2].astype(np.uint64) << np.uint64(8)
            h ^= mat[:, length - 1].astype(np.uint64)
            h = _mask32(h * m)
        h ^= h >> np.uint64(13)
        h = _mask32(h * m)
        h ^= h >> np.uint64(15)
    return h.astype(np.uint32)


def hash_bytes_batch(values: list[bytes], seed: int = -1) -> np.ndarray:
    """Vectorized murmur2_32 for variable-length byte strings — the
    shared group-by-length driver (theta_wire.batch_hash_by_length) with
    the murmur2 matrix kernel. hash(empty) IS defined in this family
    (seed ^ 0 avalanche), unlike the theta update-hash's 0 sentinel."""
    from apache_pinot_spark.functions.theta_wire import batch_hash_by_length

    return batch_hash_by_length(
        values,
        lambda mat: _murmur2_matrix(mat, seed),
        empty_value=murmur2_32(b"", seed) & _M32,
        dtype=np.uint32,
    )


def hash_series(values: "pd.Series") -> np.ndarray:
    """The MurmurHash.hash(Object) dispatch over a pandas Series:
    integer dtypes → hashLong(value); float64 → hashLong(raw double
    bits); strings → hash(UTF-8 bytes); bytes raw."""
    kind = values.dtype.kind
    if kind in "iub":
        return hash_longs_batch(values.to_numpy(dtype=np.int64))
    if kind == "f":
        return hash_longs_batch(values.to_numpy(dtype=np.float64).view(np.int64))
    encoded = [
        x if isinstance(x, bytes)
        else (x.encode("utf-8") if isinstance(x, str) else None)
        for x in values
    ]
    if any(e is None for e in encoded):
        # mixed/odd object values: mirror the MurmurHash.hash(Object)
        # dispatch — numeric types route through hashLong (floats via
        # their RAW double bits, stream-lib does NOT canonicalize -0.0);
        # everything else through its string form
        long_bits: dict[int, int] = {}
        for i, (x, e) in enumerate(zip(values, encoded)):
            if e is None:
                if isinstance(x, (bool, np.bool_)):
                    # Java Boolean is not a Number: the dispatch falls to
                    # hash(toString()) — "true"/"false"
                    encoded[i] = (b"true" if x else b"false")
                elif isinstance(x, (int, np.integer)):
                    long_bits[i] = int(x)
                elif isinstance(x, (float, np.floating)):
                    long_bits[i] = struct.unpack(
                        "<q", struct.pack("<d", float(x))
                    )[0]
                else:
                    encoded[i] = str(x).encode("utf-8")
        out = hash_bytes_batch([e if e is not None else b"" for e in encoded])
        for i, bits in long_bits.items():
            out[i] = np.uint32(hash_long(bits) & _M32)
        return out
    return hash_bytes_batch(encoded)


# --------------------------------------------------------------------------
# HyperLogLog registers + wire serde
# --------------------------------------------------------------------------
class ClearspringHLL:
    __slots__ = ("log2m", "registers")

    def __init__(self, log2m: int = DEFAULT_LOG2M,
                 registers: "np.ndarray | None" = None):
        if not 4 <= log2m <= 30:
            raise ValueError(f"clearspring HLL log2m {log2m} out of range")
        self.log2m = log2m
        m = 1 << log2m
        self.registers = (
            np.zeros(m, dtype=np.uint8) if registers is None
            else np.asarray(registers, dtype=np.uint8)
        )

    @property
    def m(self) -> int:
        return 1 << self.log2m

    def offer_hashed(self, hashes: np.ndarray) -> None:
        """Vectorized offer of uint32 hash values (the stream-lib
        j/rank pipeline, including its exact parenthesization)."""
        h = np.asarray(hashes, dtype=np.uint32).astype(np.uint64)
        j = (h >> np.uint64(32 - self.log2m)).astype(np.int64)
        shifted = _mask32(h << np.uint64(self.log2m))
        shifted |= np.uint64(((1 << (self.log2m - 1)) + 1) & _M32)
        # nlz32 via exact float64 log2 (values < 2^32, never zero here)
        bl = np.floor(np.log2(shifted.astype(np.float64))).astype(np.int64) + 1
        rank = (32 - bl + 1).astype(np.uint8)
        np.maximum.at(self.registers, j, rank)

    def offer_values(self, values: "pd.Series") -> None:
        v = values.dropna()
        if not v.empty:
            self.offer_hashed(hash_series(v))

    def cardinality(self) -> int:
        m = self.m
        if self.log2m == 4:
            alpha_mm = 0.673 * m * m
        elif self.log2m == 5:
            alpha_mm = 0.697 * m * m
        elif self.log2m == 6:
            alpha_mm = 0.709 * m * m
        else:
            alpha_mm = (0.7213 / (1 + 1.079 / m)) * m * m
        reg = self.registers.astype(np.float64)
        estimate = alpha_mm / np.power(2.0, -reg).sum()
        if estimate <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros > 0:
                estimate = m * math.log(m / zeros)
        return int(math.floor(estimate + 0.5))  # Math.round

    def merge(self, other: "ClearspringHLL") -> "ClearspringHLL":
        if other.log2m != self.log2m:
            raise ValueError(
                f"cannot merge clearspring HLLs of different sizes "
                f"(log2m {self.log2m} vs {other.log2m})"
            )
        return ClearspringHLL(
            self.log2m, np.maximum(self.registers, other.registers)
        )

    # -- wire ---------------------------------------------------------------
    def serialize(self) -> bytes:
        m = self.m
        nwords = -(-m // 6)
        words = np.zeros(nwords, dtype=np.uint64)
        for lane in range(6):
            regs = self.registers[lane::6].astype(np.uint64)
            words[: regs.size] |= regs << np.uint64(5 * lane)
        body = words.astype(">u4").tobytes()
        return struct.pack(">ii", self.log2m, len(body)) + body

    @classmethod
    def deserialize(cls, blob: bytes) -> "ClearspringHLL":
        if len(blob) < 8:
            raise ValueError("clearspring HLL blob too short")
        log2m, size = struct.unpack_from(">ii", blob, 0)
        if not 4 <= log2m <= 30:
            raise ValueError(f"clearspring HLL blob invalid: log2m {log2m}")
        m = 1 << log2m
        nwords = -(-m // 6)
        if size != nwords * 4 or len(blob) < 8 + size:
            raise ValueError(
                f"clearspring HLL blob invalid: size {size} for log2m {log2m}"
            )
        words = np.frombuffer(blob, dtype=">u4", count=nwords, offset=8).astype(
            np.uint64
        )
        regs = np.zeros(m, dtype=np.uint8)
        for lane in range(6):
            lane_regs = ((words >> np.uint64(5 * lane)) & np.uint64(31)).astype(
                np.uint8
            )
            regs[lane::6] = lane_regs[: regs[lane::6].size]
        return cls(log2m, regs)


def merge_blobs(blobs: Iterable[bytes]) -> ClearspringHLL:
    out: ClearspringHLL | None = None
    for b in blobs:
        if b is None:
            continue
        s = ClearspringHLL.deserialize(bytes(b))
        out = s if out is None else out.merge(s)
    if out is None:
        raise ValueError("no clearspring HLL blobs to merge")
    return out


# --------------------------------------------------------------------------
# Spark surface
# --------------------------------------------------------------------------
def clearspring_hll_sketch(df, keys: list[str], value_col: str,
                           log2m: int = DEFAULT_LOG2M,
                           out_col: str = "hll"):
    """Per-group clearspring-wire HLL BYTES column (two-phase map-side
    partials → register-max merge; same contract as tdigest_sketch)."""
    from pyspark.sql.types import BinaryType, StructField, StructType

    schema = StructType(
        [df.schema[kk] for kk in keys] + [StructField(out_col, BinaryType())]
    )

    def partials(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import pandas as _pd

        from apache_pinot_spark.functions import hll_clearspring as _c

        for pdf in batches:
            if pdf.empty:
                continue
            rows = []
            for kv, grp in pdf.groupby(keys, dropna=False, sort=False):
                if not isinstance(kv, tuple):
                    kv = (kv,)
                s = _c.ClearspringHLL(log2m)
                s.offer_values(grp[value_col])
                rows.append((*kv, s.serialize()))
            yield _pd.DataFrame(rows, columns=[*keys, out_col])

    def merge(pdf: "pd.DataFrame") -> "pd.DataFrame":
        from apache_pinot_spark.functions import hll_clearspring as _c

        head = pdf.iloc[[0]][keys].copy()
        head[out_col] = [_c.merge_blobs(pdf[out_col]).serialize()]
        return head

    return (
        df.select(*keys, value_col)
        .mapInPandas(partials, schema)
        .groupBy(*keys)
        .applyInPandas(merge, schema)
    )


MERGE_UDF = "pinot_cshll_merge"
ESTIMATE_UDF = "pinot_cshll_estimate"


def register_clearspring_udfs(spark) -> None:
    """``pinot_cshll_merge(blob)`` grouped-agg register-max merge →
    merged wire blob; ``pinot_cshll_estimate(blob)`` scalar
    cardinality. Composable as estimate(merge(col)) with GROUP BY —
    the DISTINCTCOUNTHLL query shape over migrated BYTES columns."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def pinot_cshll_merge(blobs: pd.Series) -> bytes:
        from apache_pinot_spark.functions import hll_clearspring as _c

        present = blobs.dropna()
        if present.empty:
            return None  # all-NULL group → NULL blob (estimate maps to NULL)
        return _c.merge_blobs(present).serialize()

    @pandas_udf("long")
    def pinot_cshll_estimate(blobs: pd.Series) -> pd.Series:
        from apache_pinot_spark.functions import hll_clearspring as _c

        return blobs.map(
            lambda b: None if b is None
            else _c.ClearspringHLL.deserialize(bytes(b)).cardinality()
        )

    spark.udf.register(MERGE_UDF, pinot_cshll_merge)
    spark.udf.register(ESTIMATE_UDF, pinot_cshll_estimate)
