"""DataSketches hashing: MurmurHash3-x64-128 (seed 9001) and the theta
update-hash domain, shared by the sketch kinds whose wire formats hash
values the way datasketches-java does (CPC, tuple, ID_SET and the HLL
kinds). Theta sketches themselves are built, merged and estimated by
Spark's native theta_* functions (sqlfront).

Everything below derives from public knowledge:

* MurmurHash3 x64 128 — Austin Appleby's public-domain reference
  (smhasher MurmurHash3.cpp), reimplemented twice: a scalar pure-Python
  form (`murmur3_x64_128`, the auditable spec transcription) and a
  numpy-vectorized batch form (`_murmur_h1_matrix`) used on the Spark
  hot path. Tests cross-check the two on random inputs.
* Theta update-hash: murmur3_x64_128(value_bytes, seed).h1 >> 1, zero
  rejected. Integers hash as their 8-byte little-endian two's-complement
  long; strings as UTF-8 bytes — the datasketches-java update()
  overload contracts.

Seed is Pinot's/DataSketches' DEFAULT_UPDATE_SEED = 9001; the 16-bit
seed hash a sketch blob carries is murmur3(seed as 8-byte LE, 0).h1 &
0xFFFF (`compute_seed_hash`).
"""

from __future__ import annotations

import struct

import numpy as np

DEFAULT_SEED = 9001  # DataSketches DEFAULT_UPDATE_SEED (Pinot uses it too)

_C1 = 0x87C37B91114253D5
_C2 = 0x4CF5AD432745937F
_M64 = (1 << 64) - 1


# --------------------------------------------------------------------------
# Scalar reference implementation (spec transcription, used for goldens
# and as the cross-check oracle for the vectorized form)
# --------------------------------------------------------------------------
def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(h: int) -> int:
    h ^= h >> 33
    h = (h * 0xFF51AFD7ED558CCD) & _M64
    h ^= h >> 33
    h = (h * 0xC4CEB9FE1A85EC53) & _M64
    h ^= h >> 33
    return h


def murmur3_x64_128(data: bytes, seed: int) -> tuple[int, int]:
    """Canonical MurmurHash3 x64 128 (public-domain reference algorithm);
    returns (h1, h2) as unsigned 64-bit ints."""
    h1 = h2 = seed & _M64
    length = len(data)
    nblocks = length // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[16 * i : 16 * i + 8], "little")
        k2 = int.from_bytes(data[16 * i + 8 : 16 * i + 16], "little")
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
    k1 = int.from_bytes(tail[:8], "little")
    k2 = int.from_bytes(tail[8:16], "little")
    if len(tail) > 8:
        k2 = (k2 * _C2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * _C1) & _M64
        h2 ^= k2
    if len(tail) > 0:
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


def compute_seed_hash(seed: int) -> int:
    """DataSketches ThetaUtil.computeSeedHash: low 16 bits of
    murmur3(seed as 8-byte LE long, 0).h1; a result of 0 is illegal
    (reserved for the canonical empty blob)."""
    sh = murmur3_x64_128(struct.pack("<q", seed), 0)[0] & 0xFFFF
    if sh == 0:
        raise ValueError(f"seed {seed} hashes to the reserved seed-hash 0")
    return sh


# --------------------------------------------------------------------------
# Vectorized batch hashing (the Spark hot path: Arrow batches of values
# hash in numpy, never one Python call per row)
# --------------------------------------------------------------------------
def _vrotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _vfmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xFF51AFD7ED558CCD)
    h = h ^ (h >> np.uint64(33))
    h = h * np.uint64(0xC4CEB9FE1A85EC53)
    h = h ^ (h >> np.uint64(33))
    return h


def _murmur_h1_matrix(mat: np.ndarray, seed: int) -> np.ndarray:
    """h1 of murmur3_x64_128 for n equal-length byte rows: mat is a
    (n, L) uint8 matrix. All lanes advance in lockstep — the block loop
    runs L//16 times regardless of n."""
    n, length = mat.shape
    c1, c2 = np.uint64(_C1), np.uint64(_C2)
    h1 = np.full(n, np.uint64(seed & _M64), dtype=np.uint64)
    h2 = h1.copy()
    nblocks = length // 16
    with np.errstate(over="ignore"):
        for i in range(nblocks):
            k1 = np.ascontiguousarray(mat[:, 16 * i : 16 * i + 8]).view("<u8").ravel().astype(np.uint64)
            k2 = np.ascontiguousarray(mat[:, 16 * i + 8 : 16 * i + 16]).view("<u8").ravel().astype(np.uint64)
            k1 = _vrotl(k1 * c1, 31) * c2
            h1 = h1 ^ k1
            h1 = _vrotl(h1, 27) + h2
            h1 = h1 * np.uint64(5) + np.uint64(0x52DCE729)
            k2 = _vrotl(k2 * c2, 33) * c1
            h2 = h2 ^ k2
            h2 = _vrotl(h2, 31) + h1
            h2 = h2 * np.uint64(5) + np.uint64(0x38495AB5)
        rem = length - nblocks * 16
        if rem > 0:
            tail = mat[:, nblocks * 16 :]
            k1 = np.zeros(n, dtype=np.uint64)
            k2 = np.zeros(n, dtype=np.uint64)
            for j in range(min(rem, 8)):
                k1 |= tail[:, j].astype(np.uint64) << np.uint64(8 * j)
            for j in range(8, rem):
                k2 |= tail[:, j].astype(np.uint64) << np.uint64(8 * (j - 8))
            if rem > 8:
                k2 = _vrotl(k2 * c2, 33) * c1
                h2 = h2 ^ k2
            k1 = _vrotl(k1 * c1, 31) * c2
            h1 = h1 ^ k1
        h1 = h1 ^ np.uint64(length)
        h2 = h2 ^ np.uint64(length)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _vfmix(h1)
        h2 = _vfmix(h2)
        h1 = h1 + h2
    return h1


def hash64_longs(values: np.ndarray, seed: int = DEFAULT_SEED) -> np.ndarray:
    """Theta update-hash for int64 values (h1 >> 1): each long is its
    8-byte LE block — exactly datasketches' update(long). Fully
    vectorized (single 8-byte-tail murmur round)."""
    vals = np.asarray(values).astype(np.int64, copy=False).view(np.uint64)
    c1, c2 = np.uint64(_C1), np.uint64(_C2)
    h1 = np.full(vals.shape, np.uint64(seed & _M64), dtype=np.uint64)
    h2 = h1.copy()
    with np.errstate(over="ignore"):
        k1 = _vrotl(vals * c1, 31) * c2
        h1 = h1 ^ k1
        h1 = h1 ^ np.uint64(8)
        h2 = h2 ^ np.uint64(8)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _vfmix(h1)
        h2 = _vfmix(h2)
        h1 = h1 + h2
    return h1 >> np.uint64(1)


def batch_hash_by_length(values: list[bytes], matrix_fn, empty_value: int,
                         dtype=np.uint64) -> np.ndarray:
    """Shared driver for vectorized variable-length byte hashing: group
    values by length so every group hashes as one lockstep numpy matrix
    — batch cost is O(total bytes), not O(rows) Python calls.
    ``matrix_fn(mat)`` hashes one (n, L) uint8 matrix; ``empty_value``
    is the result for zero-length inputs (hash families disagree on
    whether the empty input is defined)."""
    n = len(values)
    out = np.zeros(n, dtype=dtype)
    if n == 0:
        return out
    lengths = np.fromiter((len(v) for v in values), dtype=np.int64, count=n)
    order = np.argsort(lengths, kind="stable")
    sorted_lengths = lengths[order]
    start = 0
    while start < n:
        length = sorted_lengths[start]
        stop = int(np.searchsorted(sorted_lengths, length, side="right"))
        idx = order[start:stop]
        if length > 0:
            buf = b"".join(values[i] for i in idx)
            mat = np.frombuffer(buf, dtype=np.uint8).reshape(len(idx), length)
            out[idx] = matrix_fn(mat)
        else:
            out[idx] = empty_value
        start = stop
    return out


def hash64_bytes(values: list[bytes], seed: int = DEFAULT_SEED) -> np.ndarray:
    """Theta update-hash for variable-length byte strings (h1 >> 1).
    Empty values are skipped by datasketches (update("") is a no-op);
    they hash here to the 0 sentinel the caller already drops."""
    return batch_hash_by_length(
        values,
        lambda mat: _murmur_h1_matrix(mat, seed) >> np.uint64(1),
        empty_value=0,
    )
