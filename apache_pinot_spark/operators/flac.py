"""FLAC (Free Lossless Audio Codec) subset codec in pure Python:
first-principles implementation of the PUBLIC xiph.org FLAC format
specification, no codec libraries.

Scope:
  * stream walk: 'fLaC' magic, metadata blocks (STREAMINFO parsed —
    sample rate / channels / bits-per-sample / total samples / PCM MD5;
    other blocks skipped by length)
  * frame headers: sync code, blocking strategy, block-size /
    sample-rate / channel-assignment / sample-size codes, UTF-8-coded
    frame number, 8-bit header CRC (polynomial 0x07) — VERIFIED
  * subframes: CONSTANT, VERBATIM, FIXED predictor orders 0-4, and LPC
    (r10: quantized linear prediction — precision/shift/coefficients +
    the shared Rice residual path, so real-world encoder output
    decodes), all with Rice-partitioned residuals (methods 0 and 1,
    escape partitions) and the wasted-bits shift; all four channel
    assignments (independent, left/side, right/side, mid/side — side
    channels carry bps+1 bits)
  * frame footer: 16-bit CRC (polynomial 0x8005) — VERIFIED
  * whole-stream integrity: STREAMINFO's MD5 of the raw interleaved
    little-endian PCM — VERIFIED when non-zero

The matching ``encode_flac`` produces spec-conformant streams (fixed
block size, CONSTANT / VERBATIM / FIXED-order subframes, single-
partition Rice residuals, correct CRCs and MD5) — used for golden
fixtures and round-trip property tests.

Scale shape: decode is per-row map-side work over the binary column
(Arrow-batched, zero shuffle); corrupt/unsupported blobs reject to the
NULL stream (the multimodal convention).
"""

from __future__ import annotations

import hashlib
import struct
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# CRCs (FLAC spec: CRC-8 poly x^8+x^2+x+1 = 0x07 init 0;
#                  CRC-16 poly x^16+x^15+x^2+1 = 0x8005 init 0)
# --------------------------------------------------------------------------


def _make_crc8_table():
    table = []
    for b in range(256):
        c = b
        for _ in range(8):
            c = ((c << 1) ^ 0x07) & 0xFF if c & 0x80 else (c << 1) & 0xFF
        table.append(c)
    return table


def _make_crc16_table():
    table = []
    for b in range(256):
        c = b << 8
        for _ in range(8):
            c = ((c << 1) ^ 0x8005) & 0xFFFF if c & 0x8000 else (c << 1) & 0xFFFF
        table.append(c)
    return table


_CRC8 = _make_crc8_table()
_CRC16 = _make_crc16_table()


def crc8(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC8[c ^ b]
    return c


def crc16(data: bytes) -> int:
    c = 0
    for b in data:
        c = _CRC16[((c >> 8) ^ b) & 0xFF] ^ ((c << 8) & 0xFFFF)
    return c


# --------------------------------------------------------------------------
# Bit I/O
# --------------------------------------------------------------------------


class _BitReader:
    """MSB-first bit reader over a bytes object (the FLAC bit order)."""

    def __init__(self, data: bytes, pos_bytes: int = 0):
        self.data = data
        self.pos = pos_bytes * 8  # absolute bit position

    def read(self, n: int) -> int:
        out = 0
        data, pos = self.data, self.pos
        end = pos + n
        if end > len(data) * 8:
            raise ValueError("bitstream truncated")
        while n > 0:
            byte = data[pos >> 3]
            avail = 8 - (pos & 7)
            take = min(avail, n)
            shift = avail - take
            out = (out << take) | ((byte >> shift) & ((1 << take) - 1))
            pos += take
            n -= take
        self.pos = pos
        return out

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v & (1 << (n - 1)) else v

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:  # corrupt stream guard: a real rice quotient
                raise ValueError("unary run exceeds sanity bound")
        return q

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7

    @property
    def byte_pos(self) -> int:
        return self.pos >> 3


class _BitWriter:
    def __init__(self):
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, n: int) -> None:
        self.acc = (self.acc << n) | (value & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.buf.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then a 1

    def align(self) -> None:
        if self.nbits:
            self.write(0, 8 - self.nbits)

    def getvalue(self) -> bytes:
        assert self.nbits == 0, "unaligned bitstream"
        return bytes(self.buf)


# --------------------------------------------------------------------------
# Stream metadata
# --------------------------------------------------------------------------


@dataclass
class FlacInfo:
    sample_rate: int = 0
    channels: int = 0
    bits_per_sample: int = 0
    total_samples: int = 0
    md5: bytes = b"\x00" * 16
    min_block: int = 0
    max_block: int = 0
    frames_start: int = 0  # byte offset of the first frame
    metadata_blocks: list = field(default_factory=list)  # (type, length)

    @property
    def duration_s(self) -> float:
        return self.total_samples / self.sample_rate if self.sample_rate else 0.0


def parse_flac(blob: bytes) -> FlacInfo:
    """Parse the metadata block chain; STREAMINFO is mandatory per the
    spec and its absence rejects. Raises ValueError for anything that is
    not a well-formed FLAC stream."""
    try:
        return _parse_flac(blob)
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed FLAC field layout: {exc}") from exc


def _parse_flac(blob: bytes) -> FlacInfo:
    if blob is None or len(blob) < 42:  # magic + header + STREAMINFO
        raise ValueError("blob too short for a FLAC stream")
    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (no fLaC magic)")
    info = FlacInfo()
    off = 4
    seen_streaminfo = False
    while True:
        if off + 4 > len(blob):
            raise ValueError("truncated metadata block header")
        hdr = blob[off]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        length = int.from_bytes(blob[off + 1 : off + 4], "big")
        body = off + 4
        if body + length > len(blob):
            raise ValueError(f"metadata block {btype} overruns blob")
        info.metadata_blocks.append((btype, length))
        if btype == 0:  # STREAMINFO
            if length != 34:
                raise ValueError(f"STREAMINFO length {length} != 34")
            b = blob[body : body + 34]
            info.min_block = int.from_bytes(b[0:2], "big")
            info.max_block = int.from_bytes(b[2:4], "big")
            packed = int.from_bytes(b[10:18], "big")
            info.sample_rate = packed >> 44
            info.channels = ((packed >> 41) & 0x7) + 1
            info.bits_per_sample = ((packed >> 36) & 0x1F) + 1
            info.total_samples = packed & ((1 << 36) - 1)
            info.md5 = b[18:34]
            seen_streaminfo = True
        off = body + length
        if last:
            break
    if not seen_streaminfo:
        raise ValueError("no STREAMINFO block")
    if info.sample_rate <= 0:
        raise ValueError("STREAMINFO carries no sample rate")
    info.frames_start = off
    return info


# --------------------------------------------------------------------------
# Frame decode
# --------------------------------------------------------------------------

_BLOCKSIZE_CODE = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
                   8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
                   13: 8192, 14: 16384, 15: 32768}
_SAMPLE_SIZE_CODE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}
_FIXED_COEFFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _read_utf8_number(r: _BitReader) -> int:
    first = r.read(8)
    if first < 0x80:
        return first
    n = 0
    mask = 0x40
    while first & mask:
        n += 1
        mask >>= 1
    if n == 0 or n > 6:
        raise ValueError("invalid UTF-8-coded number")
    v = first & (mask - 1)
    for _ in range(n):
        c = r.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("invalid UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _decode_residual(r: _BitReader, block_size: int, order: int) -> list:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    plen = 4 if method == 0 else 5
    escape = (1 << plen) - 1
    porder = r.read(4)
    nparts = 1 << porder
    # spec: block size must divide evenly across partitions; the first
    # partition holds (block_size/2^porder - order) samples (negative
    # counts reject in the loop below)
    if block_size % nparts:
        raise ValueError("partition order does not divide block size")
    out = []
    for p in range(nparts):
        n = (block_size >> porder) - (order if p == 0 else 0)
        if n < 0:
            raise ValueError("negative first-partition sample count")
        param = r.read(plen)
        if param == escape:
            bits = r.read(5)
            for _ in range(n):
                out.append(r.read_signed(bits) if bits else 0)
        else:
            for _ in range(n):
                q = r.read_unary()
                v = (q << param) | r.read(param)
                out.append((v >> 1) ^ -(v & 1))  # zigzag
    return out


def _decode_subframe(r: _BitReader, block_size: int, bps: int) -> list:
    if r.read(1) != 0:
        raise ValueError("subframe padding bit not zero")
    stype = r.read(6)
    wasted = 0
    if r.read(1):  # wasted-bits flag: unary count-1
        wasted = 1 + r.read_unary()
    eff = bps - wasted
    if eff <= 0:
        raise ValueError("wasted bits exceed sample size")
    if stype == 0:  # CONSTANT
        v = r.read_signed(eff)
        samples = [v] * block_size
    elif stype == 1:  # VERBATIM
        samples = [r.read_signed(eff) for _ in range(block_size)]
    elif 8 <= stype <= 12:  # FIXED, order = stype - 8
        order = stype - 8
        if order > block_size:
            raise ValueError("fixed order exceeds block size")
        warm = [r.read_signed(eff) for _ in range(order)]
        resid = _decode_residual(r, block_size, order)
        coeffs = _FIXED_COEFFS[order]
        samples = list(warm)
        for e in resid:
            pred = sum(c * samples[-i - 1] for i, c in enumerate(coeffs))
            samples.append(e + pred)
    elif stype >= 32:  # LPC, order = (type & 31) + 1
        order = (stype & 31) + 1
        if order > block_size:
            raise ValueError("LPC order exceeds block size")
        warm = [r.read_signed(eff) for _ in range(order)]
        precision = r.read(4) + 1
        if precision == 16:  # raw value 0b1111 is invalid per spec
            raise ValueError("invalid LPC coefficient precision 0b1111")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift is reserved")
        coeffs = [r.read_signed(precision) for _ in range(order)]
        resid = _decode_residual(r, block_size, order)
        samples = list(warm)
        for e in resid:
            pred = sum(c * samples[-i - 1] for i, c in enumerate(coeffs))
            samples.append(e + (pred >> shift))
    else:
        raise ValueError(f"reserved subframe type {stype}")
    if wasted:
        samples = [s << wasted for s in samples]
    return samples


def decode_flac(blob: bytes):
    """Decode the whole stream → (numpy int32 array shape (n, channels),
    sample_rate). Verifies frame-header CRC-8, frame CRC-16, and the
    STREAMINFO PCM MD5 (when non-zero). Raises ValueError on corrupt or
    beyond-tier input."""
    import numpy as np

    info = parse_flac(blob)
    r = _BitReader(blob, info.frames_start)
    chans: list = [[] for _ in range(info.channels)]
    total = 0
    while total < info.total_samples:
        frame_start = r.byte_pos
        if r.read(14) != 0b11111111111110:
            raise ValueError("bad frame sync code")
        r.read(1)  # reserved
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        ch_code = r.read(4)
        ss_code = r.read(3)
        if r.read(1) != 0:
            raise ValueError("frame header reserved bit set")
        _read_utf8_number(r)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            block_size = r.read(8) + 1
        elif bs_code == 7:
            block_size = r.read(16) + 1
        else:
            block_size = _BLOCKSIZE_CODE[bs_code]
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        elif sr_code == 15:
            raise ValueError("invalid sample rate code 15")
        if ss_code == 3:
            raise ValueError("reserved sample size code 3")
        bps = _SAMPLE_SIZE_CODE.get(ss_code, info.bits_per_sample)
        header = blob[frame_start : r.byte_pos]
        if crc8(header) != r.read(8):
            raise ValueError("frame header CRC-8 mismatch")
        if info.max_block and block_size > info.max_block:
            raise ValueError("block size exceeds stream maximum")
        # subframes
        if ch_code <= 7:
            nch = ch_code + 1
            if nch != info.channels:
                raise ValueError("frame channel count != STREAMINFO")
            subs = [_decode_subframe(r, block_size, bps) for _ in range(nch)]
        elif ch_code in (8, 9, 10):
            # stereo decorrelation: the SIDE channel carries bps+1 bits
            if info.channels != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            if ch_code == 8:  # left/side: ch0=left(bps), ch1=side(bps+1)
                left = _decode_subframe(r, block_size, bps)
                side = _decode_subframe(r, block_size, bps + 1)
                subs = [left, [x - s for x, s in zip(left, side)]]
            elif ch_code == 9:  # right/side: ch0=side(bps+1), ch1=right(bps)
                side = _decode_subframe(r, block_size, bps + 1)
                right = _decode_subframe(r, block_size, bps)
                subs = [[x + s for x, s in zip(right, side)], right]
            else:  # mid/side: ch0=mid(bps), ch1=side(bps+1)
                mid = _decode_subframe(r, block_size, bps)
                side = _decode_subframe(r, block_size, bps + 1)
                left, right = [], []
                for m_, s_ in zip(mid, side):
                    m2 = (m_ << 1) | (s_ & 1)
                    left.append((m2 + s_) >> 1)
                    right.append((m2 - s_) >> 1)
                subs = [left, right]
        else:
            raise ValueError(f"reserved channel assignment {ch_code}")
        r.align()
        frame_body = blob[frame_start : r.byte_pos]
        if crc16(frame_body) != r.read(16):
            raise ValueError("frame CRC-16 mismatch")
        take = min(block_size, info.total_samples - total)
        for c in range(info.channels):
            chans[c].extend(subs[c][:take])
        total += take
    out = np.asarray(chans, dtype=np.int64).T.astype(np.int32)
    # MD5 verification only for byte-multiple sample widths: the spec's
    # PCM serialization for 12/20-bit streams packs sub-byte widths this
    # decoder does not reproduce (the sibling encoder emits a zero MD5
    # for those, matching), so verifying would reject valid files.
    if info.md5 != b"\x00" * 16 and info.bits_per_sample % 8 == 0:
        width = info.bits_per_sample // 8
        dt = {1: "<i1", 2: "<i2", 3: None, 4: "<i4"}[width] if width != 3 else None
        if width == 3:
            raw = b"".join(
                int(v).to_bytes(3, "little", signed=True)
                for v in out.reshape(-1)
            )
        else:
            raw = out.astype(dt).tobytes()
        if hashlib.md5(raw).digest() != info.md5:
            raise ValueError("PCM MD5 mismatch (stream corrupt)")
    return out, info.sample_rate


# --------------------------------------------------------------------------
# Encoder (fixture/round-trip anchor — spec-conformant subset streams)
# --------------------------------------------------------------------------


def _write_utf8_number(w: _BitWriter, v: int) -> None:
    if v < 0x80:
        w.write(v, 8)
        return
    # count continuation bytes needed (6 payload bits each)
    for n in range(1, 7):
        if v < (1 << (6 * n + (6 - n))):
            break
    lead = (0xFF << (7 - n)) & 0xFF
    w.write(lead | (v >> (6 * n)), 8)
    for i in range(n - 1, -1, -1):
        w.write(0x80 | ((v >> (6 * i)) & 0x3F), 8)


def _best_rice_param(resid: list, plen: int) -> int:
    best, best_bits = 0, None
    escape = (1 << plen) - 1
    for p in range(escape):
        bits = 0
        for e in resid:
            z = (e << 1) ^ (e >> 63) if e >= 0 else ((-e) << 1) - 1
            z = (e << 1) if e >= 0 else (((-e) << 1) - 1)
            bits += (z >> p) + 1 + p
            if best_bits is not None and bits > best_bits:
                break
        if best_bits is None or bits < best_bits:
            best, best_bits = p, bits
    return best


def _write_rice(w: _BitWriter, resid: list, param: int) -> None:
    for e in resid:
        z = (e << 1) if e >= 0 else (((-e) << 1) - 1)
        w.write_unary(z >> param)
        w.write(z & ((1 << param) - 1), param)


def encode_flac(pcm, sample_rate: int, bits_per_sample: int = 16,
                block_size: int = 4096, fixed_order: int | None = None) -> bytes:
    """PCM (numpy int array shape (n,) or (n, channels)) → FLAC bytes:
    independent channels, fixed block size, one subframe strategy for the
    whole stream — CONSTANT when a block is constant, else FIXED of
    ``fixed_order`` (auto 0-2 by residual size when None) with a single
    Rice partition, else VERBATIM for order None + tiny blocks. CRC-8 /
    CRC-16 / PCM MD5 all emitted per spec (decode_flac verifies them)."""
    import numpy as np

    x = np.asarray(pcm, dtype=np.int64)
    if x.ndim == 1:
        x = x[:, None]
    n, nch = x.shape
    if not 1 <= nch <= 8:
        raise ValueError(f"channels must be 1..8, got {nch}")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError("bits_per_sample must be 4..32")
    lo, hi = -(1 << (bits_per_sample - 1)), (1 << (bits_per_sample - 1)) - 1
    if x.min() < lo or x.max() > hi:
        raise ValueError("PCM exceeds bits_per_sample range")

    width = bits_per_sample // 8
    if bits_per_sample % 8 == 0:
        if width == 3:
            raw = b"".join(int(v).to_bytes(3, "little", signed=True)
                           for v in x.reshape(-1))
        else:
            raw = x.astype({1: "<i1", 2: "<i2", 4: "<i4"}[width]).tobytes()
        md5 = hashlib.md5(raw).digest()
    else:
        md5 = b"\x00" * 16  # spec allows an unset MD5

    # STREAMINFO
    si = bytearray()
    si += block_size.to_bytes(2, "big") * 2  # min == max (fixed blocking)
    si += (0).to_bytes(3, "big") * 2  # frame sizes unknown
    packed = (sample_rate << 44) | ((nch - 1) << 41) \
        | ((bits_per_sample - 1) << 36) | n
    si += packed.to_bytes(8, "big")
    si += md5
    out = bytearray(b"fLaC")
    out.append(0x80)  # last block, type 0 (STREAMINFO)
    out += (34).to_bytes(3, "big")
    out += si

    for fi, start in enumerate(range(0, n, block_size)):
        blk = x[start : start + block_size]
        bs = len(blk)
        w = _BitWriter()
        w.write(0b11111111111110, 14)
        w.write(0, 1)  # reserved
        w.write(0, 1)  # fixed-blocksize strategy → frame number coded
        w.write(7, 4)  # block size: 16-bit at end of header
        w.write(0, 4)  # sample rate: from STREAMINFO
        w.write(nch - 1, 4)  # independent channels
        ss_code = {8: 1, 12: 2, 16: 4, 20: 5, 24: 6, 32: 7}.get(
            bits_per_sample, 0)
        w.write(ss_code, 3)
        w.write(0, 1)  # reserved
        _write_utf8_number(w, fi)
        w.write(bs - 1, 16)
        w.align()
        hdr = w.getvalue()
        w = _BitWriter()
        for b in hdr:
            w.write(b, 8)
        w.write(crc8(hdr), 8)
        for c in range(nch):
            col = blk[:, c].tolist()
            w.write(0, 1)  # padding
            if all(v == col[0] for v in col):
                w.write(0, 6)  # CONSTANT
                w.write(0, 1)  # no wasted bits
                w.write(col[0], bits_per_sample)
                continue
            order = fixed_order
            if order is None:
                # pick the cheapest of orders 0..2 by |residual| sum
                cands = []
                for o in range(3):
                    if o > len(col):
                        break
                    coeffs = _FIXED_COEFFS[o]
                    res = [col[i] - sum(cf * col[i - j - 1]
                                        for j, cf in enumerate(coeffs))
                           for i in range(o, len(col))]
                    cands.append((sum(abs(e) for e in res), o, res))
                _, order, resid = min(cands)
            else:
                coeffs = _FIXED_COEFFS[order]
                resid = [col[i] - sum(cf * col[i - j - 1]
                                      for j, cf in enumerate(coeffs))
                         for i in range(order, len(col))]
            w.write(8 + order, 6)  # FIXED
            w.write(0, 1)  # no wasted bits
            for i in range(order):
                w.write(col[i], bits_per_sample)
            w.write(0, 2)  # residual method 0 (4-bit rice params)
            w.write(0, 4)  # partition order 0 → one partition
            param = _best_rice_param(resid, 4)
            if param == 15:
                raise ValueError("residuals too large for 4-bit rice tier")
            w.write(param, 4)
            _write_rice(w, resid, param)
        w.align()
        body = w.getvalue()
        out += body
        out += crc16(body).to_bytes(2, "big")
    return bytes(out)


# --------------------------------------------------------------------------
# Spark operator
# --------------------------------------------------------------------------


def flac_band_energies(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    n_bands: int = 8,
) -> DataFrame:
    """(media_id, sample_rate, n_samples, duration_s, band_energy) per
    FLAC blob — decode through this module's verified-CRC path, then the
    same per-band RMS energies over n_bands equal time slices as the WAV
    operator (multimodal.extract_audio_features), normalized to full
    scale. One Arrow map pass, zero shuffle; corrupt / beyond-tier (LPC)
    blobs emit ONE all-NULL row (the multimodal reject convention)."""
    id_type = dict(df.dtypes)[id_col]
    src = df.select(F.col(id_col).alias("id"), F.col(content_col).alias("c"))

    def run(batches):
        # worker imports THIS package: executors need it importable
        # (pip-installed or shipped via --py-files) — the normal library
        # deployment; the decoder is too large to inline by value
        import numpy as _np
        import pandas as _pd

        from apache_pinot_spark.operators.flac import decode_flac, parse_flac

        for pdf in batches:
            out = {k: [] for k in ("id", "sample_rate", "n_samples",
                                   "duration_s", "band_energy")}
            for mid, blob in zip(pdf["id"], pdf["c"]):
                try:
                    data = bytes(blob) if blob is not None else None
                    info = parse_flac(data)
                    pcm, sr = decode_flac(data)
                    xs = pcm.astype(_np.float64).mean(axis=1)
                    xs /= float(1 << (info.bits_per_sample - 1))
                    edges = _np.linspace(0, xs.size, n_bands + 1).astype(int)
                    bands = []
                    for i in range(n_bands):
                        seg = xs[edges[i] : edges[i + 1]]
                        bands.append(
                            float(_np.sqrt(_np.mean(seg * seg)))
                            if seg.size else 0.0)
                    out["id"].append(mid)
                    out["sample_rate"].append(sr)
                    out["n_samples"].append(int(pcm.shape[0]))
                    out["duration_s"].append(pcm.shape[0] / sr)
                    out["band_energy"].append(bands)
                except Exception:
                    out["id"].append(mid)
                    out["sample_rate"].append(None)
                    out["n_samples"].append(None)
                    out["duration_s"].append(None)
                    out["band_energy"].append(None)
            yield _pd.DataFrame(out)

    out = src.mapInPandas(
        run,
        schema=f"id {id_type}, sample_rate INT, n_samples INT, "
               "duration_s DOUBLE, band_energy ARRAY<DOUBLE>",
    )
    return out.withColumnRenamed("id", id_col)
