"""WebP ingestion tier — RIFF container audit + a from-scratch VP8L
(lossless) decoder, plus a subset VP8L encoder that anchors fixtures.

Why: WebP is the highest-volume image format in modern web crawls after
JPEG/PNG, and until now every WebP blob took the reject stream. The
container walk and the LOSSLESS bitstream are implemented here from the
public specifications (RIFF container spec; "WebP Lossless Bitstream
Specification"); the LOSSY (VP8) payload gets an honest audit tier —
frame tag, keyframe start code, dimensions — with PCM-style full decode
left as a documented plug point (VP8 intra prediction + boolean
arithmetic coding is the H.264 shape; the audit columns cover curation
stats the same way mp3.py covers MPEG audio).

VP8L surface implemented (the complete lossless format):
  * LSB-first bit reading; 14-bit dimensions; version check;
  * all four transforms — PREDICTOR (all 14 modes, per-tile modes,
    top/left edge rules), COLOR (signed 3.5 fixed-point channel
    deltas), SUBTRACT_GREEN, COLOR_INDEXING (palette with delta
    coding AND sub-byte pixel bundling at widths 1/2/4 bits);
  * meta prefix codes (entropy image per tile), color cache
    (hash 0x1e35a7bd multiplier), five-code prefix groups;
  * canonical prefix codes: simple (1-2 symbol) and full form — code
    lengths themselves prefix-coded in the spec's 19-symbol order with
    repeat codes 16/17/18 and the max_symbol short form;
  * LZ77 backrefs: length/distance prefix+extra-bits decode, the
    120-entry 2D neighbor distance map, copies that cross rows.

The neighbor map is GENERATED, not transcribed: the spec's table lists
the 120 closest (dx, dy) offsets ordered by squared distance, larger dy
first within a tie, +dx before −dx — the generator reproduces the
published table (head pinned in tests).

Untrusted-input rules (house contract): dimension/pixel caps before
allocation, bounded bit reads (truncation raises), incomplete or
over-subscribed prefix codes reject, palette indexes clamp per spec,
reject stream on the Spark operators — a corrupt blob never fails a
task.

Conformance: no WebP codec exists in this container (no Pillow, no JVM
plugin), so the anchoring follows the adjudicated H.264/FLAC pattern —
a spec-derived subset ENCODER (literal-only, real per-channel canonical
codes) round-trips random images bit-exactly through the decoder,
transform paths are exercised by hand-built bitstreams computed
per-spec in the tests, and corrupt/mutated streams must reject cleanly.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import Any

class WebPError(ValueError):
    """Malformed or out-of-scope WebP payload."""


_MAX_PIXELS_DEFAULT = 1 << 26  # 64 Mpx ≈ 256 MB RGBA — the bomb cap

#: code-length symbols appear in this fixed order (spec §"Prefix codes")
_CODE_LENGTH_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10,
                      11, 12, 13, 14, 15)
_CACHE_MULTIPLIER = 0x1E35A7BD


def _distance_map() -> list[tuple[int, int]]:
    """The 120 closest 2D neighbors: ordered by dx²+dy², then larger dy
    first, then positive dx before negative — reproduces the spec's
    published table (head pinned in tests)."""
    cands = []
    for dy in range(0, 9):
        for dx in range(-8, 9):
            if dy == 0 and dx <= 0:
                continue
            if dy == 0:
                pass  # (dx>0, 0): to the left of current pixel
            cands.append((dx, dy))
    cands.sort(key=lambda p: (p[0] * p[0] + p[1] * p[1], -p[1],
                              0 if p[0] >= 0 else 1, abs(p[0])))
    return cands[:120]


_DIST_MAP = _distance_map()


# ---------------------------------------------------------------------------
# Bit I/O (LSB-first)
# ---------------------------------------------------------------------------

class _BitReader:
    __slots__ = ("data", "pos", "nbits")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position
        self.nbits = 8 * len(data)

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.pos + n > self.nbits:
            raise WebPError("bitstream truncated")
        out = 0
        p = self.pos
        for i in range(n):
            out |= ((self.data[(p + i) >> 3] >> ((p + i) & 7)) & 1) << i
        self.pos = p + n
        return out

    def read_bit(self) -> int:
        if self.pos >= self.nbits:
            raise WebPError("bitstream truncated")
        b = (self.data[self.pos >> 3] >> (self.pos & 7)) & 1
        self.pos += 1
        return b


class _BitWriter:
    def __init__(self):
        self.bits: list[int] = []

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            self.bits.append((value >> i) & 1)

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits go MSB-first (the decoder reads them one bit
        at a time into the high end)."""
        for i in range(length - 1, -1, -1):
            self.bits.append((code >> i) & 1)

    def bytes(self) -> bytes:
        out = bytearray((len(self.bits) + 7) // 8)
        for i, b in enumerate(self.bits):
            if b:
                out[i >> 3] |= 1 << (i & 7)
        return bytes(out)


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------

def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), canonical assignment (by length then
    symbol — the DEFLATE/VP8L rule)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    prev_len = 0
    for sym in sorted(lengths, key=lambda s: (lengths[s], s)):
        ln = lengths[sym]
        code <<= ln - prev_len
        out[sym] = (code, ln)
        code += 1
        prev_len = ln
    return out


class _PrefixCode:
    """Bit-at-a-time canonical decoder. ``single`` codes consume zero
    bits. Incomplete or over-subscribed length sets reject."""

    __slots__ = ("table", "single", "max_len")

    def __init__(self, lengths: dict[int, int]):
        nz = {s: l for s, l in lengths.items() if l > 0}
        if not nz:
            raise WebPError("prefix code with no symbols")
        if len(nz) == 1:
            self.single = next(iter(nz))
            self.table = {}
            self.max_len = 0
            return
        self.single = None
        kraft = sum(2.0 ** -l for l in nz.values())
        if abs(kraft - 1.0) > 1e-9:
            raise WebPError(f"invalid prefix code (Kraft sum {kraft})")
        self.max_len = max(nz.values())
        if self.max_len > 15:
            raise WebPError("prefix code length past 15")
        self.table = {(ln, code): sym
                      for sym, (code, ln) in _canonical_codes(nz).items()}

    def decode(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise WebPError("invalid prefix-code bits")


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    if br.read_bit():  # simple code
        num_symbols = br.read_bit() + 1
        if br.read_bit():
            first = br.read(8)
        else:
            first = br.read_bit()
        if first >= alphabet_size:
            raise WebPError("simple-code symbol out of alphabet")
        if num_symbols == 1:
            return _PrefixCode({first: 1})  # single: zero-bit code
        second = br.read(8)
        if second == first:
            raise WebPError("simple code repeats its symbol")
        if second >= alphabet_size:
            raise WebPError("simple-code symbol out of alphabet")
        # codes follow STREAM order (first→0, second→1), not the
        # canonical symbol order
        pc = _PrefixCode.__new__(_PrefixCode)
        pc.single = None
        pc.max_len = 1
        pc.table = {(1, 0): first, (1, 1): second}
        return pc

    # full form: code lengths are themselves prefix-coded
    num_codes = 4 + br.read(4)
    cl_lengths: dict[int, int] = {}
    for i in range(num_codes):
        ln = br.read(3)
        if ln:
            cl_lengths[_CODE_LENGTH_ORDER[i]] = ln
    cl_code = _PrefixCode(cl_lengths)

    if br.read_bit():  # max_symbol short form
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
        if max_symbol > alphabet_size:
            raise WebPError("max_symbol past alphabet")
    else:
        max_symbol = alphabet_size

    lengths: dict[int, int] = {}
    prev = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        s = cl_code.decode(br)
        if s < 16:
            if s:
                lengths[sym] = s
                prev = s
            sym += 1
        elif s == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if sym < alphabet_size:
                    lengths[sym] = prev
                    sym += 1
        elif s == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
    if sym > alphabet_size:
        raise WebPError("code lengths overflow the alphabet")
    return _PrefixCode(lengths)


# ---------------------------------------------------------------------------
# VP8L image-stream decode
# ---------------------------------------------------------------------------

def _subsample(size: int, bits: int) -> int:
    return (size + (1 << bits) - 1) >> bits


def _prefix_value(code: int, br: _BitReader) -> int:
    """LZ77 length/distance prefix decode (spec 'prefix coding')."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


@dataclass
class _Group:
    green: _PrefixCode
    red: _PrefixCode
    blue: _PrefixCode
    alpha: _PrefixCode
    dist: _PrefixCode


def _read_groups(br: _BitReader, n: int, cache_size: int) -> list[_Group]:
    out = []
    for _ in range(n):
        g = _read_prefix_code(br, 256 + 24 + cache_size)
        r = _read_prefix_code(br, 256)
        b = _read_prefix_code(br, 256)
        a = _read_prefix_code(br, 256)
        d = _read_prefix_code(br, 40)
        out.append(_Group(g, r, b, a, d))
    return out


def _decode_image_stream(br: _BitReader, w: int, h: int, level0: bool,
                         max_pixels: int) -> tuple[list[int], list]:
    """Returns (pixels as ARGB ints, transforms read) — transforms only
    at level 0; callers apply them in reverse."""
    if w <= 0 or h <= 0 or w * h > max_pixels:
        raise WebPError(f"image {w}x{h} out of bounds")
    transforms: list[tuple] = []
    xsize = w
    if level0:
        seen = set()
        while br.read_bit():
            ttype = br.read(2)
            if ttype in seen:
                raise WebPError("duplicate transform")
            seen.add(ttype)
            if ttype == 0:  # PREDICTOR
                bits = br.read(3) + 2
                tw, th = _subsample(xsize, bits), _subsample(h, bits)
                tiles, _ = _decode_image_stream(br, tw, th, False,
                                                max_pixels)
                # record the width IN EFFECT when this transform was
                # read: one read after COLOR_INDEXING operates on the
                # packed buffer, and the inverse must use that width
                transforms.append(("predictor", bits, tw, tiles, xsize))
            elif ttype == 1:  # COLOR
                bits = br.read(3) + 2
                tw, th = _subsample(xsize, bits), _subsample(h, bits)
                tiles, _ = _decode_image_stream(br, tw, th, False,
                                                max_pixels)
                transforms.append(("color", bits, tw, tiles, xsize))
            elif ttype == 2:  # SUBTRACT_GREEN
                transforms.append(("subtract_green",))
            else:  # COLOR_INDEXING
                n_colors = br.read(8) + 1
                pal_px, _ = _decode_image_stream(br, n_colors, 1, False,
                                                 max_pixels)
                palette = []
                acc = 0
                for p in pal_px:
                    # component-wise delta accumulation, mod 256
                    acc = (((acc & 0xFF000000) + (p & 0xFF000000))
                           & 0xFF000000) \
                        | (((acc & 0xFF0000) + (p & 0xFF0000)) & 0xFF0000) \
                        | (((acc & 0xFF00) + (p & 0xFF00)) & 0xFF00) \
                        | (((acc & 0xFF) + (p & 0xFF)) & 0xFF)
                    palette.append(acc)
                if n_colors <= 2:
                    width_bits = 3
                elif n_colors <= 4:
                    width_bits = 2
                elif n_colors <= 16:
                    width_bits = 1
                else:
                    width_bits = 0
                transforms.append(("palette", width_bits, xsize, palette))
                xsize = _subsample(xsize, width_bits)

    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise WebPError(f"color-cache bits {cache_bits} invalid")
    cache_size = (1 << cache_bits) if cache_bits else 0

    entropy = None
    meta_bits = 0
    n_groups = 1
    if level0 and br.read_bit():  # meta prefix codes
        meta_bits = br.read(3) + 2
        ew, eh = _subsample(xsize, meta_bits), _subsample(h, meta_bits)
        epx, _ = _decode_image_stream(br, ew, eh, False, max_pixels)
        entropy = (meta_bits, ew, epx)
        n_groups = max(((p >> 8) & 0xFFFF) for p in epx) + 1
        if n_groups > 1 << 16:
            raise WebPError("too many prefix groups")
    groups = _read_groups(br, n_groups, cache_size)

    npix = xsize * h
    pixels: list[int] = [0] * npix
    cache = [0] * cache_size
    shift = 32 - cache_bits if cache_bits else 0
    i = 0
    group = groups[0]
    while i < npix:
        if entropy is not None:
            mb, ew, epx = entropy
            x, y = i % xsize, i // xsize
            meta = epx[(y >> mb) * ew + (x >> mb)]
            group = groups[(meta >> 8) & 0xFFFF]
        s = group.green.decode(br)
        if s < 256:  # literal
            g = s
            r = group.red.decode(br)
            b = group.blue.decode(br)
            a = group.alpha.decode(br)
            px = (a << 24) | (r << 16) | (g << 8) | b
            pixels[i] = px
            if cache_bits:
                cache[(_CACHE_MULTIPLIER * px & 0xFFFFFFFF) >> shift] = px
            i += 1
        elif s < 256 + 24:  # LZ77 backref
            length = _prefix_value(s - 256, br)
            dcode = group.dist.decode(br)
            draw = _prefix_value(dcode, br)
            if draw > 120:
                dist = draw - 120
            else:
                dx, dy = _DIST_MAP[draw - 1]
                dist = dy * xsize + dx
                if dist < 1:
                    dist = 1
            if dist > i or i + length > npix:
                raise WebPError("backref out of bounds")
            for _ in range(length):
                px = pixels[i - dist]
                pixels[i] = px
                if cache_bits:
                    cache[(_CACHE_MULTIPLIER * px & 0xFFFFFFFF)
                          >> shift] = px
                i += 1
        else:  # color-cache hit
            if not cache_bits:
                raise WebPError("cache symbol without a color cache")
            idx = s - 256 - 24
            if idx >= cache_size:
                raise WebPError("cache index out of range")
            pixels[i] = cache[idx]
            i += 1
    return pixels, transforms


# ---------------------------------------------------------------------------
# Inverse transforms
# ---------------------------------------------------------------------------

def _avg2(a: int, b: int) -> int:
    return (((a ^ b) & 0xFEFEFEFE) >> 1) + (a & b)


def _add_pixels(a: int, b: int) -> int:
    """Per-channel addition mod 256."""
    return ((((a & 0xFF00FF00) + (b & 0xFF00FF00)) & 0xFF00FF00)
            | (((a & 0x00FF00FF) + (b & 0x00FF00FF)) & 0x00FF00FF))


def _select(l: int, t: int, tl: int) -> int:
    p = [((l >> s) & 0xFF) + ((t >> s) & 0xFF) - ((tl >> s) & 0xFF)
         for s in (24, 16, 8, 0)]
    pl = sum(abs(p[j] - ((l >> s) & 0xFF))
             for j, s in enumerate((24, 16, 8, 0)))
    pt = sum(abs(p[j] - ((t >> s) & 0xFF))
             for j, s in enumerate((24, 16, 8, 0)))
    return l if pl < pt else t


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        out |= _clamp(((l >> s) & 0xFF) + ((t >> s) & 0xFF)
                      - ((tl >> s) & 0xFF)) << s
    return out


def _cas_half(avg: int, tl: int) -> int:
    out = 0
    for s in (24, 16, 8, 0):
        a = (avg >> s) & 0xFF
        out |= _clamp(a + (a - ((tl >> s) & 0xFF)) // 2) << s
    return out


def _inv_predictor(pix: list[int], w: int, h: int, bits: int, tw: int,
                   tiles: list[int]) -> None:
    for y in range(h):
        trow = (y >> bits) * tw
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pix[x - 1]  # top row: L
            elif x == 0:
                pred = pix[(y - 1) * w]  # left column: T
            else:
                mode = (tiles[trow + (x >> bits)] >> 8) & 0xFF
                L = pix[y * w + x - 1]
                T = pix[(y - 1) * w + x]
                TL = pix[(y - 1) * w + x - 1]
                TR = (pix[(y - 1) * w + x + 1] if x + 1 < w
                      else pix[(y - 1) * w])  # spec: TR of last col wraps
                if mode == 0:
                    pred = 0xFF000000
                elif mode == 1:
                    pred = L
                elif mode == 2:
                    pred = T
                elif mode == 3:
                    pred = TR
                elif mode == 4:
                    pred = TL
                elif mode == 5:
                    pred = _avg2(_avg2(L, TR), T)
                elif mode == 6:
                    pred = _avg2(L, TL)
                elif mode == 7:
                    pred = _avg2(L, T)
                elif mode == 8:
                    pred = _avg2(TL, T)
                elif mode == 9:
                    pred = _avg2(T, TR)
                elif mode == 10:
                    pred = _avg2(_avg2(L, TL), _avg2(T, TR))
                elif mode == 11:
                    pred = _select(L, T, TL)
                elif mode == 12:
                    pred = _cas_full(L, T, TL)
                elif mode == 13:
                    pred = _cas_half(_avg2(L, T), TL)
                else:
                    raise WebPError(f"predictor mode {mode} invalid")
            pix[y * w + x] = _add_pixels(pix[y * w + x], pred)


def _ctd(t: int, c: int) -> int:
    """ColorTransformDelta: signed-int8 t times signed-int8 c, >> 5."""
    if t >= 128:
        t -= 256
    if c >= 128:
        c -= 256
    return (t * c) >> 5


def _inv_color_transform(pix: list[int], w: int, h: int, bits: int,
                         tw: int, tiles: list[int]) -> None:
    for y in range(h):
        trow = (y >> bits) * tw
        for x in range(w):
            cte = tiles[trow + (x >> bits)]
            g2r = cte & 0xFF           # blue channel
            g2b = (cte >> 8) & 0xFF    # green channel
            r2b = (cte >> 16) & 0xFF   # red channel
            px = pix[y * w + x]
            a = px >> 24 & 0xFF
            r = px >> 16 & 0xFF
            g = px >> 8 & 0xFF
            b = px & 0xFF
            r = (r + _ctd(g2r, g)) & 0xFF
            b = (b + _ctd(g2b, g)) & 0xFF
            b = (b + _ctd(r2b, r)) & 0xFF
            pix[y * w + x] = (a << 24) | (r << 16) | (g << 8) | b


def _inv_subtract_green(pix: list[int]) -> None:
    for i, px in enumerate(pix):
        g = (px >> 8) & 0xFF
        r = ((px >> 16 & 0xFF) + g) & 0xFF
        b = ((px & 0xFF) + g) & 0xFF
        pix[i] = (px & 0xFF00FF00) | (r << 16) | b


def _inv_palette(pix: list[int], w: int, h: int, width_bits: int,
                 palette: list[int]) -> list[int]:
    if width_bits == 0:
        out = []
        for px in pix:
            idx = (px >> 8) & 0xFF
            out.append(palette[idx] if idx < len(palette) else 0)
        return out
    packed_w = _subsample(w, width_bits)
    per = 1 << width_bits           # indices per packed byte
    ibits = 8 >> width_bits         # bits per index
    mask = (1 << ibits) - 1
    out = [0] * (w * h)
    for y in range(h):
        for px_x in range(packed_w):
            green = (pix[y * packed_w + px_x] >> 8) & 0xFF
            for j in range(per):
                x = px_x * per + j
                if x >= w:
                    break
                idx = (green >> (j * ibits)) & mask
                out[y * w + x] = (palette[idx] if idx < len(palette)
                                  else 0)
    return out


def decode_vp8l(data: bytes, max_pixels: int = _MAX_PIXELS_DEFAULT):
    """VP8L chunk payload → H×W×C uint8 (C=4 when any transparency,
    else 3)."""
    import numpy as np

    if len(data) < 5 or data[0] != 0x2F:
        raise WebPError("bad VP8L signature")
    br = _BitReader(data[1:])
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read_bit()  # alpha hint
    if br.read(3) != 0:
        raise WebPError("VP8L version not 0")
    if w * h > max_pixels:
        raise WebPError(f"{w}x{h} past the {max_pixels}-pixel cap")
    pixels, transforms = _decode_image_stream(br, w, h, True, max_pixels)
    for t in reversed(transforms):
        if t[0] == "palette":
            _, width_bits, orig_w, palette = t
            pixels = _inv_palette(pixels, orig_w, h, width_bits, palette)
        elif t[0] == "subtract_green":
            _inv_subtract_green(pixels)
        elif t[0] == "color":
            _, bits, tw, tiles, eff_w = t
            _inv_color_transform(pixels, eff_w, h, bits, tw, tiles)
        elif t[0] == "predictor":
            _, bits, tw, tiles, eff_w = t
            _inv_predictor(pixels, eff_w, h, bits, tw, tiles)
    arr = np.array(pixels, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., 0] = (arr >> 16) & 0xFF
    rgba[..., 1] = (arr >> 8) & 0xFF
    rgba[..., 2] = arr & 0xFF
    rgba[..., 3] = (arr >> 24) & 0xFF
    if (rgba[..., 3] == 255).all():
        return rgba[..., :3].copy()
    return rgba


# ---------------------------------------------------------------------------
# RIFF container
# ---------------------------------------------------------------------------

def parse_webp(blob: bytes,
               max_pixels: int = _MAX_PIXELS_DEFAULT) -> dict[str, Any]:
    """Container audit: kind (lossless/lossy/extended-...), dimensions,
    flags, chunk inventory — the pre-decode curation columns."""
    if len(blob) < 12 or blob[:4] != b"RIFF" or blob[8:12] != b"WEBP":
        raise WebPError("not a WebP (RIFF/WEBP magic missing)")
    riff_size = struct.unpack_from("<I", blob, 4)[0]
    if riff_size + 8 > len(blob) + 1:  # odd-size padding tolerance
        raise WebPError("RIFF size past the blob")
    info: dict[str, Any] = {"kind": None, "width": None, "height": None,
                            "has_alpha": False, "has_animation": False,
                            "chunks": []}
    pos = 12
    while pos + 8 <= min(len(blob), riff_size + 8):
        fourcc = blob[pos:pos + 4]
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        body_at = pos + 8
        if body_at + size > len(blob):
            raise WebPError(f"chunk {fourcc!r} overruns the blob")
        info["chunks"].append((fourcc.decode("ascii", "replace"), size))
        body = blob[body_at:body_at + size]
        if fourcc == b"VP8L" and info["kind"] is None:
            info["kind"] = "lossless"
            if len(body) < 5 or body[0] != 0x2F:
                raise WebPError("bad VP8L header")
            bits = struct.unpack_from("<I", body, 1)[0]
            info["width"] = (bits & 0x3FFF) + 1
            info["height"] = ((bits >> 14) & 0x3FFF) + 1
            info["has_alpha"] = bool((bits >> 28) & 1)
        elif fourcc == b"VP8 " and info["kind"] is None:
            info["kind"] = "lossy"
            if len(body) < 10:
                raise WebPError("VP8 frame tag truncated")
            tag = body[0] | body[1] << 8 | body[2] << 16
            key_frame = not (tag & 1)
            info["lossy_keyframe"] = key_frame
            info["lossy_version"] = (tag >> 1) & 7
            info["lossy_partition_bytes"] = tag >> 5
            if key_frame:
                if body[3:6] != b"\x9d\x01\x2a":
                    raise WebPError("VP8 keyframe start code missing")
                wraw = struct.unpack_from("<H", body, 6)[0]
                hraw = struct.unpack_from("<H", body, 8)[0]
                info["width"] = wraw & 0x3FFF
                info["height"] = hraw & 0x3FFF
        elif fourcc == b"VP8X":
            info["kind"] = info["kind"] or "extended"
            if len(body) < 10:
                raise WebPError("VP8X truncated")
            flags = body[0]
            info["has_alpha"] = bool(flags & 0x10)
            info["has_animation"] = bool(flags & 0x02)
            info["width"] = 1 + (body[4] | body[5] << 8 | body[6] << 16)
            info["height"] = 1 + (body[7] | body[8] << 8 | body[9] << 16)
        pos = body_at + size + (size & 1)  # chunks pad to even
    if info["kind"] is None:
        raise WebPError("no VP8/VP8L/VP8X chunk")
    if info["width"] and info["height"] \
            and info["width"] * info["height"] > max_pixels:
        raise WebPError("canvas past the pixel cap")
    return info


def decode_webp(blob: bytes, max_pixels: int = _MAX_PIXELS_DEFAULT):
    """WebP file → H×W×C uint8. Lossless decodes for real; lossy VP8
    and animations reject honestly (the audit columns still come from
    parse_webp)."""
    info = parse_webp(blob, max_pixels)
    if info["kind"] != "lossless":
        raise WebPError(f"decode implemented for lossless only "
                        f"(got {info['kind']}); use parse_webp for stats")
    pos = 12
    while pos + 8 <= len(blob):
        fourcc = blob[pos:pos + 4]
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        if fourcc == b"VP8L":
            return decode_vp8l(blob[pos + 8:pos + 8 + size], max_pixels)
        pos += 8 + size + (size & 1)
    raise WebPError("VP8L chunk vanished")  # unreachable after parse


# ---------------------------------------------------------------------------
# Subset encoder (fixture anchor: literal-only, real canonical codes)
# ---------------------------------------------------------------------------

def _huffman_lengths(freqs: dict[int, int], max_len: int = 15) -> dict[int, int]:
    """Package-merge (length-limited Huffman): optimal lengths ≤ max_len."""
    syms = [s for s, f in freqs.items() if f > 0]
    if not syms:
        raise WebPError("empty histogram")
    if len(syms) == 1:
        return {syms[0]: 1}
    # package-merge over (weight, {sym: count}) items
    items = sorted(((freqs[s], (s,)) for s in syms))
    solution: dict[int, int] = {s: 0 for s in syms}
    packages: list[tuple[int, tuple]] = items
    for _level in range(max_len - 1):
        packages = sorted(items + [
            (packages[i][0] + packages[i + 1][0],
             packages[i][1] + packages[i + 1][1])
            for i in range(0, len(packages) - 1, 2)])
    take = 2 * len(syms) - 2
    for _w, group in packages[:take]:
        for s in group:
            solution[s] += 1
    return {s: l for s, l in solution.items() if l > 0}


def _emit_prefix_code(bw: _BitWriter, lengths: dict[int, int],
                      alphabet_size: int) -> None:
    syms = sorted(lengths)
    if len(syms) <= 2 and all(s < 256 for s in syms):
        bw.write(1, 1)  # simple
        bw.write(len(syms) - 1, 1)
        first = syms[0]
        if first > 1:
            bw.write(1, 1)
            bw.write(first, 8)
        else:
            bw.write(0, 1)
            bw.write(first, 1)
        if len(syms) == 2:
            bw.write(syms[1], 8)
        return
    bw.write(0, 1)  # full form
    # per-symbol length list (no repeat compression — fixture-grade)
    upto = max(syms) + 1
    seq = [lengths.get(s, 0) for s in range(upto)]
    cl_freq: dict[int, int] = {}
    for v in seq:
        cl_freq[v] = cl_freq.get(v, 0) + 1
    cl_lengths = _huffman_lengths(cl_freq, max_len=7)
    if len(cl_lengths) == 1:
        # degenerate code-length code needs a second symbol
        only = next(iter(cl_lengths))
        other = 0 if only != 0 else 1
        cl_lengths = {only: 1, other: 1}
    order_pos = {s: i for i, s in enumerate(_CODE_LENGTH_ORDER)}
    num_codes = max(order_pos[s] for s in cl_lengths) + 1
    num_codes = max(num_codes, 4)
    bw.write(num_codes - 4, 4)
    for i in range(num_codes):
        bw.write(cl_lengths.get(_CODE_LENGTH_ORDER[i], 0), 3)
    # max_symbol short form: emit exactly len(seq) symbols
    if upto < alphabet_size:
        bw.write(1, 1)
        length_nbits = 14  # 2 + 2*6
        bw.write(6, 3)
        bw.write(upto - 2, length_nbits)
    else:
        bw.write(0, 1)
    codes = _canonical_codes(cl_lengths)
    for v in seq:
        c, ln = codes[v]
        bw.write_code(c, ln)


def encode_webp_lossless(arr) -> bytes:
    """H×W×3 or H×W×4 uint8 → .webp bytes (VP8L, literal-only, no
    transforms — a valid stream any spec decoder reads; the fixture
    anchor for decode_vp8l)."""
    import numpy as np

    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] not in (3, 4):
        raise WebPError("need H×W×3/4 uint8")
    h, w, c = a.shape
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise WebPError("dimensions out of VP8L range")
    alpha = a[..., 3] if c == 4 else np.full((h, w), 255, np.uint8)
    bw = _BitWriter()
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(1 if (c == 4 and (alpha != 255).any()) else 0, 1)
    bw.write(0, 3)  # version
    bw.write(0, 1)  # no transforms
    bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix codes

    g = a[..., 1].ravel()
    r = a[..., 0].ravel()
    b = a[..., 2].ravel()
    al = alpha.ravel()

    def hist(vals):
        f: dict[int, int] = {}
        for v in vals.tolist():
            f[v] = f.get(v, 0) + 1
        return f

    green_l = _huffman_lengths(hist(g))
    red_l = _huffman_lengths(hist(r))
    blue_l = _huffman_lengths(hist(b))
    alpha_l = _huffman_lengths(hist(al))
    # single-symbol full-form codes are incomplete; pad with a sibling
    for ls in (green_l, red_l, blue_l, alpha_l):
        if len(ls) == 1:
            only = next(iter(ls))
            ls[only] = 1
            ls[(only + 1) % 256] = 1
    _emit_prefix_code(bw, green_l, 256 + 24)
    _emit_prefix_code(bw, red_l, 256)
    _emit_prefix_code(bw, blue_l, 256)
    _emit_prefix_code(bw, alpha_l, 256)
    _emit_prefix_code(bw, {0: 1}, 40)  # unused distance tree (1 symbol)

    gc = _canonical_codes(green_l)
    rc = _canonical_codes(red_l)
    bc = _canonical_codes(blue_l)
    ac = _canonical_codes(alpha_l)
    for i in range(w * h):
        cde, ln = gc[int(g[i])]
        bw.write_code(cde, ln)
        cde, ln = rc[int(r[i])]
        bw.write_code(cde, ln)
        cde, ln = bc[int(b[i])]
        bw.write_code(cde, ln)
        cde, ln = ac[int(al[i])]
        bw.write_code(cde, ln)

    payload = b"\x2f" + bw.bytes()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ---------------------------------------------------------------------------
# Spark operator
# ---------------------------------------------------------------------------

def webp_stats(spark, path_or_df, blob_col: str = "content"):
    """Per-blob WebP audit table (kind, dims, alpha/animation flags,
    n_chunks) with the NULL-kind reject-row convention."""
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("path", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("has_alpha", T.BooleanType()),
        T.StructField("has_animation", T.BooleanType()),
        T.StructField("n_chunks", T.IntegerType()),
        T.StructField("error", T.StringType()),
    ])
    df = (spark.read.format("binaryFile").load(path_or_df)
          .select("path", blob_col)
          if isinstance(path_or_df, str) else path_or_df)

    def gen(batches):
        from apache_pinot_spark.operators.webp import WebPError, parse_webp
        for pdf in batches:
            rows = []
            for pth, blob in zip(pdf["path"], pdf[blob_col]):
                try:
                    i = parse_webp(bytes(blob))
                    rows.append(dict(path=pth, kind=i["kind"],
                                     width=i["width"], height=i["height"],
                                     has_alpha=bool(i["has_alpha"]),
                                     has_animation=bool(i["has_animation"]),
                                     n_chunks=len(i["chunks"]), error=None))
                except Exception as exc:  # reject row (house contract)
                    rows.append(dict(path=pth, kind=None, width=None,
                                     height=None, has_alpha=None,
                                     has_animation=None, n_chunks=None,
                                     error=str(exc)[:200]))
            yield pd.DataFrame(rows, columns=[f.name for f in schema]) \
                if rows else pd.DataFrame(
                    {f.name: pd.Series([], dtype=object)
                     for f in schema})

    return df.mapInPandas(gen, schema=schema)


# ---------------------------------------------------------------------------
# Animated WebP (VP8X + ANIM/ANMF) — lossless-coded frames
# ---------------------------------------------------------------------------

def decode_animation(blob: bytes, *, max_frames: int = 256,
                     max_pixels: int = _MAX_PIXELS_DEFAULT) -> list[dict]:
    """Animated WebP → composited frames, each a dict with ``index``,
    ``timestamp_ms`` (cumulative at frame START), ``duration_ms``, and
    ``canvas`` (H×W×4 uint8 snapshot AFTER the frame renders).

    The container spec's compositing rules: frames place at (2·x, 2·y);
    blend flag bit 1 = overwrite rect (0 = alpha-over); dispose flag
    bit 0 = clear the frame rect to transparent afterwards. VP8L-coded
    frames decode for real; a lossy (VP8) frame rejects the whole
    animation honestly — a half-composited canvas would poison
    near-dup signatures downstream."""
    import numpy as np

    info = parse_webp(blob, max_pixels)
    if not info["has_animation"]:
        raise WebPError("not an animated WebP (VP8X animation flag off)")
    cw, ch = info["width"], info["height"]
    if not cw or not ch or cw * ch > max_pixels:
        raise WebPError("bad animation canvas")
    canvas = np.zeros((ch, cw, 4), dtype=np.uint8)
    frames: list[dict] = []
    t_ms = 0
    pos = 12
    while pos + 8 <= len(blob):
        fourcc = blob[pos:pos + 4]
        size = struct.unpack_from("<I", blob, pos + 4)[0]
        body = blob[pos + 8:pos + 8 + size]
        if fourcc == b"ANMF":
            if len(frames) >= max_frames:
                break
            if len(body) < 16:
                raise WebPError("ANMF header truncated")
            fx = 2 * int.from_bytes(body[0:3], "little")
            fy = 2 * int.from_bytes(body[3:6], "little")
            fw = 1 + int.from_bytes(body[6:9], "little")
            fh = 1 + int.from_bytes(body[9:12], "little")
            dur = int.from_bytes(body[12:15], "little")
            flags = body[15]
            blend_overwrite = bool(flags & 0x02)
            dispose_bg = bool(flags & 0x01)
            if fx + fw > cw or fy + fh > ch:
                raise WebPError("frame rect outside the canvas")
            # frame payload: sub-chunks; decode the VP8L one
            fpos = 16
            rgba = None
            while fpos + 8 <= len(body):
                sub = body[fpos:fpos + 4]
                ssz = struct.unpack_from("<I", body, fpos + 4)[0]
                sbody = body[fpos + 8:fpos + 8 + ssz]
                if sub == b"VP8L":
                    arr = decode_vp8l(sbody, max_pixels)
                    if arr.shape[:2] != (fh, fw):
                        raise WebPError("frame dims disagree with ANMF")
                    if arr.shape[2] == 3:
                        rgba = np.dstack([arr, np.full(
                            (fh, fw), 255, np.uint8)])
                    else:
                        rgba = arr
                elif sub == b"VP8 ":
                    raise WebPError(
                        "lossy-coded animation frame: VP8 decode is the "
                        "documented plug point")
                fpos += 8 + ssz + (ssz & 1)
            if rgba is None:
                raise WebPError("ANMF carries no image chunk")
            region = canvas[fy:fy + fh, fx:fx + fw]
            if blend_overwrite:
                region[:] = rgba
            else:  # alpha-over, integer math per the spec
                a = rgba[..., 3:4].astype(np.uint16)
                inv = (255 - a) * region[..., 3:4].astype(np.uint16) // 255
                out_a = a + inv
                safe = np.where(out_a == 0, 1, out_a)
                for c in range(3):
                    region[..., c] = ((rgba[..., c] * a[..., 0]
                                       + region[..., c] * inv[..., 0])
                                      // safe[..., 0]).astype(np.uint8)
                region[..., 3] = out_a[..., 0].astype(np.uint8)
            frames.append({"index": len(frames), "timestamp_ms": t_ms,
                           "duration_ms": dur,
                           "canvas": canvas.copy()})
            t_ms += dur
            if dispose_bg:
                canvas[fy:fy + fh, fx:fx + fw] = 0
        pos += 8 + size + (size & 1)
    if not frames:
        raise WebPError("animation carries no ANMF frames")
    return frames


def encode_webp_animation(frames, durations_ms, *, offsets=None,
                          dispose_bg=None, blend_overwrite=None) -> bytes:
    """Fixture anchor: H×W×3/4 frames → animated WebP (VP8X + ANIM +
    ANMF with VP8L-coded payloads). Canvas = frame 0's size; later
    frames may be smaller with (x, y) offsets (must be even)."""
    import numpy as np

    if not frames:
        raise WebPError("need at least one frame")
    offsets = offsets or [(0, 0)] * len(frames)
    dispose_bg = dispose_bg or [False] * len(frames)
    blend_overwrite = (blend_overwrite
                       if blend_overwrite is not None
                       else [True] * len(frames))
    ch, cw = np.asarray(frames[0]).shape[:2]
    chunks = bytearray()
    # VP8X: animation + alpha flags, canvas size
    flags = 0x12
    chunks += b"VP8X" + struct.pack("<I", 10) + bytes([flags, 0, 0, 0]) \
        + (cw - 1).to_bytes(3, "little") + (ch - 1).to_bytes(3, "little")
    chunks += b"\x00" * 0
    # ANIM: transparent background, loop forever
    chunks += b"ANIM" + struct.pack("<I", 6) + b"\x00\x00\x00\x00" \
        + b"\x00\x00"
    for img, dur, (fx, fy), disp, bov in zip(frames, durations_ms,
                                             offsets, dispose_bg,
                                             blend_overwrite):
        a = np.asarray(img, dtype=np.uint8)
        fh, fw = a.shape[:2]
        if fx % 2 or fy % 2:
            raise WebPError("ANMF offsets must be even")
        vp8l_file = encode_webp_lossless(a)
        # extract the VP8L chunk payload from the single-image file
        lsz = struct.unpack_from("<I", vp8l_file, 16)[0]
        payload = vp8l_file[20:20 + lsz]
        body = bytearray()
        body += (fx // 2).to_bytes(3, "little")
        body += (fy // 2).to_bytes(3, "little")
        body += (fw - 1).to_bytes(3, "little")
        body += (fh - 1).to_bytes(3, "little")
        body += int(dur).to_bytes(3, "little")
        body += bytes([(0x01 if disp else 0) | (0x02 if bov else 0)])
        body += b"VP8L" + struct.pack("<I", len(payload)) + payload
        if len(payload) & 1:
            body += b"\x00"
        chunks += b"ANMF" + struct.pack("<I", len(body)) + bytes(body)
        if len(body) & 1:
            chunks += b"\x00"
    return b"RIFF" + struct.pack("<I", 4 + len(chunks)) + b"WEBP" \
        + bytes(chunks)
