"""Minimal pure-stdlib PNG codec (zlib + struct).

PNG is fully decodable with nothing but the standard library (the format is zlib-deflate over
per-scanline filtered samples — RFC 2083). Scope, checked up front and
rejected with None rather than guessed:

  decode: 8- AND 16-bit samples (16-bit scales to 8 after filtering —
          PNG filters act on bytes with a whole-pixel 'left' distance),
          color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+alpha),
          6 (RGBA); tRNS transparency (palette alpha table and the
          gray/RGB color key, keyed at native depth) expands to an
          alpha channel; all five scanline filters
          (None/Sub/Up/Average/Paeth); BOTH progressive layouts —
          non-interlaced and Adam7 interlaced (round 8: seven
          independently-filtered sub-images deinterlaced by strided
          placement, golden-tested against the JVM ImageIO writer's
          interlaced output).
  encode: 8-bit gray (H×W) or RGB (H×W×3), filter 0 scanlines,
          non-interlaced.

This is a capability tier, not an imaging library: enough to decode
real PNG corpora into pixel arrays for featurization/resize, with
corrupt or out-of-scope blobs flowing to the reject stream (None) —
never an exception mid-scan.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(data: bytes) -> "np.ndarray | None":
    """PNG bytes → H×W×C uint8 array (C per color type; palette expands
    to RGB, tRNS transparency adds an alpha channel, 16-bit samples
    scale to 8). None for anything out of scope or corrupt."""
    try:
        if not data or not data.startswith(PNG_MAGIC):
            return None
        pos = len(PNG_MAGIC)
        ihdr = None
        plte = None
        trns = None
        idat = bytearray()
        while pos + 8 <= len(data):
            (length,) = struct.unpack_from(">I", data, pos)
            ctype = data[pos + 4 : pos + 8]
            body = data[pos + 8 : pos + 8 + length]
            if len(body) != length:
                return None
            if ctype == b"IHDR":
                ihdr = struct.unpack(">IIBBBBB", body)
            elif ctype == b"PLTE":
                plte = np.frombuffer(body, dtype=np.uint8).reshape(-1, 3)
            elif ctype == b"tRNS":
                trns = bytes(body)
            elif ctype == b"IDAT":
                idat += body
            elif ctype == b"IEND":
                break
            pos += 12 + length  # length + type + body + crc
        if ihdr is None or not idat:
            return None
        w, h, depth, color, comp, filt, interlace = ihdr
        if depth not in (8, 16) or comp != 0 or filt != 0 or interlace not in (0, 1):
            return None
        if color not in _CHANNELS or w == 0 or h == 0:
            return None
        if color == 3 and depth != 8:
            return None  # 16-bit palette indices are not legal PNG
        ch = _CHANNELS[color]
        sb = depth // 8  # bytes per sample (filters act at byte level)
        raw = zlib.decompress(bytes(idat))
        if interlace == 0:
            out, used = _unfilter(raw, 0, w, h, ch, sb)
            if out is None or used != len(raw):
                return None
            px = out.reshape(h, w, ch * sb)
        else:  # Adam7: 7 sub-images, each filtered independently, placed
            # back into the full raster by (x0::dx, y0::dy) striding
            px = np.zeros((h, w, ch * sb), dtype=np.uint8)
            off = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = (w - x0 + dx - 1) // dx
                ph = (h - y0 + dy - 1) // dy
                if pw <= 0 or ph <= 0:
                    continue
                sub, used = _unfilter(raw, off, pw, ph, ch, sb)
                if sub is None:
                    return None
                off += used
                px[y0::dy, x0::dx] = sub.reshape(ph, pw, ch * sb)
            if off != len(raw):
                return None
        # native-depth sample array (tRNS keys compare at full precision)
        if sb == 2:
            b = px.reshape(h, w, ch, 2).astype(np.uint16)
            vals = (b[..., 0] << 8) | b[..., 1]
        else:
            vals = px.reshape(h, w, ch)
        if color == 3:
            if plte is None or int(vals.max()) >= len(plte):
                return None
            idx = vals[:, :, 0]
            rgb = plte[idx]
            if trns is not None:  # per-palette-index alpha, 255-padded
                pal_a = np.full(len(plte), 255, dtype=np.uint8)
                pal_a[: min(len(trns), len(plte))] = np.frombuffer(
                    trns[: len(plte)], dtype=np.uint8
                )
                return np.concatenate([rgb, pal_a[idx][:, :, None]], axis=2)
            return rgb
        if trns is not None and color in (0, 2):
            # single fully-transparent color key at native depth
            key = struct.unpack(f">{ch}H", trns[: 2 * ch])
            mask = np.ones((h, w), dtype=bool)
            for c in range(ch):
                mask &= vals[:, :, c] == key[c]
            alpha = np.where(mask, 0, 255).astype(np.uint8)
            out8 = (vals >> 8).astype(np.uint8) if sb == 2 else vals
            return np.concatenate([out8, alpha[:, :, None]], axis=2)
        return (vals >> 8).astype(np.uint8) if sb == 2 else vals
    except Exception:
        return None


# Adam7 pass origins and steps (PNG spec 8.2): (x_start, y_start, dx, dy)
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def _unfilter(raw: bytes, offset: int, w: int, h: int, ch: int, sb: int = 1):
    """Reverse the five scanline filters over ``h`` rows of ``w`` pixels
    (``ch`` channels of ``sb``-byte samples) starting at ``offset``;
    returns (rows array h×(w·ch·sb) of bytes, bytes consumed) or
    (None, 0) on malformed input. Shared by the non-interlaced image and
    each Adam7 sub-image (each pass filters against its OWN rows). PNG
    filters operate on BYTES with the 'left' neighbor one whole pixel
    (ch·sb bytes) back — bpp below."""
    stride = w * ch * sb
    bpp = ch * sb
    need = h * (stride + 1)
    if offset + need > len(raw):
        return None, 0
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        row_start = offset + y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 1:  # Sub
            cur = line.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif ftype == 2:  # Up
            cur = (line + prev) & 0xFF
        elif ftype == 3:  # Average
            cur = line.copy()
            for x in range(stride):
                left = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((left + prev[x]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            cur = line.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                b = prev[x]
                c = prev[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            return None, 0
        out[y] = cur.astype(np.uint8)
        prev = cur
    return out, need


def encode_png(arr: "np.ndarray") -> bytes:
    """H×W (gray) or H×W×3 (RGB) uint8 → PNG bytes (filter-0 rows)."""
    a = np.asarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        color, ch = 0, 1
        body = a[:, :, None]
    elif a.ndim == 3 and a.shape[2] == 3:
        color, ch = 2, 3
        body = a
    else:
        raise ValueError(f"encode_png takes HxW gray or HxWx3 RGB, got shape {a.shape}")
    h, w = a.shape[0], a.shape[1]
    raw = b"".join(b"\x00" + body[y].tobytes() for y in range(h))

    def chunk(ctype: bytes, payload: bytes) -> bytes:
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw, 6))
        + chunk(b"IEND", b"")
    )


def luma(px: "np.ndarray") -> "np.ndarray":
    """H×W×C → H×W float grayscale in [0,1] (ITU-R 601 luma for color;
    alpha channels are ignored — featurization wants content, not
    transparency)."""
    f = px.astype(np.float64) / 255.0
    c = px.shape[2]
    if c == 1 or c == 2:  # gray / gray+alpha
        return f[:, :, 0]
    return 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]


def box_resize(px: "np.ndarray", out_w: int, out_h: int) -> "np.ndarray":
    """Box-average resize of H×W×C uint8 via edge-index binning —
    deterministic, no resampling kernel dependencies."""
    h, w, c = px.shape
    ys = (np.arange(out_h + 1) * h / out_h).round().astype(int)
    xs = (np.arange(out_w + 1) * w / out_w).round().astype(int)
    out = np.zeros((out_h, out_w, c), dtype=np.uint8)
    f = px.astype(np.float64)
    for i in range(out_h):
        y0, y1 = ys[i], max(ys[i + 1], ys[i] + 1)
        for j in range(out_w):
            x0, x1 = xs[j], max(xs[j + 1], xs[j] + 1)
            out[i, j] = f[y0:y1, x0:x1].mean(axis=(0, 1)).round()
    return out
