"""Baseline TIFF decoding — the document/scan-corpus image format next
to the JPEG/PNG/GIF/BMP tiers: first-principles implementation of the
PUBLIC TIFF 6.0 specification (Adobe, 1992), no imaging library.

Scope (the baseline profile scanners and exporters actually emit):
  * both byte orders ('II' little / 'MM' big endian), IFD0
  * strip-organized images (StripOffsets/StripByteCounts/RowsPerStrip)
  * Compression 1 (none) and 32773 (PackBits run-length)
  * PhotometricInterpretation 0 (WhiteIsZero → inverted), 1
    (BlackIsZero), 2 (RGB); 8 bits per sample; 1 or 3 samples per pixel
  * multi-value tags read through the offset indirection (value fits in
    the 4-byte field or lives at an absolute offset — the TIFF rule)

Everything else (tiles, LZW/JPEG-in-TIFF compression, planar config 2,
16-bit samples, palettes) REJECTS with a clear ValueError — corrupt or
beyond-tier blobs take the multimodal NULL reject stream.

Untrusted-field bounds: strip offsets/sizes are validated against the
blob; decoded output is bounded by width*height*spp (rejecting
dimension lies before allocation); PackBits expansion is clamped to the
expected strip size.

Returns numpy arrays shaped (h, w, 1) for grayscale and (h, w, 3) for
RGB — the H×W×C contract of png_codec (grayscale is a 1-channel plane
there too).
"""

from __future__ import annotations

import struct

# tag ids (TIFF 6.0 §8)
_WIDTH, _HEIGHT = 256, 257
_BITS, _COMPRESSION, _PHOTOMETRIC = 258, 259, 262
_STRIP_OFFSETS, _SPP, _ROWS_PER_STRIP, _STRIP_COUNTS = 273, 277, 278, 279
_PLANAR = 284

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8}
_MAX_PIXELS = 64 << 20  # dimension-lie guard: 64 MPix ceiling


def _read_ifd_entries(blob: bytes, e: str):
    if len(blob) < 8:
        raise ValueError("blob too short for a TIFF header")
    order = blob[:2]
    if order == b"II":
        endian = "<"
    elif order == b"MM":
        endian = ">"
    else:
        raise ValueError("not a TIFF stream (no II/MM byte order)")
    if struct.unpack_from(endian + "H", blob, 2)[0] != 42:
        raise ValueError("bad TIFF magic (42 expected)")
    ifd_off = struct.unpack_from(endian + "I", blob, 4)[0]
    if ifd_off + 2 > len(blob):
        raise ValueError("IFD offset outside blob")
    n = struct.unpack_from(endian + "H", blob, ifd_off)[0]
    if ifd_off + 2 + 12 * n > len(blob):
        raise ValueError("IFD entry table overruns blob")
    tags = {}
    for i in range(n):
        off = ifd_off + 2 + 12 * i
        tag, typ, count = struct.unpack_from(endian + "HHI", blob, off)
        size = _TYPE_SIZES.get(typ)
        if size is None:
            continue  # unknown field type: skip per spec
        total = size * count
        if total <= 4:
            val_off = off + 8
        else:
            val_off = struct.unpack_from(endian + "I", blob, off + 8)[0]
            if val_off + total > len(blob):
                raise ValueError(f"tag {tag} values overrun blob")
        if typ in (3,):  # SHORT
            vals = struct.unpack_from(f"{endian}{count}H", blob, val_off)
        elif typ in (4,):  # LONG
            vals = struct.unpack_from(f"{endian}{count}I", blob, val_off)
        elif typ in (1,):  # BYTE
            vals = tuple(blob[val_off : val_off + count])
        else:
            continue  # rational/ascii etc. — not needed by this tier
        tags[tag] = vals
    return tags


def _unpackbits(data: bytes, expected: int) -> bytes:
    """PackBits (TIFF 6.0 §9): output clamped to ``expected`` bytes so a
    hostile stream cannot over-allocate."""
    out = bytearray()
    i = 0
    while i < len(data) and len(out) < expected:
        n = data[i]
        i += 1
        if n < 128:  # literal run of n+1 bytes
            take = n + 1
            if i + take > len(data):
                raise ValueError("PackBits literal overruns strip")
            out += data[i : i + take]
            i += take
        elif n > 128:  # repeat next byte 257-n times
            if i >= len(data):
                raise ValueError("PackBits repeat overruns strip")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    if len(out) < expected:
        raise ValueError("PackBits strip shorter than expected")
    return bytes(out[:expected])


def decode_tiff(blob: bytes):
    """numpy (h, w, 1) grayscale or (h, w, 3) RGB uint8 array. Raises
    ValueError for corrupt or beyond-tier input."""
    import numpy as np

    try:
        tags = _read_ifd_entries(bytes(blob), "")
    except (struct.error, IndexError) as exc:
        raise ValueError(f"malformed TIFF field layout: {exc}") from exc
    blob = bytes(blob)

    def one(tag, default=None):
        v = tags.get(tag)
        if v is None:
            if default is None:
                raise ValueError(f"required tag {tag} missing")
            return default
        return v[0]

    w, h = one(_WIDTH), one(_HEIGHT)
    spp = one(_SPP, 1)
    if w <= 0 or h <= 0 or w * h > _MAX_PIXELS:
        raise ValueError(f"implausible dimensions {w}x{h}")
    if spp not in (1, 3):
        raise ValueError(f"unsupported samples per pixel {spp}")
    bits = tags.get(_BITS, (8,))
    if any(b != 8 for b in bits):
        raise ValueError(f"unsupported bits per sample {bits}")
    comp = one(_COMPRESSION, 1)
    if comp not in (1, 32773):
        raise ValueError(f"unsupported compression {comp} "
                         "(baseline tier: none / PackBits)")
    photo = one(_PHOTOMETRIC)
    if photo not in (0, 1, 2):
        raise ValueError(f"unsupported photometric {photo}")
    if (photo == 2) != (spp == 3):
        raise ValueError("photometric/samples-per-pixel mismatch")
    if one(_PLANAR, 1) != 1:
        raise ValueError("planar configuration 2 is beyond the tier")
    offsets = tags.get(_STRIP_OFFSETS)
    counts = tags.get(_STRIP_COUNTS)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tables")
    rows_per_strip = one(_ROWS_PER_STRIP, h)

    row_bytes = w * spp
    data = bytearray()
    remaining_rows = h
    for si, (off, cnt) in enumerate(zip(offsets, counts)):
        if off + cnt > len(blob):
            raise ValueError(f"strip {si} [{off}, {off + cnt}) outside blob")
        rows = min(rows_per_strip, remaining_rows)
        expected = rows * row_bytes
        raw = blob[off : off + cnt]
        if comp == 32773:
            data += _unpackbits(raw, expected)
        else:
            if cnt < expected:
                raise ValueError(f"strip {si} shorter than its rows")
            data += raw[:expected]
        remaining_rows -= rows
    if remaining_rows > 0:
        raise ValueError("strips cover fewer rows than ImageLength")
    arr = np.frombuffer(bytes(data[: h * row_bytes]), dtype=np.uint8)
    arr = arr.reshape(h, w, spp)  # grayscale keeps its 1-channel plane
    if photo == 0:  # WhiteIsZero: invert to the BlackIsZero convention
        arr = 255 - arr
    return arr


def encode_tiff(img, byte_order: str = "<", packbits: bool = False,
                rows_per_strip: int | None = None) -> bytes:
    """Minimal conformant encoder for fixtures/round-trips (gray (h,w)
    or RGB (h,w,3) uint8 → baseline TIFF), mirroring the sibling codecs'
    encoder-anchors-the-tests pattern."""
    import numpy as np

    img = np.asarray(img, dtype=np.uint8)
    if img.ndim == 3 and img.shape[2] == 1:
        img = img[:, :, 0]
    gray = img.ndim == 2
    if not gray and (img.ndim != 3 or img.shape[2] != 3):
        raise ValueError("expected (h, w[, 1]) gray or (h, w, 3) RGB")
    h, w = img.shape[:2]
    spp = 1 if gray else 3
    rps = rows_per_strip or h
    e = byte_order
    strips = []
    for r0 in range(0, h, rps):
        raw = img[r0 : r0 + rps].tobytes()
        if packbits:
            # simple valid emitter: runs for >=2 equal bytes, literals
            # otherwise (compression optimality is not the point — the
            # decoder round-trip is)
            out = bytearray()
            i, n = 0, len(raw)
            while i < n:
                if i + 1 < n and raw[i + 1] == raw[i]:
                    j = i
                    while j + 1 < n and raw[j + 1] == raw[i] and j - i < 127:
                        j += 1
                    out += bytes([257 - (j - i + 1), raw[i]])
                    i = j + 1
                else:
                    k = i
                    while k + 1 < n and k - i < 127 and not (
                            k + 2 < n and raw[k + 1] == raw[k + 2]):
                        k += 1
                    out += bytes([k - i]) + raw[i : k + 1]
                    i = k + 1
            strips.append(bytes(out))
        else:
            strips.append(raw)

    def entry(tag, typ, vals):
        size = _TYPE_SIZES[typ] * len(vals)
        fmt = {3: "H", 4: "I"}[typ]
        packed = struct.pack(f"{e}{len(vals)}{fmt}", *vals)
        return tag, typ, len(vals), packed, size

    nstrips = len(strips)
    # layout: header(8) + IFD + overflow values + strip data
    entries = [
        entry(_WIDTH, 4, [w]),
        entry(_HEIGHT, 4, [h]),
        entry(_BITS, 3, [8] * spp),
        entry(_COMPRESSION, 3, [32773 if packbits else 1]),
        entry(_PHOTOMETRIC, 3, [2 if spp == 3 else 1]),
        entry(_STRIP_OFFSETS, 4, [0] * nstrips),  # patched below
        entry(_SPP, 3, [spp]),
        entry(_ROWS_PER_STRIP, 4, [rps]),
        entry(_STRIP_COUNTS, 4, [len(s) for s in strips]),
    ]
    entries.sort(key=lambda x: x[0])
    ifd_off = 8
    ifd_size = 2 + 12 * len(entries) + 4
    overflow_off = ifd_off + ifd_size
    overflow = bytearray()
    fields = []
    for tag, typ, count, packed, size in entries:
        if size <= 4:
            fields.append((tag, typ, count, packed.ljust(4, b"\x00"), None))
        else:
            fields.append((tag, typ, count, None, overflow_off + len(overflow)))
            overflow += packed
    data_off = overflow_off + len(overflow)
    # patch strip offsets now that the layout is known
    strip_offsets, pos = [], data_off
    for s in strips:
        strip_offsets.append(pos)
        pos += len(s)
    out = bytearray()
    out += (b"II" if e == "<" else b"MM") + struct.pack(e + "H", 42)
    out += struct.pack(e + "I", ifd_off)
    out += struct.pack(e + "H", len(entries))
    oview = bytes(overflow)
    for tag, typ, count, inline, ooff in fields:
        out += struct.pack(e + "HHI", tag, typ, count)
        if tag == _STRIP_OFFSETS:
            packed = struct.pack(f"{e}{nstrips}I", *strip_offsets)
            if len(packed) <= 4:
                out += packed.ljust(4, b"\x00")
            else:
                # rewrite the overflow copy in place
                rel = ooff - overflow_off
                oview = oview[:rel] + packed + oview[rel + len(packed):]
                out += struct.pack(e + "I", ooff)
        elif inline is not None:
            out += inline
        else:
            out += struct.pack(e + "I", ooff)
    out += struct.pack(e + "I", 0)  # next-IFD pointer: none
    out += oview
    for s in strips:
        out += s
    return bytes(out)
