"""Pure-stdlib PNG codec (operators/png_codec.py): wire-level decode
goldens built by hand (independent of the encoder), all five scanline
filters with hand-computed expectations, round-trips, Adam7, 16-bit and
tRNS inputs, and JVM ImageIO goldens."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from apache_pinot_spark.operators import png_codec as P


def _raw_png(w, h, color, rows, plte=None):
    """Independent PNG writer for tests: raw chunk assembly, arbitrary
    pre-filtered scanline bytes (each row = filter byte + data)."""
    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    out = P.PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
    if plte is not None:
        out += chunk(b"PLTE", bytes(plte))
    out += chunk(b"IDAT", zlib.compress(b"".join(rows)))
    return out + chunk(b"IEND", b"")


def test_decode_filter0_golden():
    # 2x2 gray, filter None: pixel values are the raw bytes
    png = _raw_png(2, 2, 0, [b"\x00\x0a\x14", b"\x00\x1e\x28"])
    px = P.decode_png(png)
    assert px.shape == (2, 2, 1)
    assert px[:, :, 0].tolist() == [[10, 20], [30, 40]]


def test_decode_all_filters_hand_computed():
    # 2x2 gray, one row per filter over known predecessors:
    # row0 Sub:    raw 5, 7   -> 5, (7+5)=12
    # row1 Up:     raw 3, 4   -> 5+3=8, 12+4=16
    # row2 Avg:    raw 10, 2  -> 10+((0+8)//2)=14, 2+((14+16)//2)=17
    # row3 Paeth:  raw 1, 1   -> pred(a=0,b=14,c=0)=14 -> 15,
    #              x=1: a=15,b=17,c=14, p=18 -> pa=3,pb=1,pc=4 -> b=17 -> 18
    png = _raw_png(
        2, 4, 0,
        [b"\x01\x05\x07", b"\x02\x03\x04", b"\x03\x0a\x02", b"\x04\x01\x01"],
    )
    px = P.decode_png(png)[:, :, 0]
    assert px.tolist() == [[5, 12], [8, 16], [14, 17], [15, 18]]


def test_decode_rgb_and_palette_and_alpha():
    rgb = _raw_png(1, 1, 2, [b"\x00\x10\x20\x30"])
    assert P.decode_png(rgb)[0, 0].tolist() == [16, 32, 48]
    pal = _raw_png(2, 1, 3, [b"\x00\x01\x00"], plte=[9, 9, 9, 200, 100, 50])
    assert P.decode_png(pal)[0].tolist() == [[200, 100, 50], [9, 9, 9]]
    rgba = _raw_png(1, 1, 6, [b"\x00\x10\x20\x30\x80"])
    assert P.decode_png(rgba)[0, 0].tolist() == [16, 32, 48, 128]


def test_decode_rejects_out_of_scope():
    assert P.decode_png(b"") is None
    assert P.decode_png(b"not a png at all") is None
    # sub-byte depths (1/2/4-bit): rejected, not mangled (16-bit became
    # a real decode path in round 8 — covered by its own goldens below)
    bad_depth = P.PNG_MAGIC + struct.pack(">I", 13) + b"IHDR" + struct.pack(
        ">IIBBBBB", 1, 1, 4, 0, 0, 0, 0
    ) + b"\x00" * 4
    assert P.decode_png(bad_depth) is None
    # 16-bit palette indices are not legal PNG: rejected
    bad_pal16 = P.PNG_MAGIC + struct.pack(">I", 13) + b"IHDR" + struct.pack(
        ">IIBBBBB", 1, 1, 16, 3, 0, 0, 0
    ) + b"\x00" * 4 + zlib.compress(b"\x00\x00\x00")
    assert P.decode_png(bad_pal16) is None
    # truncated mid-IDAT (IEND is the trailing 12 bytes; cut past it)
    good = _raw_png(2, 2, 0, [b"\x00\x0a\x14", b"\x00\x1e\x28"])
    assert P.decode_png(good[:-20]) is None


def test_encode_decode_round_trip():
    rng = np.random.RandomState(5)
    gray = rng.randint(0, 256, (7, 5), dtype=np.uint8)
    assert np.array_equal(P.decode_png(P.encode_png(gray))[:, :, 0], gray)
    rgb = rng.randint(0, 256, (4, 9, 3), dtype=np.uint8)
    assert np.array_equal(P.decode_png(P.encode_png(rgb)), rgb)
    with pytest.raises(ValueError, match="gray or HxWx3"):
        P.encode_png(np.zeros((2, 2, 4), dtype=np.uint8))


def test_luma_and_box_resize():
    white = np.full((4, 4, 3), 255, dtype=np.uint8)
    assert P.luma(white).max() == pytest.approx(1.0, abs=1e-9)
    # box resize averages: left half 0, right half 200 -> two cells
    px = np.zeros((2, 4, 1), dtype=np.uint8)
    px[:, 2:, 0] = 200
    small = P.box_resize(px, 2, 1)
    assert small[0, :, 0].tolist() == [0, 200]


# --------------------------------------------------------------------------
# Adam7 interlaced decode (round 8)
# --------------------------------------------------------------------------


def _raw_png_i(w, h, color, rows):
    """Interlaced variant of _raw_png: IHDR interlace=1, rows already in
    Adam7 pass order (each row = filter byte + pass-row data)."""
    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    out = P.PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1))
    out += chunk(b"IDAT", zlib.compress(b"".join(rows)))
    return out + chunk(b"IEND", b"")


def _adam7_rows(img):
    """Filter-0 Adam7 pass rows for an H×W (gray) or H×W×C image —
    independent of the decoder's pass bookkeeping."""
    a = img if img.ndim == 3 else img[:, :, None]
    h, w = a.shape[:2]
    rows = []
    for x0, y0, dx, dy in [(0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
                           (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2),
                           (0, 1, 1, 2)]:
        sub = a[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        for r in range(sub.shape[0]):
            rows.append(b"\x00" + sub[r].tobytes())
    return rows


def test_adam7_hand_assembled_gray_and_rgb():
    rng = np.random.RandomState(11)
    for shape in [(8, 8), (13, 19), (1, 1), (2, 9)]:
        img = rng.randint(0, 256, shape, dtype=np.uint8)
        px = P.decode_png(_raw_png_i(shape[1], shape[0], 0, _adam7_rows(img)))
        assert px is not None, shape
        assert np.array_equal(px[:, :, 0], img), shape
    rgb = rng.randint(0, 256, (10, 7, 3), dtype=np.uint8)
    px = P.decode_png(_raw_png_i(7, 10, 2, _adam7_rows(rgb)))
    assert np.array_equal(px, rgb)


def test_adam7_truncated_rejects():
    rng = np.random.RandomState(3)
    img = rng.randint(0, 256, (13, 19), dtype=np.uint8)
    rows = _adam7_rows(img)
    short = _raw_png_i(19, 13, 0, rows[:-3])  # drop the last pass rows
    assert P.decode_png(short) is None


def test_adam7_jvm_imageio_golden(spark):
    """The JVM PNG writer's progressive mode IS Adam7: its interlaced
    blobs must decode here to the same samples its own reader produces
    (bit-exact; PNG is lossless)."""
    jvm = spark._jvm
    try:
        jvm.javax.imageio.ImageIO.getWriterFormatNames
    except Exception:
        pytest.skip("JVM ImageIO unavailable")
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, (24, 37, 3), dtype=np.uint8)
    bi = jvm.java.awt.image.BufferedImage(37, 24, 1)  # TYPE_INT_RGB
    for y in range(24):
        for x in range(37):
            bi.setRGB(x, y, (int(img[y, x, 0]) << 16)
                      | (int(img[y, x, 1]) << 8) | int(img[y, x, 2]))
    ios = jvm.java.io.ByteArrayOutputStream()
    wr = jvm.javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    p = wr.getDefaultWriteParam()
    p.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
    mos = jvm.javax.imageio.ImageIO.createImageOutputStream(ios)
    wr.setOutput(mos)
    wr.write(None, jvm.javax.imageio.IIOImage(bi, None, None), p)
    mos.flush()
    blob = bytes(ios.toByteArray())
    # IHDR interlace byte (offset: magic 8 + len 4 + type 4 + 12 fields)
    assert blob[8 + 4 + 4 + 12] == 1, "writer did not interlace"
    px = P.decode_png(blob)
    assert px is not None and px.shape == (24, 37, 3)
    assert np.array_equal(px, img)  # PNG is lossless end to end


# --------------------------------------------------------------------------
# 16-bit samples + tRNS transparency (round 8)
# --------------------------------------------------------------------------


def _raw_png16(w, h, color, rows, depth=16, extra=b""):
    def chunk(ctype, payload):
        crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
        return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)

    out = P.PNG_MAGIC + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, 0))
    out += extra
    out += chunk(b"IDAT", zlib.compress(b"".join(rows)))
    return out + chunk(b"IEND", b"")


def _chunk(ctype, payload):
    crc = zlib.crc32(ctype + payload) & 0xFFFFFFFF
    return struct.pack(">I", len(payload)) + ctype + payload + struct.pack(">I", crc)


def test_16bit_gray_scales_to_8():
    # 2x2 16-bit gray, filter 0: 0x1234 -> 0x12 etc.
    row0 = b"\x00" + struct.pack(">HH", 0x1234, 0x00FF)
    row1 = b"\x00" + struct.pack(">HH", 0xFFFF, 0x8000)
    px = P.decode_png(_raw_png16(2, 2, 0, [row0, row1]))
    assert px is not None and px.shape == (2, 2, 1)
    assert px[:, :, 0].tolist() == [[0x12, 0x00], [0xFF, 0x80]]


def test_16bit_filters_use_pixel_distance():
    """Sub filter on 16-bit gray: the 'left' neighbor is 2 bytes back —
    pixel (not byte) distance. raw row: p0=0x0102, deltas 0x0101 ->
    p1 = 0x0203."""
    row = b"\x01" + struct.pack(">HH", 0x0102, 0x0101)
    px = P.decode_png(_raw_png16(2, 1, 0, [row]))
    assert px[0, :, 0].tolist() == [0x01, 0x02]  # 0x0102>>8, 0x0203>>8


def test_16bit_jvm_imageio_golden(spark):
    """A TYPE_USHORT_GRAY PNG written by the JVM decodes here to the
    top-byte samples of what the JVM's own reader returns."""
    jvm = spark._jvm
    try:
        jvm.javax.imageio.ImageIO.getWriterFormatNames
    except Exception:
        pytest.skip("JVM ImageIO unavailable")
    rng = np.random.RandomState(9)
    img16 = rng.randint(0, 65536, (9, 13), dtype=np.uint16)
    bi = jvm.java.awt.image.BufferedImage(13, 9, 11)  # TYPE_USHORT_GRAY
    ra = bi.getRaster()
    for y in range(9):
        for x in range(13):
            ra.setSample(x, y, 0, int(img16[y, x]))
    ios = jvm.java.io.ByteArrayOutputStream()
    assert jvm.javax.imageio.ImageIO.write(bi, "png", ios)
    blob = bytes(ios.toByteArray())
    assert blob[8 + 4 + 4 + 8] == 16  # IHDR depth byte: really 16-bit
    px = P.decode_png(blob)
    assert px is not None and px.shape == (9, 13, 1)
    assert np.array_equal(px[:, :, 0], (img16 >> 8).astype(np.uint8))


def test_trns_palette_alpha():
    plte = _chunk(b"PLTE", bytes([255, 0, 0, 0, 255, 0, 0, 0, 255]))
    trns = _chunk(b"tRNS", bytes([0, 128]))  # idx0 transparent, idx1 half
    rows = [b"\x00\x00\x01\x02"]
    out = P.PNG_MAGIC + _chunk(
        b"IHDR", struct.pack(">IIBBBBB", 3, 1, 8, 3, 0, 0, 0)
    ) + plte + trns + _chunk(b"IDAT", zlib.compress(b"".join(rows))) + _chunk(b"IEND", b"")
    px = P.decode_png(out)
    assert px.shape == (1, 3, 4)
    assert px[0].tolist() == [[255, 0, 0, 0], [0, 255, 0, 128], [0, 0, 255, 255]]


def test_trns_gray_and_rgb_color_key():
    # gray 8-bit: key = 7 -> alpha 0 exactly there
    trns = _chunk(b"tRNS", struct.pack(">H", 7))
    png = _raw_png16(2, 1, 0, [b"\x00\x07\x09"], depth=8, extra=trns)
    px = P.decode_png(png)
    assert px.shape == (1, 2, 2)
    assert px[0].tolist() == [[7, 0], [9, 255]]
    # RGB 16-bit: key at NATIVE depth — a pixel whose top bytes match but
    # low bytes differ must stay opaque
    key = _chunk(b"tRNS", struct.pack(">HHH", 0x0100, 0x0200, 0x0300))
    row = b"\x00" + struct.pack(">HHH", 0x0100, 0x0200, 0x0300) + struct.pack(
        ">HHH", 0x0101, 0x0200, 0x0300
    )
    px = P.decode_png(_raw_png16(2, 1, 2, [row], depth=16, extra=key))
    assert px.shape == (1, 2, 4)
    assert px[0, 0].tolist() == [1, 2, 3, 0]    # exact key: transparent
    assert px[0, 1].tolist() == [1, 2, 3, 255]  # near key: opaque
