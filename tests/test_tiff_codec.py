"""Baseline TIFF codec (operators/tiff_codec.py): encoder-anchored
round-trips across byte orders / strip layouts / PackBits, JVM ImageIO
cross-validation (ImageIO reads baseline TIFF since Java 9), and the
reject paths for beyond-tier / corrupt input."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from apache_pinot_spark.operators import tiff_codec as T


def _gray(h=13, w=17):
    return ((np.arange(h)[:, None] * 19 + np.arange(w)[None, :] * 7) % 256
            ).astype(np.uint8)


def _rgb(h=9, w=11):
    base = _gray(h, w)
    return np.stack([base, 255 - base, (base * 3) % 256], axis=2
                    ).astype(np.uint8)


def test_roundtrip_gray_and_rgb_both_orders():
    for e in ("<", ">"):
        for img in (_gray(), _rgb()):
            blob = T.encode_tiff(img, byte_order=e)
            got = T.decode_tiff(blob)
            # grayscale comes back as the sibling codecs' 1-channel plane
            assert np.array_equal(got.squeeze(), img), (e, img.shape)


def test_roundtrip_strips_and_packbits():
    img = _gray(40, 23)
    for packbits in (False, True):
        for rps in (1, 7, 40):
            blob = T.encode_tiff(img, packbits=packbits, rows_per_strip=rps)
            assert np.array_equal(T.decode_tiff(blob).squeeze(), img), (packbits, rps)
    # runs compress: a constant image packs far smaller than raw
    flat = np.full((64, 64), 9, dtype=np.uint8)
    assert len(T.encode_tiff(flat, packbits=True)) < \
        len(T.encode_tiff(flat)) / 10


def test_white_is_zero_inverts():
    img = _gray(6, 6)
    blob = bytearray(T.encode_tiff(img))
    # photometric tag (262) value: locate its IFD entry and set to 0
    n = struct.unpack_from("<H", blob, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", blob, off)[0] == 262:
            struct.pack_into("<H", blob, off + 8, 0)
    got = T.decode_tiff(bytes(blob))
    assert np.array_equal(got.squeeze(), 255 - img)


def test_jvm_imageio_cross_validation(spark):
    """The JVM bundles a TIFF ImageIO plugin (Java 9+): our encoder's
    output must decode there to the same pixels, and ImageIO's own
    baseline TIFF output must decode here — both directions, like the
    JPEG/PNG/GIF tiers."""
    jvm = spark.sparkContext._jvm
    img = _gray(10, 14)
    blob = T.encode_tiff(img)
    bais = jvm.java.io.ByteArrayInputStream(bytearray(blob))
    bimg = jvm.javax.imageio.ImageIO.read(bais)
    if bimg is None:
        pytest.skip("JVM ImageIO has no TIFF reader")
    assert bimg.getWidth() == 14 and bimg.getHeight() == 10
    # compare RASTER samples — getRGB() routes TYPE_BYTE_GRAY through a
    # gray->sRGB gamma conversion; the raster holds the decoded bytes
    raster = bimg.getRaster()
    for y in range(10):
        for x in range(14):
            assert raster.getSample(x, y, 0) == int(img[y, x])
    # reverse: ImageIO-encoded baseline TIFF decodes here
    bi = jvm.java.awt.image.BufferedImage(
        6, 4, jvm.java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    wr = bi.getRaster()
    for y in range(4):
        for x in range(6):
            wr.setSample(x, y, 0, (x * 40 + y * 11) % 256)
    baos = jvm.java.io.ByteArrayOutputStream()
    ok = jvm.javax.imageio.ImageIO.write(bi, "tiff", baos)
    if not ok:
        pytest.skip("JVM ImageIO has no TIFF writer")
    data = bytes(baos.toByteArray())
    try:
        got = T.decode_tiff(data).squeeze()
    except ValueError as exc:
        pytest.skip(f"ImageIO emitted a beyond-tier TIFF variant: {exc}")
    for y in range(4):
        for x in range(6):
            assert got[y, x] == (x * 40 + y * 11) % 256


def test_reject_paths():
    img = _gray(8, 8)
    blob = T.encode_tiff(img)
    with pytest.raises(ValueError, match="too short"):
        T.decode_tiff(b"II*")
    with pytest.raises(ValueError, match="II/MM"):
        T.decode_tiff(b"XX" + blob[2:])
    # strip offset outside the blob
    mut = bytearray(blob)
    n = struct.unpack_from("<H", mut, 8)[0]
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", mut, off)[0] == 273:  # StripOffsets
            struct.pack_into("<I", mut, off + 8, len(blob) + 500)
    with pytest.raises(ValueError, match="outside blob"):
        T.decode_tiff(bytes(mut))
    # dimension lie: ImageWidth = 2^30 rejects before allocation
    mut = bytearray(blob)
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", mut, off)[0] == 256:
            struct.pack_into("<I", mut, off + 8, 1 << 30)
    with pytest.raises(ValueError, match="implausible"):
        T.decode_tiff(bytes(mut))
    # beyond-tier compression code
    mut = bytearray(blob)
    for i in range(n):
        off = 10 + 12 * i
        if struct.unpack_from("<H", mut, off)[0] == 259:
            struct.pack_into("<H", mut, off + 8, 5)  # LZW
    with pytest.raises(ValueError, match="unsupported compression"):
        T.decode_tiff(bytes(mut))


def test_mutation_property():
    import random

    blob = T.encode_tiff(_gray(12, 12), packbits=True, rows_per_strip=4)
    rng = random.Random(606)
    for _ in range(250):
        mut = bytearray(blob)
        mut[rng.randrange(len(mut))] = rng.randrange(256)
        try:
            got = T.decode_tiff(bytes(mut))
            assert got.shape[0] * got.shape[1] <= T._MAX_PIXELS
        except ValueError:
            pass
