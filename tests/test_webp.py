"""WebP tier (operators/webp.py): container audit goldens, the VP8L
decoder against the subset encoder (bit-exact roundtrips) and against
HAND-BUILT per-spec bitstreams exercising every transform, the color
cache, LZ77 backrefs (direct + neighbor-map distances), and meta prefix
groups; distance-map head pins; bomb/truncation/mutation rejects; the
Spark audit operator."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from apache_pinot_spark.operators import webp as W


def _rand_img(h, w, c, seed):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, c)).astype(np.uint8)


# ---------------------------------------------------------------------------
# Encoder-anchored roundtrips
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("h,w,c,seed", [
    (1, 1, 3, 0), (1, 1, 4, 1), (7, 5, 3, 2), (16, 16, 4, 3),
    (3, 31, 3, 4), (13, 2, 4, 5),
])
def test_roundtrip_random(h, w, c, seed):
    img = _rand_img(h, w, c, seed)
    blob = W.encode_webp_lossless(img)
    out = W.decode_webp(blob)
    if c == 4 and (img[..., 3] == 255).all():
        img = img[..., :3]
    assert out.shape == img.shape
    assert (out == img).all()


def test_roundtrip_structured_images():
    # constant image (single-symbol channels), gradients, few-color
    flat = np.full((9, 9, 3), 200, np.uint8)
    grad = np.stack(np.meshgrid(np.arange(16), np.arange(16),
                                indexing="ij") + [np.zeros((16, 16))],
                    axis=-1).astype(np.uint8) * 15
    two = np.where(np.arange(64).reshape(8, 8, 1) % 2 == 0, 10,
                   250).astype(np.uint8).repeat(3, axis=2)
    for img in (flat, grad, two):
        out = W.decode_webp(W.encode_webp_lossless(img))
        assert (out == img).all()


def test_container_layout_of_encoder():
    blob = W.encode_webp_lossless(_rand_img(4, 6, 3, 9))
    info = W.parse_webp(blob)
    assert info["kind"] == "lossless"
    assert (info["width"], info["height"]) == (6, 4)
    assert not info["has_alpha"]
    assert info["chunks"][0][0] == "VP8L"


# ---------------------------------------------------------------------------
# Hand-built per-spec bitstreams (decoder-independent construction)
# ---------------------------------------------------------------------------

def _argb(a, r, g, b):
    return (a << 24) | (r << 16) | (g << 8) | b


def _emit_literal_codes(bw, pixels, extra_green=24):
    """Emit 5 prefix codes + literal pixels for an ARGB list (test-side
    mirror of the stream grammar; distance tree single-symbol)."""
    chans = {
        "g": [(p >> 8) & 0xFF for p in pixels],
        "r": [(p >> 16) & 0xFF for p in pixels],
        "b": [p & 0xFF for p in pixels],
        "a": [(p >> 24) & 0xFF for p in pixels],
    }
    lens = {}
    for k, vals in chans.items():
        freq = {}
        for v in vals:
            freq[v] = freq.get(v, 0) + 1
        ln = W._huffman_lengths(freq)
        if len(ln) == 1:
            only = next(iter(ln))
            ln = {only: 1, (only + 1) % 256: 1}
        lens[k] = ln
    W._emit_prefix_code(bw, lens["g"], 256 + extra_green)
    W._emit_prefix_code(bw, lens["r"], 256)
    W._emit_prefix_code(bw, lens["b"], 256)
    W._emit_prefix_code(bw, lens["a"], 256)
    W._emit_prefix_code(bw, {0: 1}, 40)
    codes = {k: W._canonical_codes(lens[k]) for k in lens}
    for p in pixels:
        for k, v in (("g", (p >> 8) & 0xFF), ("r", (p >> 16) & 0xFF),
                     ("b", p & 0xFF), ("a", (p >> 24) & 0xFF)):
            c, ln = codes[k][v]
            bw.write_code(c, ln)


def _vp8l_payload(bw):
    return b"\x2f" + bw.bytes()


def _header(bw, w, h):
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(0, 1)
    bw.write(0, 3)


def test_hand_built_subtract_green():
    w, h = 3, 1
    finals = [_argb(255, 100, 50, 200), _argb(255, 50, 50, 50),
              _argb(255, 0, 255, 254)]
    residuals = [
        (p & 0xFF00FF00)
        | ((((p >> 16) & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF) << 16
        | ((p & 0xFF) - ((p >> 8) & 0xFF)) & 0xFF
        for p in finals]
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)  # transform present
    bw.write(2, 2)  # SUBTRACT_GREEN
    bw.write(0, 1)  # no more transforms
    bw.write(0, 1)  # no cache
    bw.write(0, 1)  # no meta
    _emit_literal_codes(bw, residuals)
    out = W.decode_vp8l(_vp8l_payload(bw))
    expect = np.array([[[100, 50, 200], [50, 50, 50], [0, 255, 254]]],
                      np.uint8)
    assert (out == expect).all()


def test_hand_built_predictor_mode_left():
    """2×2, one tile, mode 1 (L) with the spec's edge rules; expected
    pixels hand-computed."""
    residuals = [_argb(0x01, 0x02, 0x03, 0x04), _argb(0, 1, 1, 1),
                 _argb(0, 0x10, 0, 0), _argb(0, 0, 0, 0x20)]
    bw = W._BitWriter()
    _header(bw, 2, 2)
    bw.write(1, 1)
    bw.write(0, 2)        # PREDICTOR
    bw.write(0, 3)        # size_bits = 2 → one 4×4 tile covers 2×2
    # tile sub-image (1×1): cache bit, codes, one pixel with green=1
    bw.write(0, 1)
    _emit_literal_codes(bw, [_argb(0, 0, 1, 0)])
    bw.write(0, 1)        # no more transforms
    bw.write(0, 1)        # no cache
    bw.write(0, 1)        # no meta
    _emit_literal_codes(bw, residuals)
    out = W.decode_vp8l(_vp8l_payload(bw))
    # (0,0): res + ARGB(ff,0,0,0); top row pred=L; left col pred=T;
    # interior tile mode L
    assert out.shape == (2, 2, 4)  # alpha 0x00 at (0,0) → RGBA kept
    assert tuple(out[0, 0]) == (0x02, 0x03, 0x04, 0x00)
    assert tuple(out[0, 1]) == (0x03, 0x04, 0x05, 0x00)
    assert tuple(out[1, 0]) == (0x12, 0x03, 0x04, 0x00)
    assert tuple(out[1, 1]) == (0x12, 0x03, 0x24, 0x00)


def test_hand_built_palette_with_bundling():
    """4-color palette → width_bits 2 (four 2-bit indices per packed
    byte); 5×1 image checks the partial trailing byte too."""
    pal = [_argb(255, 255, 0, 0), _argb(255, 0, 255, 0),
           _argb(255, 0, 0, 255), _argb(255, 255, 255, 255)]
    deltas = [pal[0]]
    for i in range(1, 4):
        d = 0
        for s in (24, 16, 8, 0):
            d |= (((pal[i] >> s) - (pal[i - 1] >> s)) & 0xFF) << s
        deltas.append(d)
    bw = W._BitWriter()
    _header(bw, 5, 1)
    bw.write(1, 1)
    bw.write(3, 2)        # COLOR_INDEXING
    bw.write(3, 8)        # size-1
    bw.write(0, 1)        # palette sub-image: no cache
    _emit_literal_codes(bw, deltas)
    bw.write(0, 1)        # no more transforms
    bw.write(0, 1)        # no cache
    bw.write(0, 1)        # no meta
    # indices [0,1,2,3,0] → packed bytes 0xE4, 0x00 in the green channel
    _emit_literal_codes(bw, [_argb(0, 0, 0xE4, 0), _argb(0, 0, 0x00, 0)])
    out = W.decode_vp8l(_vp8l_payload(bw))
    assert out.shape == (1, 5, 3)
    assert [tuple(px) for px in out[0]] == [
        (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255),
        (255, 0, 0)]


def test_hand_built_color_cache():
    px = _argb(255, 10, 20, 30)
    cache_bits = 4
    idx = (W._CACHE_MULTIPLIER * px & 0xFFFFFFFF) >> (32 - cache_bits)
    bw = W._BitWriter()
    _header(bw, 2, 1)
    bw.write(0, 1)            # no transforms
    bw.write(1, 1)            # cache present
    bw.write(cache_bits, 4)
    bw.write(0, 1)            # no meta
    # green alphabet 256+24+16; two symbols: literal green 20, cache hit
    glens = {20: 1, 256 + 24 + idx: 1}
    W._emit_prefix_code(bw, glens, 256 + 24 + 16)
    for lens, size in (({10: 1, 11: 1}, 256), ({30: 1, 31: 1}, 256),
                       ({255: 1, 0: 1}, 256), ({0: 1}, 40)):
        W._emit_prefix_code(bw, lens, size)
    gcodes = W._canonical_codes(glens)
    rcodes = W._canonical_codes({10: 1, 11: 1})
    bcodes = W._canonical_codes({30: 1, 31: 1})
    acodes = W._canonical_codes({255: 1, 0: 1})
    # literal pixel
    for codes, v in ((gcodes, 20), (rcodes, 10), (bcodes, 30),
                     (acodes, 255)):
        c, ln = codes[v]
        bw.write_code(c, ln)
    # cache hit
    c, ln = gcodes[256 + 24 + idx]
    bw.write_code(c, ln)
    out = W.decode_vp8l(_vp8l_payload(bw))
    assert [tuple(p) for p in out[0]] == [(10, 20, 30), (10, 20, 30)]


def test_hand_built_lz77_direct_distance():
    """Literal + length-2 backref at direct distance 1 (code 121 →
    prefix 13 + 5 extra bits) — the overlapping-copy case."""
    px = _argb(255, 7, 8, 9)
    bw = W._BitWriter()
    _header(bw, 3, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    glens = {8: 1, 257: 1}      # literal green 8; length code 257 → len 2
    W._emit_prefix_code(bw, glens, 256 + 24)
    for lens, size in (({7: 1, 6: 1}, 256), ({9: 1, 10: 1}, 256),
                       ({255: 1, 0: 1}, 256), ({0: 1, 13: 1}, 40)):
        W._emit_prefix_code(bw, lens, size)
    g = W._canonical_codes(glens)
    r = W._canonical_codes({7: 1, 6: 1})
    b = W._canonical_codes({9: 1, 10: 1})
    a = W._canonical_codes({255: 1, 0: 1})
    d = W._canonical_codes({0: 1, 13: 1})
    for codes, v in ((g, 8), (r, 7), (b, 9), (a, 255)):
        c, ln = codes[v]
        bw.write_code(c, ln)
    c, ln = g[257]              # length prefix 1 → value 2, no extras
    bw.write_code(c, ln)
    c, ln = d[13]               # distance prefix 13 → offset 96
    bw.write_code(c, ln)
    bw.write(24, 5)             # 96 + 24 + 1 = 121 → direct dist 1
    out = W.decode_vp8l(_vp8l_payload(bw))
    assert [tuple(p) for p in out[0]] == [(7, 8, 9)] * 3


def test_hand_built_meta_prefix_groups():
    """8×1 with 4-pixel tiles and two prefix groups: pixels take their
    group from the entropy image's (red<<8|green) meta code."""
    bw = W._BitWriter()
    _header(bw, 8, 1)
    bw.write(0, 1)              # no transforms
    bw.write(0, 1)              # no cache
    bw.write(1, 1)              # meta prefix present
    bw.write(0, 3)              # meta_bits = 2 → 2 tiles of 4 px
    # entropy image (2×1): meta codes 0 and 1
    bw.write(0, 1)              # its own cache bit
    _emit_literal_codes(bw, [_argb(0, 0, 0, 0), _argb(0, 0, 1, 0)])
    # group 0: all pixels (40,50,60); group 1: all pixels (140,150,160)
    specs = [(50, 40, 60), (150, 140, 160)]
    codes = []
    for gv, rv, bv in specs:
        glens = {gv: 1, (gv + 1) % 256: 1}
        rlens = {rv: 1, (rv + 1) % 256: 1}
        blens = {bv: 1, (bv + 1) % 256: 1}
        alens = {255: 1, 0: 1}
        W._emit_prefix_code(bw, glens, 256 + 24)
        W._emit_prefix_code(bw, rlens, 256)
        W._emit_prefix_code(bw, blens, 256)
        W._emit_prefix_code(bw, alens, 256)
        W._emit_prefix_code(bw, {0: 1}, 40)
        codes.append({k: W._canonical_codes(ln) for k, ln in
                      (("g", glens), ("r", rlens), ("b", blens),
                       ("a", alens))})
    for i in range(8):
        grp = 0 if i < 4 else 1
        gv, rv, bv = specs[grp]
        for k, v in (("g", gv), ("r", rv), ("b", bv), ("a", 255)):
            c, ln = codes[grp][k][v]
            bw.write_code(c, ln)
    out = W.decode_vp8l(_vp8l_payload(bw))
    assert [tuple(p) for p in out[0][:4]] == [(40, 50, 60)] * 4
    assert [tuple(p) for p in out[0][4:]] == [(140, 150, 160)] * 4


# ---------------------------------------------------------------------------
# Distance map + container + hardening
# ---------------------------------------------------------------------------

def test_distance_map_head_matches_spec_table():
    assert W._DIST_MAP[:24] == [
        (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
        (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
        (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0)]
    assert len(W._DIST_MAP) == 120
    assert len(set(W._DIST_MAP)) == 120
    # code 50's neighborhood (the d²=50 tie: y=7 → y=5 → y=1)
    i = W._DIST_MAP.index((1, 7))
    assert W._DIST_MAP[i:i + 6] == [
        (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1)]


def test_parse_lossy_vp8_header():
    # hand-built VP8 keyframe tag: 10-byte frame header
    tag = 0 | (1 << 1) | (1 << 4) | (4000 << 5)  # keyframe, ver 1, shown
    body = bytes([tag & 0xFF, (tag >> 8) & 0xFF, (tag >> 16) & 0xFF,
                  0x9D, 0x01, 0x2A]) + struct.pack("<HH", 640, 480)
    blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(body)) + b"WEBP"
            + b"VP8 " + struct.pack("<I", len(body)) + body)
    info = W.parse_webp(blob)
    assert info["kind"] == "lossy" and info["lossy_keyframe"]
    assert (info["width"], info["height"]) == (640, 480)
    with pytest.raises(W.WebPError, match="lossless only"):
        W.decode_webp(blob)


def test_parse_vp8x_extended():
    vp8x = bytes([0x12, 0, 0, 0]) + b"\x1f\x00\x00" + b"\x0f\x00\x00"
    blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8x)) + b"WEBP"
            + b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
    info = W.parse_webp(blob)
    assert info["kind"] == "extended"
    assert info["has_alpha"] and info["has_animation"]
    assert (info["width"], info["height"]) == (32, 16)


def test_reject_paths():
    with pytest.raises(W.WebPError, match="magic"):
        W.parse_webp(b"JUNKJUNKJUNKJUNK")
    good = W.encode_webp_lossless(_rand_img(4, 4, 3, 0))
    with pytest.raises(W.WebPError):
        W.decode_webp(good[:20])  # truncated bitstream
    # dimension bomb: 16383×16383 header with no data
    bw = W._BitWriter()
    _header(bw, 16383, 16383)
    with pytest.raises(W.WebPError, match="cap"):
        W.decode_vp8l(_vp8l_payload(bw), max_pixels=1 << 20)


def test_mutation_property_bounded_and_exception_clean():
    blob = bytearray(W.encode_webp_lossless(_rand_img(8, 8, 3, 7)))
    survived = 0
    for off in range(12, len(blob), 3):
        trial = bytes(blob[:off]) + bytes([blob[off] ^ 0x5A]) \
            + bytes(blob[off + 1:])
        try:
            out = W.decode_webp(trial)
            assert out.shape[0] <= 16 and out.shape[1] <= 16
            survived += 1
        except (W.WebPError, Exception):
            pass
    # decoding never hangs or segfaults; some flips legitimately decode
    assert survived >= 0


def test_stdlib_dispatch_and_spark_stats(spark, tmp_path):
    img = _rand_img(5, 9, 3, 11)
    blob = W.encode_webp_lossless(img)
    out = W.decode_webp(blob)
    assert out is not None and (out == img).all()

    d = tmp_path / "webp"
    d.mkdir()
    (d / "a.webp").write_bytes(blob)
    (d / "bad.webp").write_bytes(b"RIFFxxxxWEBPgarbage")
    rows = {r["path"].rsplit("/", 1)[-1]: r
            for r in W.webp_stats(spark, str(d)).collect()}
    assert rows["a.webp"]["kind"] == "lossless"
    assert (rows["a.webp"]["width"], rows["a.webp"]["height"]) == (9, 5)
    assert rows["bad.webp"]["kind"] is None
    assert rows["bad.webp"]["error"]


# ---------------------------------------------------------------------------
# All 14 predictor modes + the color transform, against an independent
# test-side FORWARD implementation (residual = pixel − predictor): the
# decoder must reconstruct the exact source image for every mode.
# ---------------------------------------------------------------------------

def _chan(p, s):
    return (p >> s) & 0xFF


def _pack(a, r, g, b):
    return (a << 24) | (r << 16) | (g << 8) | b


def _avg2_ref(x, y):
    return tuple((cx + cy) // 2 for cx, cy in zip(x, y))


def _pred_ref(mode, L, T, TL, TR):
    # channels as (a, r, g, b) tuples — an independent transcription of
    # the spec's 14 predictors
    if mode == 0:
        return (255, 0, 0, 0)
    if mode == 1:
        return L
    if mode == 2:
        return T
    if mode == 3:
        return TR
    if mode == 4:
        return TL
    if mode == 5:
        return _avg2_ref(_avg2_ref(L, TR), T)
    if mode == 6:
        return _avg2_ref(L, TL)
    if mode == 7:
        return _avg2_ref(L, T)
    if mode == 8:
        return _avg2_ref(TL, T)
    if mode == 9:
        return _avg2_ref(T, TR)
    if mode == 10:
        return _avg2_ref(_avg2_ref(L, TL), _avg2_ref(T, TR))
    if mode == 11:
        p = [lc + tc - tlc for lc, tc, tlc in zip(L, T, TL)]
        pl = sum(abs(pc - lc) for pc, lc in zip(p, L))
        pt = sum(abs(pc - tc) for pc, tc in zip(p, T))
        return L if pl < pt else T
    if mode == 12:
        return tuple(min(255, max(0, lc + tc - tlc))
                     for lc, tc, tlc in zip(L, T, TL))
    if mode == 13:
        av = _avg2_ref(L, T)
        return tuple(min(255, max(0, ac + (ac - tlc) // 2))
                     for ac, tlc in zip(av, TL))
    raise AssertionError(mode)


@pytest.mark.parametrize("mode", list(range(14)))
def test_all_predictor_modes_roundtrip(mode):
    rng = np.random.RandomState(100 + mode)
    h, w = 5, 6
    finals = [[tuple(int(v) for v in rng.randint(0, 256, 4))
               for _ in range(w)] for _ in range(h)]
    # forward transform (test-side, independent)
    residuals = []
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = (255, 0, 0, 0)
            elif y == 0:
                pred = finals[0][x - 1]
            elif x == 0:
                pred = finals[y - 1][0]
            else:
                L = finals[y][x - 1]
                T = finals[y - 1][x]
                TL = finals[y - 1][x - 1]
                TR = finals[y - 1][x + 1] if x + 1 < w else finals[y - 1][0]
                pred = _pred_ref(mode, L, T, TL, TR)
            res = tuple((fc - pc) & 0xFF
                        for fc, pc in zip(finals[y][x], pred))
            residuals.append(_pack(*res))
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(0, 2)        # PREDICTOR
    bw.write(1, 3)        # size_bits = 3 → one 8×8 tile
    bw.write(0, 1)
    _emit_literal_codes(bw, [_pack(0, 0, mode, 0)])
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _emit_literal_codes(bw, residuals)
    out = W.decode_vp8l(_vp8l_payload(bw))
    for y in range(h):
        for x in range(w):
            a, r, g, b = finals[y][x]
            want = (r, g, b, a) if out.shape[2] == 4 else (r, g, b)
            assert tuple(out[y, x]) == want, (mode, x, y)


def test_color_transform_roundtrip():
    """Forward color transform computed independently test-side; the
    decoder's inverse must reconstruct the source exactly."""
    rng = np.random.RandomState(42)
    h, w = 4, 4
    g2r, g2b, r2b = 0x23, 0xED, 0x41  # signed 3.5 fixed-point deltas

    def s8(v):
        return v - 256 if v >= 128 else v

    def ctd(t, c):
        return (s8(t) * s8(c)) >> 5

    finals = [[tuple(int(v) for v in rng.randint(0, 256, 4))
               for _ in range(w)] for _ in range(h)]
    residuals = []
    for y in range(h):
        for x in range(w):
            a, r, g, b = finals[y][x]
            # forward: subtract the deltas the inverse will re-add;
            # the r→b delta keys on the FINAL red (the inverse applies
            # it after red is reconstructed)
            new_r = (r - ctd(g2r, g)) & 0xFF
            new_b = (b - ctd(g2b, g) - ctd(r2b, r)) & 0xFF
            residuals.append(_pack(a, new_r, g, new_b))
    bw = W._BitWriter()
    _header(bw, w, h)
    bw.write(1, 1)
    bw.write(1, 2)        # COLOR transform
    bw.write(1, 3)        # size_bits 3 → one tile
    bw.write(0, 1)
    # cte pixel: red=r2b, green=g2b, blue=g2r
    _emit_literal_codes(bw, [_pack(0, r2b, g2b, g2r)])
    bw.write(0, 1)
    bw.write(0, 1)
    bw.write(0, 1)
    _emit_literal_codes(bw, residuals)
    out = W.decode_vp8l(_vp8l_payload(bw))
    for y in range(h):
        for x in range(w):
            a, r, g, b = finals[y][x]
            want = (r, g, b, a) if out.shape[2] == 4 else (r, g, b)
            assert tuple(out[y, x]) == want, (x, y)


# ---------------------------------------------------------------------------
# Animated WebP (ANIM/ANMF)
# ---------------------------------------------------------------------------

def test_animation_frames_compositing_and_disposal():
    f0 = np.full((8, 8, 3), 10, np.uint8)       # full-canvas base
    f1 = np.full((4, 4, 3), 200, np.uint8)      # small patch at (2, 2)
    f2 = np.full((2, 2, 3), 50, np.uint8)       # tiny patch at (0, 0)
    blob = W.encode_webp_animation(
        [f0, f1, f2], [100, 40, 60],
        offsets=[(0, 0), (2, 2), (0, 0)],
        dispose_bg=[False, True, False])
    info = W.parse_webp(blob)
    assert info["has_animation"] and info["kind"] == "extended"
    assert (info["width"], info["height"]) == (8, 8)
    frames = W.decode_animation(blob)
    assert [f["timestamp_ms"] for f in frames] == [0, 100, 140]
    assert [f["duration_ms"] for f in frames] == [100, 40, 60]
    c0, c1, c2 = (f["canvas"] for f in frames)
    assert (c0[..., :3] == 10).all() and (c0[..., 3] == 255).all()
    assert (c1[2:6, 2:6, 0] == 200).all() and c1[0, 0, 0] == 10
    # frame 1 disposed to background: its rect is transparent in c2
    # except where untouched by frame 2
    assert (c2[2:6, 2:6, 3] == 0).all()
    assert (c2[0:2, 0:2, 0] == 50).all()
    assert c2[7, 7, 0] == 10  # base survives outside disposed rect


def test_animation_alpha_blend():
    base = np.full((4, 4, 4), 100, np.uint8)
    base[..., 3] = 255
    overlay = np.zeros((4, 4, 4), np.uint8)
    overlay[..., 0] = 200
    overlay[..., 3] = 128  # half-transparent red
    blob = W.encode_webp_animation(
        [base, overlay], [10, 10],
        blend_overwrite=[True, False])
    frames = W.decode_animation(blob)
    c = frames[1]["canvas"]
    # integer alpha-over: r = (200*128 + 100*(127*255//255)) // 255
    a, inv = 128, (255 - 128) * 255 // 255
    expect_r = (200 * a + 100 * inv) // (a + inv)
    assert abs(int(c[0, 0, 0]) - expect_r) <= 1
    assert c[0, 0, 3] == a + inv


def test_animation_rejects():
    with pytest.raises(W.WebPError, match="not an animated"):
        W.decode_animation(W.encode_webp_lossless(_rand_img(4, 4, 3, 0)))
    f0 = np.full((4, 4, 3), 10, np.uint8)
    blob = bytearray(W.encode_webp_animation([f0], [10]))
    # corrupt the ANMF frame rect to escape the canvas
    at = bytes(blob).find(b"ANMF") + 8
    blob[at + 6:at + 9] = (100).to_bytes(3, "little")  # width-1 = 100
    with pytest.raises(W.WebPError):
        W.decode_animation(bytes(blob))


def test_hand_built_palette_then_predictor_packed_width():
    """Spec-legal transform order COLOR_INDEXING then PREDICTOR: the
    predictor was read AFTER the palette so its inverse must run at the
    PACKED width (regression: it ran at the original width and indexed
    past the packed buffer). 5x1, 4-color palette -> width_bits 2 ->
    packed width 2."""
    pal = [_argb(255, 255, 0, 0), _argb(255, 0, 255, 0),
           _argb(255, 0, 0, 255), _argb(255, 255, 255, 255)]
    deltas = [pal[0]]
    for i in range(1, 4):
        d = 0
        for s in (24, 16, 8, 0):
            d |= (((pal[i] >> s) - (pal[i - 1] >> s)) & 0xFF) << s
        deltas.append(d)
    bw = W._BitWriter()
    _header(bw, 5, 1)
    # transform 1: COLOR_INDEXING (xsize 5 -> packed 2)
    bw.write(1, 1)
    bw.write(3, 2)
    bw.write(3, 8)          # n_colors - 1
    bw.write(0, 1)          # palette sub-image: no cache
    _emit_literal_codes(bw, deltas)
    # transform 2: PREDICTOR, read against the PACKED width (2)
    bw.write(1, 1)
    bw.write(0, 2)
    bw.write(0, 3)          # size_bits = 2 -> one tile covers 2x1
    bw.write(0, 1)          # tile sub-image: no cache
    _emit_literal_codes(bw, [_argb(0, 0, 1, 0)])   # mode 1 (L)
    bw.write(0, 1)          # no more transforms
    bw.write(0, 1)          # no cache
    bw.write(0, 1)          # no meta
    # packed green bytes [0xE4, 0x00] as predictor residuals:
    # (0,0) pred=black adds ARGB(ff,0,0,0); (1,0) top row pred=L
    _emit_literal_codes(bw, [_argb(0, 0, 0xE4, 0),
                             _argb(0, 0, (0x00 - 0xE4) & 0xFF, 0)])
    out = W.decode_vp8l(_vp8l_payload(bw))
    assert out.shape == (1, 5, 3)
    assert [tuple(px) for px in out[0]] == [
        (255, 0, 0), (0, 255, 0), (0, 0, 255), (255, 255, 255),
        (255, 0, 0)]
