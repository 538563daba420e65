"""FLAC subset codec (operators/flac.py): round-trips through the
module's own spec-conformant encoder, hand-assembled decorrelated-stereo
frames, CRC/MD5 integrity rejection, the LPC capability plug point, and
the Spark band-energy operator."""

from __future__ import annotations

import numpy as np
import pytest

from apache_pinot_spark.operators import flac as FL


def _tone(n, period, amp, phase=0):
    i = np.arange(n)
    return (amp * np.sin(2 * np.pi * (i + phase) / period)).astype(np.int64)


def test_roundtrip_mono_16bit_multiframe():
    x = _tone(1000, 50, 12000)
    blob = FL.encode_flac(x, sample_rate=8000, bits_per_sample=16,
                          block_size=256)
    info = FL.parse_flac(blob)
    assert (info.sample_rate, info.channels, info.bits_per_sample,
            info.total_samples) == (8000, 1, 16, 1000)
    pcm, sr = FL.decode_flac(blob)
    assert sr == 8000 and pcm.shape == (1000, 1)
    assert np.array_equal(pcm[:, 0], x)  # lossless


def test_roundtrip_stereo_and_8bit():
    left = _tone(600, 40, 9000)
    right = _tone(600, 25, 5000, phase=7)
    blob = FL.encode_flac(np.stack([left, right], axis=1), 44100, 16, 200)
    pcm, sr = FL.decode_flac(blob)
    assert sr == 44100 and pcm.shape == (600, 2)
    assert np.array_equal(pcm[:, 0], left) and np.array_equal(pcm[:, 1], right)
    x8 = _tone(300, 30, 100)
    blob8 = FL.encode_flac(x8, 16000, bits_per_sample=8, block_size=128)
    pcm8, _ = FL.decode_flac(blob8)
    assert np.array_equal(pcm8[:, 0], x8)


def test_constant_blocks_and_explicit_orders():
    x = np.full(512, -321, dtype=np.int64)
    blob = FL.encode_flac(x, 8000, 16, 256)
    pcm, _ = FL.decode_flac(blob)
    assert np.array_equal(pcm[:, 0], x)
    # constant subframes beat fixed: stream is tiny
    assert len(blob) < 140
    ramp = np.arange(400, dtype=np.int64) * 3 + 17
    for order in (0, 1, 2, 3, 4):
        b = FL.encode_flac(ramp, 8000, 16, 200, fixed_order=order)
        got, _ = FL.decode_flac(b)
        assert np.array_equal(got[:, 0], ramp), f"order {order}"
    # order-2 residuals of a linear ramp are all zero -> near-floor size
    b2 = FL.encode_flac(ramp, 8000, 16, 200, fixed_order=2)
    b0 = FL.encode_flac(ramp, 8000, 16, 200, fixed_order=0)
    assert len(b2) < len(b0)


def test_crc_and_md5_integrity_reject():
    x = _tone(256, 20, 10000)
    blob = bytearray(FL.encode_flac(x, 8000, 16, 256))
    # flip a payload byte in the (single) frame -> CRC-16 or CRC-8 catches
    mut = bytearray(blob)
    mut[-20] ^= 0x55
    with pytest.raises(ValueError):
        FL.decode_flac(bytes(mut))
    # flip an MD5 byte in STREAMINFO -> frames decode, MD5 check rejects
    mut2 = bytearray(blob)
    mut2[8 + 18] ^= 0x01  # magic(4)+blockhdr(4)+18 bytes into STREAMINFO=md5[0]
    with pytest.raises(ValueError, match="MD5 mismatch"):
        FL.decode_flac(bytes(mut2))
    with pytest.raises(ValueError, match="too short"):
        FL.parse_flac(b"fLaC")
    with pytest.raises(ValueError, match="not a FLAC"):
        FL.parse_flac(b"RIFF" + b"\x00" * 60)


def _hand_frame(streaminfo_args, build_subframes, block_size, ch_code,
                bps=16):
    """Assemble fLaC + STREAMINFO + ONE frame whose subframes come from
    ``build_subframes(writer)`` (verbatim payloads written by the test),
    with correct CRC-8/CRC-16 and a zero MD5 (skips the whole-stream
    check)."""
    sr, nch, total = streaminfo_args
    si = bytearray()
    si += block_size.to_bytes(2, "big") * 2
    si += (0).to_bytes(3, "big") * 2
    si += ((sr << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | total
           ).to_bytes(8, "big")
    si += b"\x00" * 16
    out = bytearray(b"fLaC") + bytes([0x80]) + (34).to_bytes(3, "big") + si
    w = FL._BitWriter()
    w.write(0b11111111111110, 14)
    w.write(0, 2)
    w.write(7, 4)       # 16-bit block size at end
    w.write(0, 4)       # sample rate from STREAMINFO
    w.write(ch_code, 4)
    w.write(4, 3)       # 16 bps
    w.write(0, 1)
    w.write(0, 8)       # frame number 0 (utf8 single byte)
    w.write(block_size - 1, 16)
    w.align()
    hdr = w.getvalue()
    w = FL._BitWriter()
    for b in hdr:
        w.write(b, 8)
    w.write(FL.crc8(hdr), 8)
    build_subframes(w)
    w.align()
    body = w.getvalue()
    return bytes(out + body + FL.crc16(body).to_bytes(2, "big"))


def _verbatim(w, samples, bits):
    w.write(0, 1)
    w.write(1, 6)  # VERBATIM
    w.write(0, 1)  # no wasted bits
    for s in samples:
        w.write(int(s), bits)


def test_stereo_decorrelation_modes_decode():
    left = [100, -50, 3000, -3000, 12345, -12345, 0, 77]
    right = [90, -60, 2990, -2980, 12000, -12000, 5, -77]
    n = len(left)
    side = [l - r for l, r in zip(left, right)]
    mid = [(l + r) >> 1 for l, r in zip(left, right)]

    # ch_code 8: left(bps) + side(bps+1)
    blob = _hand_frame((8000, 2, n), lambda w: (
        _verbatim(w, left, 16), _verbatim(w, side, 17)), n, 8)
    pcm, _ = FL.decode_flac(blob)
    assert pcm[:, 0].tolist() == left and pcm[:, 1].tolist() == right

    # ch_code 9: side(bps+1) + right(bps)
    blob = _hand_frame((8000, 2, n), lambda w: (
        _verbatim(w, side, 17), _verbatim(w, right, 16)), n, 9)
    pcm, _ = FL.decode_flac(blob)
    assert pcm[:, 0].tolist() == left and pcm[:, 1].tolist() == right

    # ch_code 10: mid(bps) + side(bps+1)
    blob = _hand_frame((8000, 2, n), lambda w: (
        _verbatim(w, mid, 16), _verbatim(w, side, 17)), n, 10)
    pcm, _ = FL.decode_flac(blob)
    assert pcm[:, 0].tolist() == left and pcm[:, 1].tolist() == right


def test_lpc_subframe_roundtrip():
    """Quantized-LPC decode (r10): a hand-assembled LPC subframe whose
    residuals come from an INDEPENDENT reference implementation of the
    prediction model must reconstruct the original samples exactly."""
    x = [120, -340, 2210, -1830, 950, 3333, -2900, 410, 77, -5120,
         4096, -64, 1024, 2048, -1111, 6000]
    n = len(x)
    order, precision, shift = 2, 12, 5
    coeffs = [63, -30]  # prediction: (63*x[i-1] - 30*x[i-2]) >> 5
    resid = [x[i] - ((coeffs[0] * x[i - 1] + coeffs[1] * x[i - 2]) >> shift)
             for i in range(order, n)]

    def lpc_subframe(w):
        w.write(0, 1)
        w.write(32 + order - 1, 6)  # LPC, order 2
        w.write(0, 1)               # no wasted bits
        for v in x[:order]:
            w.write(v, 16)          # warmup samples
        w.write(precision - 1, 4)
        w.write(shift, 5)
        for c in coeffs:
            w.write(c, precision)
        w.write(0, 2)               # residual method 0
        w.write(0, 4)               # partition order 0
        param = FL._best_rice_param(resid, 4)
        w.write(param, 4)
        FL._write_rice(w, resid, param)

    blob = _hand_frame((8000, 1, n), lpc_subframe, n, 0)
    pcm, sr = FL.decode_flac(blob)
    assert sr == 8000 and pcm[:, 0].tolist() == x

    # reserved/invalid LPC fields still reject
    def bad_precision(w):
        w.write(0, 1)
        w.write(32, 6)   # LPC order 1
        w.write(0, 1)
        w.write(5, 16)   # warmup
        w.write(0b1111, 4)  # precision code 0b1111 = invalid
        w.write(0, 5)

    blob = _hand_frame((8000, 1, 4), bad_precision, 4, 0)
    with pytest.raises(ValueError, match="precision"):
        FL.decode_flac(blob)


def test_spark_operator_band_energies(spark):
    loud = FL.encode_flac(_tone(2048, 64, 28000), 8000, 16, 512)
    quiet = FL.encode_flac(_tone(2048, 64, 2800), 8000, 16, 512)
    rows = [
        (1, bytearray(loud)),
        (2, bytearray(quiet)),
        (3, bytearray(b"not flac at all, nope....................")),
        (4, None),
    ]
    df = spark.createDataFrame(rows, "media_id LONG, content BINARY")
    out = FL.flac_band_energies(df, n_bands=4).orderBy("media_id")
    got = {r.media_id: r for r in out.collect()}
    assert got[1].sample_rate == 8000 and got[1].n_samples == 2048
    assert got[1].duration_s == pytest.approx(0.256)
    assert all(0.0 <= b <= 1.0 for b in got[1].band_energy)
    # 10x louder signal -> ~10x the RMS in every band
    for lb, qb in zip(got[1].band_energy, got[2].band_energy):
        assert lb == pytest.approx(10 * qb, rel=1e-3)
    for mid in (3, 4):
        assert got[mid].sample_rate is None and got[mid].band_energy is None
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan


def test_mutation_property_never_hangs_or_misdecodes_silently():
    import random

    x = _tone(512, 30, 11000)
    blob = FL.encode_flac(x, 8000, 16, 256)
    rng = random.Random(7212)
    outcomes = {"ok": 0, "reject": 0}
    for _ in range(200):
        mut = bytearray(blob)
        pos = rng.randrange(len(mut))
        mut[pos] = rng.randrange(256)
        try:
            pcm, sr = FL.decode_flac(bytes(mut))
            assert pcm.ndim == 2 and sr > 0
            outcomes["ok"] += 1
        except ValueError:
            outcomes["reject"] += 1
    # CRC-8/CRC-16/MD5 make silent corruption acceptance rare: the only
    # mutations that decode are those in skipped fields (padding, min/max
    # frame-size hints); most flips must reject
    assert outcomes["reject"] > 150, outcomes


def test_non_byte_width_md5_skip_and_reserved_guards():
    """r11 ADVICE fixes: (a) 20-bit streams (non-byte sample width) skip
    the PCM MD5 check instead of rejecting valid files with a spurious
    mismatch; (b) a frame block size above STREAMINFO's max_block
    rejects (the old guard could never fire); (c) sample-size code 3 is
    reserved and rejects before the header CRC check."""
    # (a) encoder emits zero MD5 for 20-bit; plant a nonzero MD5 in
    # STREAMINFO — decode must still succeed (the width is not
    # byte-serializable, so verification is skipped by design)
    x = _tone(256, 20, 60000)
    blob = bytearray(FL.encode_flac(x, 8000, bits_per_sample=20,
                                    block_size=256))
    blob[8 + 18] = 0xAB  # md5[0] inside STREAMINFO
    pcm, _ = FL.decode_flac(bytes(blob))
    assert np.array_equal(pcm[:, 0], x)

    # (b) shrink STREAMINFO max_block below the frame's block size
    blob16 = bytearray(FL.encode_flac(_tone(256, 20, 10000), 8000, 16, 256))
    blob16[10:12] = (128).to_bytes(2, "big")  # max_block = 128 < 256
    with pytest.raises(ValueError, match="exceeds stream maximum"):
        FL.decode_flac(bytes(blob16))

    # (c) force ss_code=3 in the first frame header byte 3 (ch4|ss3|res1)
    good = FL.encode_flac(_tone(256, 20, 10000), 8000, 16, 256)
    info = FL.parse_flac(good)
    mut = bytearray(good)
    b3 = info.frames_start + 3
    mut[b3] = (mut[b3] & 0xF1) | (3 << 1)
    with pytest.raises(ValueError, match="reserved sample size code 3"):
        FL.decode_flac(bytes(mut))
