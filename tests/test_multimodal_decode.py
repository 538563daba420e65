"""Real-decode capability probe for multimodal columns
(operators/multimodal.py): the stub/auto/real tri-state, the stdlib-WAV
audio path (runs in any CPython), and the PIL image path (skipif —
activates wherever an imaging library exists). Without PIL, images take
the stub in auto mode and decode_stub=False raises."""

from __future__ import annotations

import io
import wave

import numpy as np
import pytest

from apache_pinot_spark.operators import multimodal


def _wav_bytes(x: np.ndarray, sample_rate: int = 8000, channels: int = 1) -> bytes:
    """Serialize a float signal in [-1, 1] as 16-bit PCM WAV."""
    pcm = np.clip(np.round(x * 32767.0), -32768, 32767).astype("<i2")
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(channels)
        w.setsampwidth(2)
        w.setframerate(sample_rate)
        w.writeframes(pcm.tobytes())
    return buf.getvalue()


def test_probe_reports_available_decoders():
    # wave is stdlib: the audio probe can never be None
    assert multimodal.audio_decoder() in ("soundfile", "wave")
    # images decode only through PIL; without it the probe reports None
    assert multimodal.image_decoder() in ("pil", None)


def test_audio_real_decode_wav_band_energy(spark):
    """End-to-end real decode through Spark: per-band RMS of known
    signals must match the numpy computation, not the byte-profile stub."""
    n = 8000
    t = np.arange(n) / 8000.0
    sine = np.sin(2 * np.pi * 440 * t) * 0.5
    # loud first half, silent second half: unambiguous band profile
    step = np.concatenate([np.full(n // 2, 0.9), np.zeros(n // 2)])
    rows = [
        (1, _wav_bytes(sine), ("wav", 8000, n)),
        (2, _wav_bytes(step), ("wav", 8000, n)),
    ]
    df = spark.createDataFrame(rows, multimodal.AUDIO_SCHEMA)
    out = {
        r["media_id"]: r["band_energy"]
        for r in multimodal.extract_audio_features(df, decode_stub=False, n_bands=4)
        .collect()
    }

    def rms_bands(x, nb):
        # same quantization as the WAV writer so expectations are exact
        q = np.clip(np.round(x * 32767.0), -32768, 32767) / 32768.0
        edges = np.linspace(0, q.size, nb + 1).astype(int)
        return [float(np.sqrt(np.mean(q[a:b] ** 2))) for a, b in zip(edges, edges[1:])]

    assert out[1] == pytest.approx(rms_bands(sine, 4), abs=1e-9)
    assert out[2] == pytest.approx(rms_bands(step, 4), abs=1e-9)
    # sanity: the step signal's profile is loud-loud-silent-silent
    assert out[2][0] > 0.8 and out[2][3] == pytest.approx(0.0, abs=1e-9)


def test_audio_stereo_downmix(spark):
    n = 4000
    left = np.full(n, 0.8)
    right = np.zeros(n)
    stereo = np.stack([left, right], axis=1).ravel()
    df = spark.createDataFrame(
        [(1, _wav_bytes(stereo, channels=2), ("wav", 8000, n))],
        multimodal.AUDIO_SCHEMA,
    )
    (row,) = multimodal.extract_audio_features(df, decode_stub=False, n_bands=2).collect()
    # downmix averages channels: RMS ~ 0.8 / 2
    assert row["band_energy"][0] == pytest.approx(0.4, abs=1e-3)


def test_audio_auto_prefers_real_decode(spark):
    """decode_stub=None must pick the real decoder when one is importable:
    a valid WAV of silence gets ~0 energy (the stub's byte profile over
    WAV headers would be nonzero)."""
    df = spark.createDataFrame(
        [(1, _wav_bytes(np.zeros(1000)), ("wav", 8000, 1000))],
        multimodal.AUDIO_SCHEMA,
    )
    (row,) = multimodal.extract_audio_features(df, n_bands=2).collect()
    assert row["band_energy"] == pytest.approx([0.0, 0.0], abs=1e-12)


@pytest.mark.skipif(
    multimodal.image_decoder() is not None,
    reason="PIL present: auto mode decodes (see the PIL tests below)",
)
def test_image_auto_decodes_and_stub_stays_forceable(spark):
    """Without an image decoder, auto mode falls back to the sha-derived
    stub: its output equals the forced decode_stub=True output row for
    row, so oracle-reproducible pipelines see no difference."""
    rows = [(i, bytes([i]) * 32, ("png", 4, 4)) for i in range(3)]
    df = spark.createDataFrame(rows, multimodal.IMAGE_SCHEMA)
    auto = multimodal.extract_image_features(df).orderBy("media_id").collect()
    stub = (
        multimodal.extract_image_features(df, decode_stub=True)
        .orderBy("media_id")
        .collect()
    )
    assert all(r["features"] is not None and r["digest"] for r in stub)
    assert auto == stub


@pytest.mark.skipif(
    multimodal.image_decoder() != "pil", reason="PIL not in container"
)
def test_image_real_decode_thumbnail_features(spark):
    """Activates wherever PIL exists: features are the normalized
    grayscale thumbnail, so a white image maps to ~1.0 everywhere and a
    black one to 0.0; garbage bytes flow to the reject stream (features
    None, digest intact)."""
    from PIL import Image

    def png(color):
        buf = io.BytesIO()
        Image.new("L", (16, 16), color).save(buf, format="PNG")
        return buf.getvalue()

    df = spark.createDataFrame(
        [
            (1, png(255), ("png", 16, 16)),
            (2, png(0), ("png", 16, 16)),
            (3, b"xx", ("png", 4, 4)),
        ],
        multimodal.IMAGE_SCHEMA,
    )
    out = {
        r["media_id"]: r
        for r in multimodal.extract_image_features(df, decode_stub=False).collect()
    }
    assert out[1]["features"] == pytest.approx([1.0] * 8, abs=1e-6)
    assert out[2]["features"] == pytest.approx([0.0] * 8, abs=1e-6)
    assert out[3]["features"] is None and out[3]["digest"]


@pytest.mark.skipif(
    multimodal.image_decoder() != "pil", reason="PIL not in container"
)
def test_image_real_resize_reencodes(spark):
    from PIL import Image

    buf = io.BytesIO()
    Image.new("RGB", (32, 32), (10, 20, 30)).save(buf, format="PNG")
    df = spark.createDataFrame(
        [(1, buf.getvalue(), ("PNG", 32, 32))], multimodal.IMAGE_SCHEMA
    )
    (row,) = multimodal.resize_images(df, 8, 8, decode_stub=False).collect()
    assert row["meta"]["width"] == 8 and row["meta"]["height"] == 8
    with Image.open(io.BytesIO(bytes(row["content"]))) as im:
        assert im.size == (8, 8)
