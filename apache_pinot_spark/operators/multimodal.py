"""Multimodal column plumbing — image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched mapInPandas.

Decode is behind a CAPABILITY PROBE (`image_decoder()` / `audio_decoder()`):

* ``decode_stub=None`` (auto, the default): use a real decoder when one is
  importable — PIL for images; soundfile, else the stdlib ``wave`` module
  (WAV/PCM), for audio — and fall back to the deterministic stub when not.
  Without PIL, images take the stub.
* ``decode_stub=True``: force the stub — a deterministic fake derived from
  the content bytes, so schema, partitioning, batch shapes, and UDF
  signatures are testable on any machine with bit-stable output.
* ``decode_stub=False``: require a real decoder; raises
  NotImplementedError at the plug point when none is importable.

On the real path a per-item decode failure yields NULL features (the
id/byte-accounting columns still populate): at 100 TB a corrupt blob must
not kill the job — filter `features IS NULL` downstream for the reject
stream. The probe runs on the DRIVER and the decision ships in the
closure, so a heterogeneous cluster can't split-brain between stub and
real output within one query (executors missing the driver's decoder
fail loudly instead).

Scale design: mapInPandas streams Arrow record batches — content bytes
never materialize on the driver; `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds executor memory per batch (set it small for large blobs, e.g. 64).
Frame sampling for video is pure metadata arithmetic (no decode) and
stays in JVM expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from apache_pinot_spark.operators.dedup import _spread

IMAGE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("digest", T.StringType()),
        T.StructField("features", T.ArrayType(T.FloatType())),
    ]
)


def image_decoder() -> str | None:
    """Capability probe: "pil" when importable (any format), else None.
    Probed on the driver; the result ships in the worker closure."""
    try:
        import PIL.Image  # noqa: F401

        return "pil"
    except ImportError:
        return None


def audio_decoder() -> str | None:
    """Capability probe: "soundfile" (any libsndfile format), else "wave"
    (stdlib, WAV/PCM only — present in every CPython), else None."""
    try:
        import soundfile  # noqa: F401

        return "soundfile"
    except ImportError:
        pass
    try:
        import wave  # noqa: F401

        return "wave"
    except ImportError:
        return None


def _resolve(decode_stub: bool | None, probe) -> str | None:
    """Map the decode_stub tri-state to a concrete decoder name or None
    (= stub). Raises at the plug point when real decode is demanded but
    no decoder is importable."""
    if decode_stub is True:
        return None
    decoder = probe()
    if decoder is None and decode_stub is False:
        raise NotImplementedError(
            "real decode requested (decode_stub=False) but no decoder is "
            "importable in this environment — install PIL (images) or "
            "soundfile (audio); WAV works via the stdlib wave module"
        )
    return decoder


def extract_image_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool | None = None,
    feature_dim: int = 8,
) -> DataFrame:
    """Decode + featurize images via mapInPandas (Arrow batches).

    Pipeline shape: batches of (id, content) → decoded pixels → feature
    vector. Decoder selection per the module capability probe; the real
    (PIL) featurizer is a feature_dim-pixel grayscale thumbnail in [0,1]
    — deterministic, resolution-invariant, and enough to drive dedup /
    ANN plumbing tests; swap in a model embedding at the same plug point.
    """
    decoder = _resolve(decode_stub, image_decoder)

    # The worker function must be SELF-CONTAINED: every import happens
    # inside and no module-level symbol is referenced, so cloudpickle
    # ships it by value and executors never need this package importable.
    def run(batches):
        import hashlib as _hl

        import pandas as _pd

        def _stub_feats(content, n):
            d = _hl.sha256(content or b"").digest()
            return [int.from_bytes(d[i * 4 : i * 4 + 4], "big") / 2**32 for i in range(n)]

        def _pil_feats(content, n):
            # real decode: grayscale thumbnail, n pixels normalized to [0,1];
            # corrupt/undecodable blobs -> None (reject stream, never a crash)
            import io as _io

            try:
                from PIL import Image as _Image

                with _Image.open(_io.BytesIO(content or b"")) as im:
                    px = im.convert("L").resize((n, 1)).getdata()
                return [p / 255.0 for p in px]
            except Exception:
                return None

        feats = _stub_feats if decoder is None else _pil_feats
        for pdf in batches:
            contents = pdf[content_col]
            yield _pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "n_bytes": contents.map(lambda b: len(b or b"")).astype("int32"),
                    "digest": contents.map(
                        lambda b: _hl.sha256(b or b"").hexdigest()
                    ),
                    "features": contents.map(lambda b: feats(b, feature_dim)),
                }
            )

    # single-file inputs scan as ONE partition — fan out so Arrow batches
    # stream to the cores the input's size warrants
    return _spread(df.select(id_col, content_col)).mapInPandas(
        run, schema=FEATURE_SCHEMA)


def resize_images(
    df: DataFrame,
    target_w: int,
    target_h: int,
    content_col: str = "content",
    meta_col: str = "meta",
    decode_stub: bool | None = None,
) -> DataFrame:
    """Resize: with a real decoder (PIL), decode → resize → re-encode via
    mapInPandas, updating metadata; in stub mode only the metadata struct
    changes and content passes through untouched. Output schema mirrors
    the input either way. Undecodable blobs pass through unresized with
    their original metadata (reject stream semantics)."""
    decoder = _resolve(decode_stub, image_decoder)
    if decoder is None:
        return df.withColumn(
            meta_col,
            F.struct(
                F.col(f"{meta_col}.format").alias("format"),
                F.lit(target_w).alias("width"),
                F.lit(target_h).alias("height"),
            ),
        )

    cols = list(df.columns)
    schema = df.schema

    def run(batches):
        import io as _io

        from PIL import Image as _Image

        def _resize(b):
            with _Image.open(_io.BytesIO(b or b"")) as im:
                fmt = im.format or "PNG"
                out = _io.BytesIO()
                im.resize((target_w, target_h)).save(out, format=fmt)
            return out.getvalue()

        for pdf in batches:
            new_content, new_w, new_h = [], [], []
            for b, meta in zip(pdf[content_col], pdf[meta_col]):
                try:
                    new_content.append(_resize(b))
                    new_w.append(target_w)
                    new_h.append(target_h)
                except Exception:
                    new_content.append(b)
                    new_w.append(meta["width"] if meta else None)
                    new_h.append(meta["height"] if meta else None)
            pdf = pdf.copy()
            pdf[content_col] = new_content
            pdf[meta_col] = [
                {"format": (m["format"] if m else None), "width": w, "height": h}
                for m, w, h in zip(pdf[meta_col], new_w, new_h)
            ]
            yield pdf[cols]

    return df.mapInPandas(run, schema=schema)


def sample_video_frames(
    df: DataFrame,
    every_n_seconds: float,
    duration_col: str = "duration_s",
    fps_col: str = "fps",
    id_col: str = "media_id",
) -> DataFrame:
    """Frame-sampling plan: (media_id, frame_index, timestamp_s) rows from
    duration/fps metadata — pure JVM arithmetic, the decode of the chosen
    frames is downstream (stubbed). One row per sampled frame via explode."""
    n_samples = F.floor(F.col(duration_col) / F.lit(every_n_seconds)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_samples, F.lit(0)))
    return (
        df.select(F.col(id_col), F.col(fps_col), F.explode(idx).alias("sample_i"))
        .select(
            id_col,
            (F.col("sample_i") * F.lit(every_n_seconds)).alias("timestamp_s"),
            F.floor(F.col("sample_i") * F.lit(every_n_seconds) * F.col(fps_col)).alias(
                "frame_index"
            ),
        )
    )


AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("n_samples", T.LongType()),
                ]
            ),
        ),
    ]
)


def extract_audio_features(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
    decode_stub: bool | None = None,
    n_bands: int = 8,
) -> DataFrame:
    """Decode + featurize audio via mapInPandas (Arrow batches): bytes →
    PCM decode → per-band RMS energies over n_bands equal time slices,
    each in [0,1] (normalized to full scale). Decoder per the module
    capability probe: soundfile when importable, else the stdlib ``wave``
    module (WAV/PCM — so this real path runs in any CPython), else the
    deterministic byte-profile stub. Undecodable blobs yield NULL
    band_energy on the real path."""
    decoder = _resolve(decode_stub, audio_decoder)

    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("n_bytes", T.IntegerType()),
            T.StructField("band_energy", T.ArrayType(T.DoubleType())),
        ]
    )

    # Self-contained worker (imports inside; no module symbols) — executors
    # must not need this package importable.
    def run(batches):
        import pandas as _pd

        def _stub_bands(b, n):
            b = b or b"\x00"
            step = max(len(b) // n, 1)
            out = []
            for i in range(n):
                chunk = b[i * step : (i + 1) * step] or b"\x00"
                out.append(sum(chunk) / (255.0 * len(chunk)))
            return out

        def _pcm_bands(x, n):
            # x: mono float signal in [-1, 1]; per-band RMS over n slices
            import numpy as _np

            if x.size == 0:
                return [0.0] * n
            out = []
            edges = _np.linspace(0, x.size, n + 1).astype(int)
            for i in range(n):
                seg = x[edges[i] : edges[i + 1]]
                out.append(float(_np.sqrt(_np.mean(seg * seg))) if seg.size else 0.0)
            return out

        def _wave_decode(b):
            import io as _io
            import wave as _wave

            import numpy as _np

            with _wave.open(_io.BytesIO(b), "rb") as w:
                nch, sw, _, nframes = w.getparams()[:4]
                raw = w.readframes(nframes)
            if sw == 1:  # unsigned 8-bit PCM
                x = _np.frombuffer(raw, dtype=_np.uint8).astype(_np.float64)
                x = (x - 128.0) / 128.0
            elif sw == 2:
                x = _np.frombuffer(raw, dtype="<i2").astype(_np.float64) / 32768.0
            elif sw == 4:
                x = _np.frombuffer(raw, dtype="<i4").astype(_np.float64) / 2147483648.0
            else:
                raise ValueError(f"unsupported PCM sample width {sw}")
            if nch > 1:
                x = x.reshape(-1, nch).mean(axis=1)
            return x

        def _sf_decode(b):
            import io as _io

            import numpy as _np
            import soundfile as _sf

            x, _sr = _sf.read(_io.BytesIO(b), dtype="float64", always_2d=True)
            return _np.asarray(x).mean(axis=1)

        def _real_bands(b, n):
            try:
                x = _sf_decode(b) if decoder == "soundfile" else _wave_decode(b)
                return _pcm_bands(x, n)
            except Exception:
                return None

        bands = _stub_bands if decoder is None else _real_bands
        for pdf in batches:
            contents = pdf[content_col]
            yield _pd.DataFrame(
                {
                    "media_id": pdf[id_col].astype("int64"),
                    "n_bytes": contents.map(lambda b: len(b or b"")).astype("int32"),
                    "band_energy": contents.map(lambda b: bands(b, n_bands)),
                }
            )

    return _spread(df.select(id_col, content_col)).mapInPandas(
        run, schema=out_schema)


def chunk_audio(
    df: DataFrame,
    chunk_seconds: float,
    id_col: str = "media_id",
    meta_col: str = "meta",
) -> DataFrame:
    """Chunking plan for audio: (media_id, chunk_index, start_s, end_s,
    start_sample, end_sample) rows from sample-rate/sample-count metadata —
    pure JVM arithmetic like video frame sampling; the per-chunk decode is
    downstream (stubbed). One row per chunk via explode."""
    duration = F.col(f"{meta_col}.n_samples") / F.col(f"{meta_col}.sample_rate")
    n_chunks = F.ceil(duration / F.lit(chunk_seconds)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    start = F.col("chunk_index") * F.lit(chunk_seconds)
    end = F.least(start + F.lit(chunk_seconds), duration)
    return (
        df.select(
            F.col(id_col),
            F.col(f"{meta_col}.sample_rate").alias("__sr"),
            F.col(f"{meta_col}.n_samples").alias("__ns"),
            F.explode(idx).alias("chunk_index"),
        )
        .select(
            id_col,
            "chunk_index",
            start.alias("start_s"),
            F.least(
                start + F.lit(chunk_seconds), F.col("__ns") / F.col("__sr")
            ).alias("end_s"),
            (start * F.col("__sr")).cast("long").alias("start_sample"),
            F.least(
                ((start + F.lit(chunk_seconds)) * F.col("__sr")).cast("long"),
                F.col("__ns"),
            ).alias("end_sample"),
        )
    )
