"""MP3 / MPEG audio frame-header walk — the metadata tier for the one
big audio container the FLAC/WAV decoders don't cover: this reads what
a data pipeline SCHEDULES on
(frame count, sample rate, channel mode, CBR/VBR bitrate, duration)
straight out of the blob, from the PUBLIC MPEG-1/2/2.5 audio framing
(ISO/IEC 11172-3 / 13818-3) — no codec library, no payload decode.

Scope:
  * ID3v2 prefix (syncsafe size) and ID3v1 trailer skipped by size
  * every frame header: 11-bit sync, version (1 / 2 / 2.5), layer
    (I / II / III), bitrate + sample-rate table lookups, padding,
    channel mode; payload skipped by the computed frame length
  * Xing / Info VBR header in the first frame (version/mode-dependent
    side-info offset): frame count + byte count → true VBR duration
    and average bitrate
  * free-format streams (bitrate index 0) REJECT — their frame length
    is not derivable from the header, the honest boundary
  * full PCM decode (hybrid filterbank / MDCT synthesis) is beyond this
    tier and stays the capability plug point, exactly as H.264 is for
    the MP4 side

Untrusted-field bounds: the walk advances by the computed frame length
(>= 24 bytes for any valid header), so iterations are bounded by
len(blob)/24; a header whose frame overruns the blob ends the walk.

Scale shape: per-row map-side work over the binary column
(Arrow-batched, zero shuffle); corrupt blobs reject to the NULL stream
(the multimodal convention).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# bitrate tables in kbps, index 1..14 (0 = free format, 15 = invalid):
# rows keyed by (version_group, layer); V2 covers MPEG-2 and 2.5
_BITRATES = {
    ("V1", 1): [32, 64, 96, 128, 160, 192, 224, 256, 288, 320, 352, 384, 416, 448],
    ("V1", 2): [32, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, 384],
    ("V1", 3): [32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320],
    ("V2", 1): [32, 48, 56, 64, 80, 96, 112, 128, 144, 160, 176, 192, 224, 256],
    ("V2", 2): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
    ("V2", 3): [8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160],
}
# sample-rate tables by version, index 0..2 (3 = reserved)
_SAMPLE_RATES = {
    "1": [44100, 48000, 32000],
    "2": [22050, 24000, 16000],
    "2.5": [11025, 12000, 8000],
}
_VERSIONS = {0: "2.5", 2: "2", 3: "1"}  # header code -> version (1 reserved)
_LAYERS = {1: 3, 2: 2, 3: 1}  # header code -> layer number
_MODES = {0: "stereo", 1: "joint_stereo", 2: "dual_channel", 3: "mono"}


@dataclass
class MP3Frame:
    offset: int
    size: int
    version: str
    layer: int
    bitrate_kbps: int
    sample_rate: int
    mode: str
    samples: int  # samples per frame


@dataclass
class MP3Info:
    frames: list
    has_id3v2: bool = False
    has_id3v1: bool = False
    xing_frames: int | None = None  # Xing/Info frame count when present
    xing_bytes: int | None = None

    @property
    def n_frames(self) -> int:
        return self.xing_frames if self.xing_frames is not None else len(self.frames)

    @property
    def sample_rate(self) -> int:
        return self.frames[0].sample_rate

    @property
    def duration_s(self) -> float:
        f0 = self.frames[0]
        return self.n_frames * f0.samples / f0.sample_rate

    @property
    def is_vbr(self) -> bool:
        if self.xing_frames is not None:
            return True
        return len({f.bitrate_kbps for f in self.frames}) > 1

    @property
    def avg_bitrate_kbps(self) -> float:
        if self.xing_frames and self.xing_bytes:
            return self.xing_bytes * 8.0 / (self.duration_s * 1000.0)
        if not self.frames:
            return 0.0
        return sum(f.bitrate_kbps for f in self.frames) / len(self.frames)


def _parse_header(blob: bytes, off: int) -> MP3Frame:
    h = int.from_bytes(blob[off : off + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        raise ValueError(f"no frame sync at offset {off}")
    vcode = (h >> 19) & 0x3
    if vcode == 1:
        raise ValueError("reserved MPEG version")
    version = _VERSIONS[vcode]
    lcode = (h >> 17) & 0x3
    if lcode == 0:
        raise ValueError("reserved layer")
    layer = _LAYERS[lcode]
    br_idx = (h >> 12) & 0xF
    if br_idx == 0:
        raise ValueError("free-format bitrate (frame length underivable)")
    if br_idx == 15:
        raise ValueError("invalid bitrate index 15")
    sr_idx = (h >> 10) & 0x3
    if sr_idx == 3:
        raise ValueError("reserved sample-rate index")
    group = "V1" if version == "1" else "V2"
    bitrate = _BITRATES[(group, layer)][br_idx - 1] * 1000
    sample_rate = _SAMPLE_RATES[version][sr_idx]
    padding = (h >> 9) & 0x1
    mode = _MODES[(h >> 6) & 0x3]
    if layer == 1:
        size = (12 * bitrate // sample_rate + padding) * 4
        samples = 384
    elif layer == 2:
        size = 144 * bitrate // sample_rate + padding
        samples = 1152
    else:  # layer III
        if version == "1":
            size = 144 * bitrate // sample_rate + padding
            samples = 1152
        else:  # MPEG-2/2.5: half-rate granule
            size = 72 * bitrate // sample_rate + padding
            samples = 576
    if size < 24:
        raise ValueError("frame length below the minimum valid header span")
    return MP3Frame(off, size, version, layer, bitrate // 1000,
                    sample_rate, mode, samples)


def _xing_offset(version: str, mode: str, crc_protected: bool = False) -> int:
    # side-info length after the 4-byte header, per the public Xing
    # header placement convention; a protection bit of 0 means a 2-byte
    # CRC sits between the header and the side info
    crc = 2 if crc_protected else 0
    if version == "1":
        return 4 + crc + (17 if mode == "mono" else 32)
    return 4 + crc + (9 if mode == "mono" else 17)


def parse_mp3(blob: bytes, max_frames: int = 1 << 20) -> MP3Info:
    """Walk every frame header. Raises ValueError for anything that is
    not a clean MPEG audio stream (garbage between frames rejects rather
    than resyncing — pipeline blobs are whole files, and a resync would
    silently accept corrupt tails)."""
    if blob is None or len(blob) < 4:
        raise ValueError("blob too short for an MPEG audio frame")
    off = 0
    info = MP3Info(frames=[])
    if blob[:3] == b"ID3":
        if len(blob) < 10:
            raise ValueError("truncated ID3v2 header")
        size = 0
        for b in blob[6:10]:
            if b & 0x80:
                raise ValueError("ID3v2 size bytes must be syncsafe")
            size = (size << 7) | b
        off = 10 + size
        info.has_id3v2 = True
    end = len(blob)
    if end - off >= 128 and blob[end - 128 : end - 125] == b"TAG":
        info.has_id3v1 = True
        end -= 128
    if off >= end:
        raise ValueError("no audio frames after the tag regions")
    first = True
    while off < end:
        if off + 4 > end:
            raise ValueError("trailing bytes do not form a frame header")
        frame = _parse_header(blob, off)
        if off + frame.size > end:
            raise ValueError("frame overruns blob")
        if info.frames and (
            frame.version != info.frames[0].version
            or frame.layer != info.frames[0].layer
            or frame.sample_rate != info.frames[0].sample_rate
        ):
            raise ValueError("mid-stream version/layer/rate change")
        info.frames.append(frame)
        if len(info.frames) > max_frames:
            raise ValueError(f"more than {max_frames} frames")
        if first:
            first = False
            # protection bit (byte 1 LSB) == 0 → CRC-16 present
            xo = off + _xing_offset(frame.version, frame.mode,
                                    crc_protected=(blob[off + 1] & 0x01) == 0)
            tag = blob[xo : xo + 4]
            if tag in (b"Xing", b"Info") and xo + 8 <= off + frame.size:
                flags = int.from_bytes(blob[xo + 4 : xo + 8], "big")
                p = xo + 8
                if flags & 0x1 and p + 4 <= off + frame.size:
                    info.xing_frames = int.from_bytes(blob[p : p + 4], "big")
                    p += 4
                if flags & 0x2 and p + 4 <= off + frame.size:
                    info.xing_bytes = int.from_bytes(blob[p : p + 4], "big")
        off += frame.size
    if not info.frames:
        raise ValueError("no audio frames")
    return info


def mp3_stream_stats(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "media_id",
) -> DataFrame:
    """(media_id, version, layer, sample_rate, channel_mode, n_frames,
    duration_s, avg_bitrate_kbps, is_vbr, has_id3v2) per blob — the
    audit columns a corpus pipeline filters/buckets on before committing
    to a (plug-point) decode. One Arrow map pass, zero shuffle;
    non-MPEG / corrupt / free-format blobs emit ONE all-NULL row."""
    id_type = dict(df.dtypes)[id_col]
    src = df.select(F.col(id_col).alias("id"), F.col(content_col).alias("c"))

    def run(batches):
        # worker imports THIS package: executors need it importable
        # (pip-installed or shipped via --py-files) — the normal library
        # deployment
        import pandas as _pd

        from apache_pinot_spark.operators.mp3 import parse_mp3

        cols = ("id", "version", "layer", "sample_rate", "channel_mode",
                "n_frames", "duration_s", "avg_bitrate_kbps", "is_vbr",
                "has_id3v2")
        for pdf in batches:
            out = {k: [] for k in cols}
            for mid, blob in zip(pdf["id"], pdf["c"]):
                try:
                    info = parse_mp3(bytes(blob) if blob is not None else None)
                except Exception:
                    out["id"].append(mid)
                    for k in cols[1:]:
                        out[k].append(None)
                    continue
                f0 = info.frames[0]
                out["id"].append(mid)
                out["version"].append(f0.version)
                out["layer"].append(f0.layer)
                out["sample_rate"].append(f0.sample_rate)
                out["channel_mode"].append(f0.mode)
                out["n_frames"].append(info.n_frames)
                out["duration_s"].append(info.duration_s)
                out["avg_bitrate_kbps"].append(float(info.avg_bitrate_kbps))
                out["is_vbr"].append(info.is_vbr)
                out["has_id3v2"].append(info.has_id3v2)
            yield _pd.DataFrame(out)

    out = src.mapInPandas(
        run,
        schema=f"id {id_type}, version STRING, layer INT, sample_rate INT, "
               "channel_mode STRING, n_frames INT, duration_s DOUBLE, "
               "avg_bitrate_kbps DOUBLE, is_vbr BOOLEAN, has_id3v2 BOOLEAN",
    )
    return out.withColumnRenamed("id", id_col)
