"""Multimodal binary-column operators (training-data pipeline mandate).

Audio/video payloads are opaque ``binary`` columns with typed
metadata; the transforms run as Arrow-batched ``mapInPandas``. The container
has no media libraries, so:

* **audio** decode is REAL for RIFF/WAVE PCM (pure-numpy chunk parser:
  8/16/24/32-bit integer PCM + 32-bit IEEE float, mono-mixdown for
  multichannel, WAVE_FORMAT_EXTENSIBLE unwrapped); compressed codecs
  (G.711/ADPCM/MP3/...) raise ``NotImplementedError`` listing the library
  a deployment would plug in (librosa/soundfile),
* **video** decode is REAL for YUV4MPEG2 (pure-numpy Y4M parser: C444 +
  C420 chroma with BT.601 limited-range conversion); compressed
  containers (mp4/h264/...) raise ``NotImplementedError`` listing the
  library a deployment would plug in (ffmpeg/PyAV). Every call site
  crosses one narrow ``decode_*`` function, so swapping in the real
  codec touches nothing else.
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType, DoubleType, IntegerType, LongType, StringType,
    StructField, StructType,
)


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Minimal RIFF/WAVE PCM16 writer. ``samples``: int16 array, shape (n,)
    for mono or (n, channels) interleaved on write. Used by fixtures and
    tests."""
    pcm = np.asarray(samples).astype("<i2")
    n_ch = 1 if pcm.ndim == 1 else pcm.shape[1]
    data = pcm.tobytes()
    fmt = struct.pack(
        "<HHIIHH", 1, n_ch, sample_rate, sample_rate * n_ch * 2, n_ch * 2, 16
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def _decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """RIFF/WAVE PCM decoder, pure numpy (spec: RIFF chunks are 16-bit-word
    aligned; WAVE_FORMAT_EXTENSIBLE carries the real format code in the
    SubFormat GUID). → (float32 mono samples in [-1,1], sample_rate)."""
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    fmt = raw = None
    pos = 12
    while pos + 8 <= len(data):
        cid = data[pos : pos + 4]
        (sz,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        chunk = data[pos + 8 : pos + 8 + sz]
        if cid == b"fmt ":
            fmt = chunk
        elif cid == b"data":
            raw = chunk
        pos += 8 + sz + (sz & 1)  # chunks are word-aligned
    if fmt is None or len(fmt) < 16 or raw is None:
        raise ValueError("RIFF/WAVE stream missing fmt/data chunk")
    audio_format, n_ch, sr, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format == 0xFFFE and len(fmt) >= 26:  # EXTENSIBLE → SubFormat
        (audio_format,) = struct.unpack("<H", fmt[24:26])
    if audio_format == 1:  # integer PCM
        if bits == 16:
            x = np.frombuffer(raw[: len(raw) // 2 * 2], "<i2").astype(np.float32)
            x /= 32768.0
        elif bits == 8:  # 8-bit WAV is unsigned
            x = (np.frombuffer(raw, "u1").astype(np.float32) - 128.0) / 128.0
        elif bits == 32:
            x = np.frombuffer(raw[: len(raw) // 4 * 4], "<i4").astype(np.float32)
            x /= 2147483648.0
        elif bits == 24:
            b3 = np.frombuffer(raw[: len(raw) // 3 * 3], "u1").reshape(-1, 3)
            vals = (
                b3[:, 0].astype(np.int32)
                | (b3[:, 1].astype(np.int32) << 8)
                | (b3[:, 2].astype(np.int32) << 16)
            )
            vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
            x = vals.astype(np.float32) / 8388608.0
        else:
            raise NotImplementedError(f"{bits}-bit integer PCM unsupported")
    elif audio_format == 3 and bits == 32:  # IEEE float
        x = np.frombuffer(raw[: len(raw) // 4 * 4], "<f4").astype(np.float32)
    else:
        raise NotImplementedError(
            f"WAV format code {audio_format} requires librosa/soundfile "
            "(not in container)"
        )
    if n_ch > 1:
        x = x[: len(x) // n_ch * n_ch].reshape(-1, n_ch).mean(axis=1)
        x = x.astype(np.float32)
    return x, int(sr)


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """→ (float32 mono samples in [-1,1], sample_rate). REAL for RIFF/WAVE
    PCM (:func:`_decode_wav`); compressed codecs raise
    ``NotImplementedError`` (librosa/soundfile in deployment)."""
    if data[:4] == b"RIFF":
        return _decode_wav(data)
    raise NotImplementedError("audio codec requires librosa/soundfile (not in container)")


# BT.601 limited-range RGB↔YCbCr (the Y4M convention): Y ∈ [16, 235],
# Cb/Cr ∈ [16, 240]. Forward coefficients are Kr=0.299/Kb=0.114 scaled by
# 219/255 (luma) and 224/255 (chroma); the inverse matrix is the standard
# 1.164/1.596/2.017 set.

def encode_y4m(
    frames: np.ndarray, chroma: str = "444", fps: tuple[int, int] = (25, 1)
) -> bytes:
    """Minimal YUV4MPEG2 writer (the uncompressed interchange container
    ffmpeg/mjpegtools emit): ``C444`` keeps full chroma (round-trip lossy
    only through the ±1 color-matrix rounding); ``C420`` 2×2-averages the
    chroma planes (C420jpeg siting) — genuinely lossy, the fixture for the
    PSNR invariant."""
    n, h, w, _ = frames.shape
    if chroma == "420" and (w % 2 or h % 2):
        raise ValueError("C420 requires even frame dimensions")
    tag = "444" if chroma == "444" else "420jpeg"
    out = [
        f"YUV4MPEG2 W{w} H{h} F{fps[0]}:{fps[1]} Ip A1:1 C{tag}\n".encode("ascii")
    ]
    for f in frames.astype(np.float64):
        r, g, b = f[..., 0], f[..., 1], f[..., 2]
        y = 16.0 + 0.256788 * r + 0.504129 * g + 0.097906 * b
        cb = 128.0 - 0.148223 * r - 0.290993 * g + 0.439216 * b
        cr = 128.0 + 0.439216 * r - 0.367788 * g - 0.071427 * b
        if chroma == "420":
            cb = cb.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
            cr = cr.reshape(h // 2, 2, w // 2, 2).mean(axis=(1, 3))
        planes = b"".join(
            np.clip(np.round(p), 0, 255).astype(np.uint8).tobytes()
            for p in (y, cb, cr)
        )
        out.append(b"FRAME\n" + planes)
    return b"".join(out)


def _decode_y4m(data: bytes) -> np.ndarray:
    """YUV4MPEG2 decoder, pure numpy → (n_frames, h, w, 3) uint8 RGB.
    Supports C444 and the C420 family (jpeg/mpeg2/paldv siting decoded with
    nearest-neighbor chroma upsampling); other samplings raise
    ``NotImplementedError`` (ffmpeg in deployment)."""
    nl = data.index(b"\n")
    params = data[:nl].decode("ascii", "replace").split(" ")
    if params[0] != "YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 stream")
    w = h = None
    chroma = "420jpeg"  # the Y4M spec default when C is absent
    for p in params[1:]:
        if p.startswith("W"):
            w = int(p[1:])
        elif p.startswith("H"):
            h = int(p[1:])
        elif p.startswith("C"):
            chroma = p[1:]
    if not w or not h:
        raise ValueError("Y4M header missing W/H")
    if chroma.startswith("420"):
        uv_w, uv_h = w // 2, h // 2
    elif chroma == "444":
        uv_w, uv_h = w, h
    else:
        raise NotImplementedError(
            f"Y4M chroma sampling C{chroma} requires ffmpeg (not in container)"
        )
    frame_size = w * h + 2 * uv_w * uv_h
    frames, pos = [], nl + 1
    while pos < len(data):
        marker_end = data.index(b"\n", pos)
        if data[pos : pos + 5] != b"FRAME":
            raise ValueError("Y4M stream missing FRAME marker")
        pos = marker_end + 1
        raw = np.frombuffer(data[pos : pos + frame_size], np.uint8)
        if raw.size < frame_size:
            raise ValueError("truncated Y4M frame")
        pos += frame_size
        y = raw[: w * h].reshape(h, w).astype(np.float64)
        cb = raw[w * h : w * h + uv_w * uv_h].reshape(uv_h, uv_w).astype(np.float64)
        cr = raw[w * h + uv_w * uv_h :].reshape(uv_h, uv_w).astype(np.float64)
        if chroma.startswith("420"):
            cb = cb.repeat(2, axis=0).repeat(2, axis=1)
            cr = cr.repeat(2, axis=0).repeat(2, axis=1)
        yp = 1.164384 * (y - 16.0)
        cb -= 128.0
        cr -= 128.0
        rgb = np.stack(
            [
                yp + 1.596027 * cr,
                yp - 0.391762 * cb - 0.812968 * cr,
                yp + 2.017232 * cb,
            ],
            axis=-1,
        )
        frames.append(np.clip(np.round(rgb), 0, 255).astype(np.uint8))
    if not frames:
        raise ValueError("Y4M stream contains no frames")
    return np.stack(frames)


def decode_video(data: bytes) -> np.ndarray:
    """→ (n_frames, h, w, 3) uint8. REAL for YUV4MPEG2 (:func:`_decode_y4m`
    — C444 + C420, pure numpy); compressed
    containers (mp4/h264/...) raise ``NotImplementedError`` — that call
    site is where a deployment plugs ffmpeg/PyAV."""
    if data[:9] == b"YUV4MPEG2":
        return _decode_y4m(data)
    raise NotImplementedError("video codec requires ffmpeg/PyAV (not in container)")



# --- audio features (in-repo WAV decoder) ---------------------------------------

AUDIO_FEATURES = StructType(
    [
        StructField("media_id", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("zero_crossings", LongType()),
    ]
)


def audio_features(df: DataFrame, id_col: str, bytes_col: str) -> DataFrame:
    """Per-clip features over decoded PCM (numpy, vectorized per batch)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, b in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    pcm, sr = decode_audio(bytes(b))
                except (NotImplementedError, ValueError):
                    continue  # quarantine path at scale
                rows.append(
                    (
                        mid, sr, len(pcm) / sr,
                        float(np.sqrt(np.mean(pcm**2))) if len(pcm) else 0.0,
                        int(((pcm[:-1] * pcm[1:]) < 0).sum()),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_FEATURES.fields])

    return df.mapInPandas(run, AUDIO_FEATURES)


# --- video frame sampling (in-repo Y4M decoder) ---------------------------------

FRAMES = StructType(
    [
        StructField("media_id", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("png", BinaryType()),
        StructField("phash", LongType()),
    ]
)


def sample_video_frames(df: DataFrame, every_n: int, id_col: str, bytes_col: str) -> DataFrame:
    """1 video row → N sampled-frame rows (flatmap), each re-encoded PNG with
    its pHash — ready for the image dedup path."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from german_newspaper_crawler_spark.functions.codec import encode_png
        from german_newspaper_crawler_spark.functions.phash import phash64

        for pdf in batches:
            rows = []
            for mid, b in zip(pdf[id_col], pdf[bytes_col]):
                try:
                    frames = decode_video(bytes(b))
                except (NotImplementedError, ValueError):
                    continue  # unsupported codec / corrupt container —
                    # quarantine path at scale, like the audio leg
                for i in range(0, len(frames), every_n):
                    rows.append((mid, i, encode_png(frames[i]), phash64(frames[i])))
            yield pd.DataFrame(rows, columns=[f.name for f in FRAMES.fields])

    return df.mapInPandas(run, FRAMES)

