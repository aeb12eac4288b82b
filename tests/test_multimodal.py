"""Multimodal binary-column plumbing: audio features and video frame
sampling over the in-repo WAV and YUV4MPEG2 codecs."""

from __future__ import annotations

import numpy as np
import pytest

from german_newspaper_crawler_spark.fixtures import make_image
from german_newspaper_crawler_spark.functions.codec import decode_png, encode_png, psnr
from german_newspaper_crawler_spark.operators import multimodal as MM


@pytest.fixture(scope="module")
def media_df(spark):
    rows = []
    for i in range(6):
        rows.append((f"img-{i}", bytearray(encode_png(make_image(i, size=64)))))
    for i in range(4):
        pcm = (np.sin(np.linspace(0, 40 * (i + 1), 16000)) * 20000).astype("<i2")
        rows.append((f"aud-{i}", bytearray(MM.encode_wav(pcm, 16000))))
    for i in range(3):
        frames = np.stack([make_image(100 + i * 10 + f, size=32) for f in range(9)])
        rows.append((f"vid-{i}", bytearray(MM.encode_y4m(frames))))
    rows.append(("junk-0", bytearray(b"mystery bytes")))
    return spark.createDataFrame(rows, ["media_id", "bytes"])


def test_audio_features_plumbing(spark, media_df):
    out = {r["media_id"]: r for r in MM.audio_features(media_df, "media_id", "bytes").collect()}
    assert set(out) == {f"aud-{i}" for i in range(4)}  # non-audio rows skipped
    a = out["aud-0"]
    assert a["sample_rate"] == 16000
    assert a["duration_s"] == pytest.approx(1.0)
    assert 0.3 < a["rms"] < 0.6  # sine RMS ≈ amplitude/√2 ≈ 0.43
    assert a["zero_crossings"] > 0


def test_video_frame_sampling_plumbing(spark, media_df):
    out = MM.sample_video_frames(media_df, every_n=3, id_col="media_id", bytes_col="bytes")
    rows = out.collect()
    by_vid: dict = {}
    for r in rows:
        by_vid.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert set(by_vid) == {f"vid-{i}" for i in range(3)}
    for idxs in by_vid.values():
        assert sorted(idxs) == [0, 3, 6]  # 9 frames sampled every 3
    # frames round-trip and are phashable
    r0 = rows[0]
    assert decode_png(bytes(r0["png"])).shape == (32, 32, 3)
    assert r0["phash"] is not None


def test_real_formats_raise_not_implemented():
    import struct

    # a COMPRESSED wav (format code 85 = MPEG layer 3) names the deployment
    # library; a truncated RIFF header is a parse error, not a codec gap
    fmt = struct.pack("<HHIIHH", 85, 1, 8000, 8000, 1, 0)
    mp3_wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="librosa"):
        MM.decode_audio(mp3_wav)
    with pytest.raises(ValueError):
        MM.decode_audio(b"RIFF....WAVEfmt ")
    with pytest.raises(NotImplementedError):
        MM.decode_audio(b"mystery-bytes-no-magic!")
    with pytest.raises(NotImplementedError):
        MM.decode_video(b"\x00\x00\x00 ftypisom")


def test_wav_decode_roundtrip_and_bit_depths():
    """The real RIFF/WAVE decoder: PCM16 round-trips the encoder exactly;
    8/24/32-bit int and float32 land within quantization error; stereo
    mixes down to the channel mean."""
    import struct

    sr = 8000
    ref = np.sin(np.linspace(0, 20, 1000)).astype(np.float32) * 0.5
    pcm16 = (ref * 32768).astype("<i2")
    got, gsr = MM.decode_audio(MM.encode_wav(pcm16, sr))
    assert gsr == sr and len(got) == len(ref)
    assert np.array_equal(got, pcm16.astype(np.float32) / 32768.0)

    # stereo → mean of channels
    st = np.stack([pcm16, np.zeros_like(pcm16)], axis=1)
    got2, _ = MM.decode_audio(MM.encode_wav(st, sr))
    assert np.allclose(got2, got / 2, atol=1e-7)

    def wav(fmt_code, bits, payload):
        fmt = struct.pack("<HHIIHH", fmt_code, 1, sr, sr * bits // 8, bits // 8, bits)
        return (
            b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(payload)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
        )

    u8 = ((ref * 128) + 128).clip(0, 255).astype("u1")
    got8, _ = MM.decode_audio(wav(1, 8, u8.tobytes()))
    assert np.abs(got8 - ref).max() < 1 / 64

    i32 = (ref.astype(np.float64) * 2147483648).clip(-(2**31), 2**31 - 1).astype("<i4")
    got32, _ = MM.decode_audio(wav(1, 32, i32.tobytes()))
    assert np.abs(got32 - ref).max() < 1e-6

    i24 = (ref.astype(np.float64) * 8388608).clip(-(2**23), 2**23 - 1).astype("<i4")
    b24 = np.zeros((len(i24), 3), "u1")
    b24[:, 0] = i24 & 0xFF
    b24[:, 1] = (i24 >> 8) & 0xFF
    b24[:, 2] = (i24 >> 16) & 0xFF
    got24, _ = MM.decode_audio(wav(1, 24, b24.tobytes()))
    assert np.abs(got24 - ref).max() < 1e-5

    gotf, _ = MM.decode_audio(wav(3, 32, ref.astype("<f4").tobytes()))
    assert np.array_equal(gotf, ref)

    # WAVE_FORMAT_EXTENSIBLE wrapping PCM16
    sub = struct.pack("<H", 1) + b"\x00" * 14
    fmt_ext = (
        struct.pack("<HHIIHH", 0xFFFE, 1, sr, sr * 2, 2, 16)
        + struct.pack("<H", 22) + struct.pack("<H", 16) + struct.pack("<I", 3) + sub
    )
    data = pcm16.tobytes()
    ext = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt_ext) + 8 + len(data)) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_ext)) + fmt_ext
        + b"data" + struct.pack("<I", len(data)) + data
    )
    gote, _ = MM.decode_audio(ext)
    assert np.array_equal(gote, got)


def test_mm_audio_oracle_literals_current():
    """Drift guard: the precomputed literals inlined in the
    mm_audio_features DuckDB oracle must equal what the deterministic WAV
    fixture actually produces (regenerate the oracle with this recipe if
    the fixture changes)."""
    import re

    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    expect = []
    for i in range(8):
        ph = np.linspace(0, 30 * (i + 1), 8000)
        pcm = (np.sin(ph) * 18000).astype("<i2")
        if i % 3 == 2:
            right = (np.sin(ph + 0.25) * 9000).astype("<i2")
            wav_bytes = MM.encode_wav(np.stack([pcm, right], axis=1), 8000)
        else:
            wav_bytes = MM.encode_wav(pcm, 8000)
        p, sr = MM.decode_audio(wav_bytes)
        expect.append(
            (
                f"aud-{i}", sr, round(len(p) / sr, 4),
                round(float(np.sqrt(np.mean(p**2))), 4),
                int(((p[:-1] * p[1:]) < 0).sum()),
            )
        )

    oracle = REGISTRY["mm_audio_features"].oracle
    lits = re.findall(
        r"\('(aud-\d)', CAST\((\d+) AS BIGINT\), CAST\(([\d.]+) AS DOUBLE\), "
        r"CAST\(([\d.]+) AS DOUBLE\), CAST\((\d+) AS BIGINT\)\)",
        oracle,
    )
    got = [(m, int(s), float(d), float(r), int(z)) for m, s, d, r, z in lits]
    assert got == expect


def test_g5_and_video_oracle_literals_current():
    """Drift guard for the two literal oracles pinned in round 4: the
    g5_image_decode_phash and mm_video_frame_sample VALUES blocks must
    equal an independent python-side recomputation over the deterministic
    fixtures (no Spark plumbing — codec + phash called directly).
    Regenerate the blocks with this recipe if fixtures or codec change."""
    import re

    from german_newspaper_crawler_spark.functions.codec import (
        decode_image, encode_image,
    )
    from german_newspaper_crawler_spark.functions.phash import phash64
    from german_newspaper_crawler_spark.plans.queries import REGISTRY

    g5_expect = []
    for i in range(64):
        fmt = "png" if i % 2 == 0 else "jpeg"
        rgb = decode_image(encode_image(make_image(i, size=32), fmt))
        g5_expect.append(
            (f"https://img.example/i-{i}.png", 32, 32, fmt, f"Bild {i}",
             phash64(rgb))
        )
    lits = re.findall(
        r"\('(\S+)', CAST\((\d+) AS INT\), CAST\((\d+) AS INT\), '(\w+)', "
        r"'([^']+)', CAST\((-?\d+) AS BIGINT\)\)",
        REGISTRY["g5_image_decode_phash"].oracle,
    )
    got = [(u, int(w), int(h), f, c, int(p)) for u, w, h, f, c, p in lits]
    assert got == g5_expect

    mm_expect = []
    for i in range(4):
        frames = np.stack(
            [make_image(500 + i * 10 + f, size=32) for f in range(6)]
        )
        # r5: the fixture is a REAL YUV4MPEG2 container (C444 even ids,
        # C420 odd) — literals recompute from actually-decoded pixels
        dec = MM.decode_video(
            MM.encode_y4m(frames, chroma="444" if i % 2 == 0 else "420")
        )
        for fi in range(0, len(dec), 2):
            mm_expect.append((f"vid-{i}", fi, phash64(dec[fi])))
    lits = re.findall(
        r"\('(vid-\d)', CAST\((\d+) AS INT\), CAST\((-?\d+) AS BIGINT\)\)",
        REGISTRY["mm_video_frame_sample"].oracle,
    )
    got = [(m, int(fi), int(p)) for m, fi, p in lits]
    assert got == mm_expect


def test_y4m_decode_roundtrip_and_psnr_invariants():
    """Real in-repo YUV4MPEG2 codec (VERDICT-r4 #5, the WAV graduation
    pattern): C444 round-trips at PSNR >= 40 dB (only color-matrix
    rounding); C420 keeps luma near-lossless (>= 40 dB on the Y-dominant
    signal) while genuinely destroying chroma detail on a noisy fixture —
    the lossy-format invariant band. Byte-level determinism and frame
    geometry asserted; unsupported samplings name the deployment library."""
    smooth = np.stack([make_image(700 + f, size=32) for f in range(5)])
    noisy = np.stack([make_image(800 + f, size=32, noise=40) for f in range(4)])

    def min_psnr(a, b):
        return min(psnr(x, y) for x, y in zip(a, b))

    def luma(f):
        return (
            0.299 * f[..., 0].astype(np.float64)
            + 0.587 * f[..., 1]
            + 0.114 * f[..., 2]
        )

    # C444: near-lossless for any content
    for fr in (smooth, noisy):
        dec = MM.decode_video(MM.encode_y4m(fr, chroma="444"))
        assert dec.shape == fr.shape and dec.dtype == np.uint8
        assert min_psnr(fr, dec) >= 40.0

    # C420: luma plane untouched by the subsampling -> luma PSNR stays
    # high even where full-RGB PSNR drops (chroma averaged 2x2)
    dec420 = MM.decode_video(MM.encode_y4m(noisy, chroma="420"))
    rgb_psnr = min_psnr(noisy, dec420)
    luma_psnr = min(
        psnr(luma(a).round().clip(0, 255).astype(np.uint8),
             luma(b).round().clip(0, 255).astype(np.uint8))
        for a, b in zip(noisy, dec420)
    )
    assert 15.0 <= rgb_psnr < 35.0, rgb_psnr  # genuinely lossy
    assert luma_psnr >= 40.0, luma_psnr

    # smooth 8x8-block fixtures align with the 2x2 chroma grid -> C420 is
    # near-lossless there (the fixture property the oracle literals rely on)
    dec420s = MM.decode_video(MM.encode_y4m(smooth, chroma="420"))
    assert min_psnr(smooth, dec420s) >= 40.0

    # determinism + sniff + error paths
    assert MM.encode_y4m(noisy, chroma="420") == MM.encode_y4m(noisy, chroma="420")
    assert MM.encode_y4m(smooth)[:9] == b"YUV4MPEG2"
    with pytest.raises(NotImplementedError, match="ffmpeg"):
        MM.decode_video(b"YUV4MPEG2 W4 H4 F25:1 Ip A1:1 C422\nFRAME\n" + b"\x00" * 32)
    with pytest.raises(ValueError):
        MM.decode_video(b"YUV4MPEG2 W32 H32 F25:1 C444\nFRAME\n" + b"\x00" * 10)
    with pytest.raises(ValueError):
        MM.encode_y4m(np.zeros((1, 3, 3, 3), np.uint8), chroma="420")
