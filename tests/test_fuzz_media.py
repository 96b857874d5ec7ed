"""Property/fuzz coverage for the dependency-free media decoders
(operators/multimodal.py): at corpus scale these run over UNTRUSTED
bytes, so the contract is (a) encode→decode roundtrips exactly for every
supported shape, and (b) arbitrary or mutated bytes either decode or
raise the CURATED error types (ValueError / NotImplementedError) — never
a leaking struct.error / IndexError / ZeroDivisionError that would kill
a corpus job with an unattributable traceback (the resilient-read stance
the feature extractors' decode_error columns rely on: they catch
Exception, but the ERROR TEXT must name the format problem, not a numpy
internals frame).

Pure driver-side (no SparkSession): the decoders are plain functions;
their Spark face is covered in test_multimodal.py.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from pcap_converter_spark.operators import multimodal as mm

CURATED = (ValueError, NotImplementedError)


# ---------------------------------------------------------------------------
# roundtrip properties
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ch=st.sampled_from([1, 3, 4]),
    seed=st.integers(0, 2**16),
)
def test_bmp_roundtrip_property(h, w, ch, seed):
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    got = mm.decode_bmp(mm.encode_bmp(a))
    if ch == 1:
        # the encoder widens grayscale to RGB; decode returns the
        # replicated channels
        assert got.shape == (h, w, 3)
        assert np.array_equal(got, np.repeat(a, 3, axis=2))
    else:
        assert np.array_equal(got, a)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(0, 4000),
    ch=st.integers(1, 4),
    rate=st.sampled_from([8000, 16000, 44100]),
    seed=st.integers(0, 2**16),
)
def test_wav_roundtrip_property(n, ch, rate, seed):
    rng = np.random.default_rng(seed)
    a = (rng.random((n, ch)) * 2 - 1) * 0.9
    got, r = mm.decode_wav(mm.encode_wav(a, rate))
    assert r == rate and got.shape == (n, ch)
    assert np.allclose(got, a, atol=2 / 32767)


@settings(max_examples=30, deadline=None)
@given(
    k=st.integers(1, 6),
    h=st.integers(1, 24),
    w=st.integers(1, 24),
    cs=st.sampled_from(["mono", "420"]),
    seed=st.integers(0, 2**16),
)
def test_y4m_roundtrip_property(k, h, w, cs, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (h, w), dtype=np.uint8) for _ in range(k)]
    got, info = mm.decode_y4m(mm.encode_y4m(frames, fps=25, colorspace=cs))
    assert info["n_frames"] == k and (info["height"], info["width"]) == (h, w)
    assert all(np.array_equal(a, b) for a, b in zip(got, frames))


@settings(max_examples=30, deadline=None)
@given(
    k=st.integers(1, 12),
    m=st.integers(1, 12),
    seed=st.integers(0, 2**16),
)
def test_y4m_sampling_is_even_and_bounded(k, m, seed):
    """max_frames=m returns min(k, m) frames at the even-spacing indices,
    first frame always included."""
    rng = np.random.default_rng(seed)
    frames = [
        np.full((4, 4), rng.integers(0, 256), dtype=np.uint8)
        for _ in range(k)
    ]
    got, _ = mm.decode_y4m(mm.encode_y4m(frames, 25), max_frames=m)
    n = min(k, m)
    assert len(got) == n
    if m < k:
        exp = [round(i * (k - 1) / (m - 1)) if m > 1 else 0 for i in range(m)]
        assert [g[0, 0] for g in got] == [frames[i][0, 0] for i in exp]
    assert np.array_equal(got[0], frames[0])


# ---------------------------------------------------------------------------
# junk / mutation robustness: curated errors only
# ---------------------------------------------------------------------------


@settings(max_examples=120, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_decoders_curate_random_bytes(data):
    for dec in (mm.decode_bmp, mm.decode_wav, mm.decode_y4m, mm.decode_image):
        try:
            dec(data)
        except CURATED:
            pass  # the contract: a NAMED format error


def _mutate(valid: bytes, cut: int, flip_at: int, flip_to: int) -> bytes:
    b = bytearray(valid[: max(1, cut % (len(valid) + 1))])
    if b:
        b[flip_at % len(b)] = flip_to
    return bytes(b)


@settings(max_examples=120, deadline=None)
@given(
    cut=st.integers(0, 1 << 20),
    flip_at=st.integers(0, 1 << 20),
    flip_to=st.integers(0, 255),
    seed=st.integers(0, 2**8),
)
def test_bmp_mutations_curated(cut, flip_at, flip_to, seed):
    rng = np.random.default_rng(seed)
    valid = mm.encode_bmp(rng.integers(0, 256, (9, 7, 3), dtype=np.uint8))
    try:
        mm.decode_bmp(_mutate(valid, cut, flip_at, flip_to))
    except CURATED:
        pass


@settings(max_examples=120, deadline=None)
@given(
    cut=st.integers(0, 1 << 20),
    flip_at=st.integers(0, 1 << 20),
    flip_to=st.integers(0, 255),
    seed=st.integers(0, 2**8),
)
def test_wav_mutations_curated(cut, flip_at, flip_to, seed):
    rng = np.random.default_rng(seed)
    valid = mm.encode_wav(rng.random(200) * 2 - 1, 8000)
    try:
        mm.decode_wav(_mutate(valid, cut, flip_at, flip_to))
    except CURATED:
        pass


@settings(max_examples=120, deadline=None)
@given(
    cut=st.integers(0, 1 << 20),
    flip_at=st.integers(0, 1 << 20),
    flip_to=st.integers(0, 255),
    seed=st.integers(0, 2**8),
)
def test_y4m_mutations_curated(cut, flip_at, flip_to, seed):
    rng = np.random.default_rng(seed)
    frames = [rng.integers(0, 256, (6, 8), dtype=np.uint8) for _ in range(3)]
    valid = mm.encode_y4m(frames, fps=25)
    try:
        mm.decode_y4m(_mutate(valid, cut, flip_at, flip_to))
    except CURATED:
        pass


def test_bmp_short_palette_is_clamped_not_fatal():
    """biClrUsed < 256 with pixel indices beyond it: undefined per the
    format — clamp like mainstream decoders (an IndexError here would be
    the exact leak class this file polices)."""
    g = np.array([[0, 5, 15, 200]], dtype=np.uint8)  # index 200 > 16 entries
    stride8 = ((4 * 8 + 31) // 32) * 4
    n_pal = 16
    pal = b"".join(bytes([i * 10, i * 10, i * 10, 0]) for i in range(n_pal))
    rows8 = np.zeros((1, stride8), dtype=np.uint8)
    rows8[0, :4] = g
    pix = rows8.tobytes()
    off = 14 + 40 + len(pal)
    hdr = struct.pack("<2sIHHI", b"BM", off + len(pix), 0, 0, off) + struct.pack(
        "<IiiHHIIiiII", 40, 4, 1, 1, 8, 0, len(pix), 2835, 2835, n_pal, 0
    )
    got = mm.decode_bmp(hdr + pal + pix)
    assert got.shape == (1, 4, 1)
    # clamped to the last palette entry (15*10), not an IndexError
    assert got[0, 3, 0] == 150 and got[0, 1, 0] == 50


def test_wav_truncated_data_chunk_raises_not_shortens():
    """r15 review: a data chunk declaring more bytes than present must
    raise (a half-uploaded WAV used to decode CLEANLY to a shorter clip
    — silently wrong duration/rms/band features); the 0xFFFFFFFF
    streaming-writer sentinel still means rest-of-file."""
    rng = np.random.default_rng(3)
    wav = mm.encode_wav(rng.random(500) * 2 - 1, 8000)
    with pytest.raises(ValueError, match="truncated WAV"):
        mm.decode_wav(wav[:-100])

    lying = bytearray(wav)
    # data chunk size field sits right before the samples (44-byte header)
    struct.pack_into("<I", lying, 40, 10_000_000)
    with pytest.raises(ValueError, match="truncated WAV"):
        mm.decode_wav(bytes(lying))

    streaming = bytearray(wav)
    struct.pack_into("<I", streaming, 40, 0xFFFFFFFF)
    a, r = mm.decode_wav(bytes(streaming))
    assert r == 8000 and a.shape == (500, 1)


def test_y4m_deep_bit_depth_named_unsupported():
    """r15 review: C420p10 stores 2 bytes/sample — the 8-bit frame-size
    math would de-sync the walk and misreport a VALID file as corrupt;
    the raise now names the actual limitation. 8-bit suffix variants
    (420jpeg/420mpeg2/420paldv) keep decoding."""
    with pytest.raises(ValueError, match="bit depth"):
        mm.decode_y4m(b"YUV4MPEG2 W4 H4 F25:1 C420p10\nFRAME\n" + bytes(48))
    rng = np.random.default_rng(5)
    frames = [rng.integers(0, 256, (4, 4), dtype=np.uint8)]
    enc = mm.encode_y4m(frames, 25, colorspace="420jpeg")
    got, info = mm.decode_y4m(enc)
    assert info["colorspace"] == "420jpeg"
    assert np.array_equal(got[0], frames[0])


def test_y4m_file_face_accepts_long_headers(tmp_path):
    """r15 review: the file face's fixed-size header reads rejected valid
    clips with long parameter lists that the bytes face accepts; both
    faces must agree."""
    rng = np.random.default_rng(7)
    frames = [rng.integers(0, 256, (6, 8), dtype=np.uint8) for _ in range(3)]
    enc = bytearray(mm.encode_y4m(frames, 25))
    # stretch the stream header past 256 bytes and each FRAME header past
    # 80 with legal unknown parameters (decoders must skip them)
    long_param = b" X" + b"q" * 300
    nl = enc.index(b"\n")
    enc[nl:nl] = long_param
    out = bytes(enc).replace(b"FRAME\n", b"FRAME" + long_param + b"\n")
    via_bytes, info_b = mm.decode_y4m(out, max_frames=2)
    p = tmp_path / "long.y4m"
    p.write_bytes(out)
    via_file, info_f = mm.decode_y4m_file(str(p), max_frames=2)
    assert info_b == info_f and info_b["n_frames"] == 3
    assert all(np.array_equal(a, b) for a, b in zip(via_bytes, via_file))

    # a stream header past 4,096 bytes: the bytes face sets no cap, so
    # the file face must not either
    huge = bytearray(mm.encode_y4m(frames, 25))
    huge[nl:nl] = b" X" + b"q" * 5000
    via_bytes, info_b = mm.decode_y4m(bytes(huge), max_frames=2)
    p.write_bytes(bytes(huge))
    via_file, info_f = mm.decode_y4m_file(str(p), max_frames=2)
    assert info_b == info_f and info_b["n_frames"] == 3
    assert all(np.array_equal(a, b) for a, b in zip(via_bytes, via_file))


# ---------------------------------------------------------------------------
# audio spectral signatures (r16)
# ---------------------------------------------------------------------------


@settings(max_examples=30, deadline=None)
@given(
    n=st.integers(0, 3000),
    seed=st.integers(0, 2**16),
)
def test_spectral_sig_total_and_reencode_stable(n, seed):
    """_spectral_sig_of is total over any window length (including empty
    and shorter-than-64-bins windows), and stable across a PCM16
    quantize-requantize of shaped noise — the re-encode robustness the
    audio near-dup tier stands on."""
    rng = np.random.default_rng(seed)
    w = rng.standard_normal(n) if n else np.zeros(0)
    if n:
        w = 0.8 * w / (np.abs(w).max() + 1e-300)
    sig = mm._spectral_sig_of(w)
    assert isinstance(sig, int) and -(2**63) <= sig < 2**63
    # PCM16 round-trip of the same window: quantization noise must not
    # move the signature by more than a couple of near-median bits
    q = np.round(w * 32767.0) / 32767.0
    dist = bin((sig ^ mm._spectral_sig_of(q)) & ((1 << 64) - 1)).count("1")
    assert dist <= 2


@settings(max_examples=30, deadline=None)
@given(data=st.binary(min_size=0, max_size=300))
def test_audio_sig_face_curates_random_bytes(data):
    """The signature extractor's decode step obeys the curated-error
    contract on arbitrary bytes (its Spark face catches Exception but
    the text must name the format problem)."""
    try:
        mm.decode_wav(data)
    except CURATED:
        pass


# ---------------------------------------------------------------------------
# PNG (r16)
# ---------------------------------------------------------------------------


@settings(max_examples=40, deadline=None)
@given(
    h=st.integers(1, 40),
    w=st.integers(1, 40),
    ch=st.sampled_from([1, 2, 3, 4]),
    filt=st.integers(0, 5),  # 5 = a random per-row mix
    seed=st.integers(0, 2**16),
)
def test_png_roundtrip_property(h, w, ch, filt, seed):
    """encode→decode is exact for every supported geometry and EVERY
    scanline filter type (None/Sub/Up/Average/Paeth, plus a per-row
    mix) — the un-filtering math is where a PNG decoder goes subtly
    wrong, so the roundtrip pins all five."""
    rng = np.random.default_rng(seed)
    a = rng.integers(0, 256, (h, w, ch), dtype=np.uint8)
    f = [int(x) for x in rng.integers(0, 5, h)] if filt == 5 else filt
    assert np.array_equal(mm.decode_png(mm.encode_png(a, filters=f)), a)


@settings(max_examples=120, deadline=None)
@given(
    cut=st.integers(0, 1 << 20),
    flip_at=st.integers(0, 1 << 20),
    flip_to=st.integers(0, 255),
    seed=st.integers(0, 2**8),
)
def test_png_mutations_curated(cut, flip_at, flip_to, seed):
    rng = np.random.default_rng(seed)
    valid = mm.encode_png(rng.integers(0, 256, (9, 7, 3), dtype=np.uint8))
    try:
        mm.decode_png(_mutate(valid, cut, flip_at, flip_to))
    except CURATED:
        pass


def test_png_unsupported_variants_named():
    """Palette, 16-bit, and interlaced PNGs raise ValueError NAMING the
    feature (the curated contract — PIL covers them when installed);
    truncated chunk declarations and corrupt zlib streams are named
    too, never a struct/zlib traceback."""
    import struct
    import zlib

    sig = b"\x89PNG\r\n\x1a\n"

    def chunk(tag, body):
        return (
            struct.pack(">I", len(body)) + tag + body
            + struct.pack(">I", zlib.crc32(tag + body))
        )

    def hdr(depth, ctype, interlace=0):
        return chunk(
            b"IHDR",
            struct.pack(">IIBBBBB", 1, 1, depth, ctype, 0, 0, interlace),
        )

    dat = chunk(b"IDAT", zlib.compress(b"\x00\x01"))
    end = chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth 16"):
        mm.decode_png(sig + hdr(16, 0) + dat + end)
    with pytest.raises(ValueError, match="palette"):
        mm.decode_png(sig + hdr(8, 3) + dat + end)
    with pytest.raises(ValueError, match="interlace"):
        mm.decode_png(sig + hdr(8, 0, 1) + dat + end)
    with pytest.raises(ValueError, match="truncated PNG"):
        mm.decode_png(sig + struct.pack(">I", 999) + b"IDATxxxx")
    bad_z = chunk(b"IDAT", b"\x00not zlib at all")
    with pytest.raises(ValueError, match="zlib"):
        mm.decode_png(sig + hdr(8, 0) + bad_z + end)
    # declared length exceeding the decompressed stream is a named error
    short = chunk(b"IDAT", zlib.compress(b"\x00"))
    with pytest.raises(ValueError, match="length mismatch"):
        mm.decode_png(sig + hdr(8, 2) + short + end)
