"""Print the schema, row count and a sorted-row SHA-256 of every public
multimodal extractor, run on the inputs of tests/test_multimodal.py, as
JSON.

    PYTHONPATH=<tree> python plans/perf/pr19/dump_extractors.py OUT.json WORKDIR

WORKDIR receives the y4m files of the path face; use the same directory
for every tree compared, since a missing file's error text holds its path.
"""
import hashlib
import json
import os
import struct
import sys

import numpy as np
from pyspark.sql import SparkSession

from pcap_converter_spark.operators import multimodal as mm
from pcap_converter_spark.session import apply_runtime_confs

out_path, work = sys.argv[1], sys.argv[2]
os.makedirs(work, exist_ok=True)
spark = (
    SparkSession.builder.master("local[2]")
    .config("spark.driver.memory", "2g")
    .config("spark.sql.shuffle.partitions", "4")
    .getOrCreate()
)
apply_runtime_confs(spark)
spark.sparkContext.setLogLevel("ERROR")


def frame(rows, id_col="doc_id"):
    return spark.createDataFrame(
        [(i, bytearray(p)) for i, p in rows], f"{id_col} long, payload binary"
    )


def top_down(bmp: bytes, h: int, w: int) -> bytes:
    b = bytearray(bmp)
    struct.pack_into("<i", b, 22, -h)
    off = struct.unpack_from("<I", b, 10)[0]
    stride = ((w * 24 + 31) // 32) * 4
    rows = np.frombuffer(bytes(b[off:off + stride * h]), np.uint8)
    b[off:off + stride * h] = rows.reshape(h, stride)[::-1].tobytes()
    return bytes(b)


# --- images (test_image_features_and_errors, _ahash_sees_pixels, _png_...,
# _phash_catches_tone_curve) --------------------------------------------
rng = np.random.default_rng(3)
img_rows = [
    (0, mm.encode_bmp(rng.integers(0, 256, (16, 24, 3), dtype=np.uint8))),
    (1, mm.encode_bmp(np.full((8, 8, 3), 200, dtype=np.uint8))),
    (2, b"\x89PNG not really"),
]
rng = np.random.default_rng(11)
base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
edited = base.copy()
edited[:4, :4] = 255 - edited[:4, :4]
other = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
img_rows += [
    (10, mm.encode_bmp(base)), (11, top_down(mm.encode_bmp(base), 32, 32)),
    (12, mm.encode_bmp(edited)), (13, mm.encode_bmp(other)),
    (14, b"not an image"),
]
rng = np.random.default_rng(19)
base = rng.integers(0, 256, (32, 32, 3), dtype=np.uint8)
img_rows += [
    (20, mm.encode_bmp(base)), (21, mm.encode_png(base)),
    (22, mm.encode_png(rng.integers(0, 256, (32, 32, 3), dtype=np.uint8))),
]
tone = np.clip(np.linspace(0.3, 0.7, 64 * 64).reshape(64, 64), 0, 1)
tone[:16, :16] = 0.95
for i, f in enumerate((tone, np.clip(tone + 0.15, 0, 1))):
    img_rows.append(
        (30 + i, mm.encode_png((f * 255).astype(np.uint8)[:, :, None].repeat(3, 2)))
    )
images = frame(img_rows)
junk_only = frame([(0, b"junk"), (1, b"\x89PNG")])

# --- audio (test_audio_features_spectral_shape, _audio_neardup_pairs) ----
rate = 8000
t = np.arange(rate) / rate
rng = np.random.default_rng(5)
aud_rows = [
    (0, mm.encode_wav(0.5 * np.sin(2 * np.pi * 100 * t), rate)),
    (1, mm.encode_wav(0.5 * np.sin(2 * np.pi * 3900 * t), rate)),
    (2, mm.encode_wav(0.3 * (rng.random(rate) * 2 - 1), rate)),
    (3, b"not audio at all"),
]
t = np.arange(2000) / rate


def seg(freq, seed):
    noise = np.random.default_rng(seed).standard_normal(2000)
    return 0.15 * noise / np.abs(noise).max() + 0.5 * np.sin(2 * np.pi * freq * t)


freqs = [200, 500, 900, 1400, 2000, 2600, 3200, 3700]
segs = [seg(f, i) for i, f in enumerate(freqs)]
clip = np.concatenate(segs)
aud_rows += [
    (10, mm.encode_wav(clip, rate)),
    (11, mm.encode_wav(clip, rate, fmt="float32")),
    (12, mm.encode_wav(np.concatenate(
        segs[:2] + [seg(f + 150, 100 + i) for i, f in enumerate(freqs[2:])]
    ), rate)),
    (13, mm.encode_wav(np.concatenate(
        [seg(f + 70, 200 + i) for i, f in enumerate(freqs)]
    ), rate)),
    (14, b"not audio at all"),
]
audio = frame(aud_rows)

# --- video (test_video_features_and_temporal_neardup, _neardup_pairs,
# _at_paths) -------------------------------------------------------------
rng = np.random.default_rng(9)
base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
moving = [np.roll(base, 3 * i, axis=1) for i in range(12)]
vid_rows = [
    (0, mm.encode_y4m(moving, fps=6)),
    (1, mm.encode_y4m(moving, fps=6, colorspace="420")),
    (2, mm.encode_y4m([base] * 12, fps=6)),
    (3, mm.encode_y4m(
        [rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(12)], fps=6
    )),
    (4, b"definitely not video"),
]
rng = np.random.default_rng(23)
base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
moving = [np.roll(base, 5 * i, axis=1) for i in range(12)]
partial = moving[:3] + [
    rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(9)
]
vid_rows += [
    (10, mm.encode_y4m(moving, fps=6)),
    (11, mm.encode_y4m(moving, fps=6, colorspace="420")),
    (12, mm.encode_y4m(partial, fps=6)),
    (13, mm.encode_y4m(
        [rng.integers(0, 256, (24, 32), dtype=np.uint8) for _ in range(12)], fps=6
    )),
    (14, mm.encode_y4m([base] * 12, fps=6)),
]
video = frame(vid_rows)
video_clip_id = frame(vid_rows[5:], id_col="clip_id")

rng = np.random.default_rng(31)
base = rng.integers(0, 256, (24, 32), dtype=np.uint8)
files = {
    "clip0.y4m": mm.encode_y4m([np.roll(base, 3 * i, axis=1) for i in range(12)], fps=6),
    "clip1.y4m": mm.encode_y4m(
        [rng.integers(0, 256, (16, 16), dtype=np.uint8) for _ in range(5)], fps=6
    ),
    "junk.y4m": b"not video",
    "cut.y4m": mm.encode_y4m([base] * 3, fps=6)[:-5],
    "empty.y4m": b"",
}
long_param = b" X" + b"q" * 300
enc = bytearray(mm.encode_y4m([base] * 3, 25))
enc[enc.index(b"\n"):enc.index(b"\n")] = long_param
files["long.y4m"] = bytes(enc).replace(b"FRAME\n", b"FRAME" + long_param + b"\n")
for name, data in files.items():
    with open(os.path.join(work, name), "wb") as f:
        f.write(data)
names = sorted(files) + ["missing.y4m"]
paths = spark.createDataFrame(
    [(i, os.path.join(work, n)) for i, n in enumerate(names)],
    "doc_id long, path string",
)

docs = mm.attach_payload(spark.createDataFrame(
    [(0, "hello world"), (1, "aaaa"), (2, ""), (3, "x" * 300)], ["doc_id", "text"]
))

RESULTS = {
    "attach_payload": lambda: docs,
    "byte_histogram_features": lambda: mm.byte_histogram_features(docs),
    "payload_blockhash": lambda: mm.payload_blockhash(images),
    "media_neardup_pairs": lambda: mm.media_neardup_pairs(images),
    "sample_frames": lambda: mm.sample_frames(docs, frame_bytes=64, max_frames=4),
    "image_features": lambda: mm.image_features(images),
    "image_ahash": lambda: mm.image_ahash(images),
    "image_ahash_all_undecodable": lambda: mm.image_ahash(junk_only),
    "image_phash": lambda: mm.image_phash(images),
    "image_neardup_pairs_ahash": lambda: mm.image_neardup_pairs(images),
    "image_neardup_pairs_phash": lambda: mm.image_neardup_pairs(images, method="phash"),
    "audio_features": lambda: mm.audio_features(audio),
    "audio_spectral_sigs": lambda: mm.audio_spectral_sigs(audio, max_windows=8),
    "audio_neardup_pairs_min3": lambda: mm.audio_neardup_pairs(
        audio, max_windows=8, min_matching_windows=3),
    "audio_neardup_pairs_min1": lambda: mm.audio_neardup_pairs(
        audio, max_windows=8, min_matching_windows=1),
    "video_features": lambda: mm.video_features(video, max_frames=4),
    "video_features_all_frames": lambda: mm.video_features(video, max_frames=0),
    "video_features_at_paths": lambda: mm.video_features_at_paths(paths, max_frames=4),
    "video_neardup_pairs": lambda: mm.video_neardup_pairs(
        video, max_frames=4, min_matching_frames=3),
    "video_neardup_pairs_clip_id": lambda: mm.video_neardup_pairs(
        video_clip_id, id_col="clip_id", max_frames=4, min_matching_frames=3),
}

out = {}
for name, build in RESULTS.items():
    df = build()
    rows = sorted(repr(tuple(r)) for r in df.collect())
    out[name] = {
        "schema": [(f.name, f.dataType.simpleString(), f.nullable)
                   for f in df.schema.fields],
        "rows": len(rows),
        "sha256": hashlib.sha256("\n".join(rows).encode()).hexdigest(),
    }
    print(name, len(rows), file=sys.stderr, flush=True)
with open(out_path, "w") as f:
    json.dump(out, f, indent=1, sort_keys=True)
spark.stop()
