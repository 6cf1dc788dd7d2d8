"""Video frame operators: the real Y4M container decode, the timeline
sampling arithmetic, and the strict/fake decode gate of the Spark
operators the ``media_video`` query drives.
"""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_project_spark.multimodal import sample_frames

MEDIA_DDL = (
    "media_id long, payload binary, "
    "meta struct<mime string, width int, height int, duration_ms int>"
)


@pytest.fixture(scope="module")
def media(spark):
    """Fake-decode video rows: payload bytes and duration are pure
    functions of media_id."""
    rows = [
        (
            i,
            bytearray(hashlib.sha256(f"media-{i}".encode()).digest() * (1 + i % 7)),
            ("application/octet-stream", None, None, 500 + 700 * (i % 5)),
        )
        for i in range(24)
    ]
    return spark.createDataFrame(rows, MEDIA_DDL).cache()


def test_frame_sampling_explode(media):
    frames = sample_frames(media, every_ms=500, decode="fake")
    per_media = {
        r["media_id"]: r["n"]
        for r in frames.groupBy("media_id").agg(F.count("*").alias("n")).collect()
    }
    durations = {r["media_id"]: r["meta"]["duration_ms"] for r in media.collect()}
    assert per_media.keys() == durations.keys()
    for mid, n in per_media.items():
        assert n == max(durations[mid] // 500, 1)
    # frame ids unique and deterministic
    ids = [r["frame_sha256"] for r in frames.collect()]
    assert len(ids) == len(set(ids))


def _luma_frames(n, h, w, seed=3):
    import numpy as np

    base = seed + np.arange(w)[None, :] + 2 * np.arange(h)[:, None]
    return [((base + 3 * t) % 256).astype(np.uint8) for t in range(n)]


def test_y4m_roundtrip():
    import numpy as np

    from ocr_project_spark.multimodal import decode_y4m, encode_y4m

    frames = _luma_frames(4, 12, 16)
    decoded, w, h, fps = decode_y4m(encode_y4m(frames, fps=(25, 1)))
    assert (w, h, fps) == (16, 12, (25, 1))
    assert len(decoded) == 4
    for (luma, raw), orig in zip(decoded, frames):
        assert np.array_equal(luma, orig)


def test_y4m_truncated_tail_frame_dropped():
    from ocr_project_spark.multimodal import decode_y4m, encode_y4m

    payload = encode_y4m(_luma_frames(3, 8, 8))
    decoded, *_ = decode_y4m(payload[:-10])  # cut into the last frame
    assert len(decoded) == 2


def test_frame_sampling_arithmetic():
    from ocr_project_spark.multimodal import _sampled_frame_indices

    # 30 fps, 1 s sampling → frames 0, 30, 60
    assert _sampled_frame_indices(75, (30, 1), 1000) == [0, 30, 60]
    # sampling faster than the frame rate dedups to every frame
    assert _sampled_frame_indices(3, (10, 1), 10) == [0, 1, 2]
    # NTSC-style fractional rate
    assert _sampled_frame_indices(90, (30000, 1001), 1000) == [0, 29, 59, 89]


def test_sample_frames_strict_real_y4m(spark):
    import hashlib

    from ocr_project_spark.multimodal import encode_y4m, sample_frames

    frames = _luma_frames(5, 10, 14)
    payload = encode_y4m(frames, fps=(10, 1))
    media = spark.createDataFrame(
        [(7, bytearray(payload), ("video/x-y4m", None, None, None))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms int>",
    )
    out = sample_frames(media, every_ms=100, decode="strict").collect()
    assert [r["frame_idx"] for r in sorted(out, key=lambda r: r["frame_idx"])] == list(range(5))
    # content hash = sha256 of the frame's raw plane bytes, recomputed here
    neutral = b"\x80" * (10 * 14)
    for r in out:
        expect = hashlib.sha256(
            frames[r["frame_idx"]].tobytes() + neutral + neutral
        ).hexdigest()
        assert r["frame_sha256"] == expect


def test_sample_frames_strict_rejects_codec_containers(spark):
    import pytest as _pytest

    from ocr_project_spark.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, bytearray(b"\x00\x00\x00\x20ftypisom fake-mp4"), ("video/mp4", None, None, 2000))],
        "media_id long, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms int>",
    )
    with _pytest.raises(Exception, match="codec library"):
        sample_frames(media, decode="strict").collect()


def test_frame_pixel_stats_matches_planted_formula(spark):
    import numpy as np

    from ocr_project_spark.multimodal import frame_pixel_stats, synthesize_y4m_media

    ids = spark.createDataFrame([(i,) for i in range(0, 30, 3)], "doc_id long")
    out = frame_pixel_stats(
        synthesize_y4m_media(ids), every_ms=100, decode="strict"
    ).collect()
    seen = set()
    for r in out:
        i, t = r["media_id"], r["frame_idx"]
        w, h = 8 + i % 24, 6 + (i // 5) % 18
        base = i + np.arange(w)[None, :] + 2 * np.arange(h)[:, None]
        assert (r["width"], r["height"]) == (w, h)
        assert r["luma_sum"] == int(((base + 3 * t) % 256).sum())
        seen.add((i, t))
    for i in range(0, 30, 3):
        assert sum(1 for a, _ in seen if a == i) == 2 + i % 4


def test_frame_sampling_rejects_nonpositive_interval():
    from ocr_project_spark.multimodal import _sampled_frame_indices

    with pytest.raises(ValueError, match="positive"):
        _sampled_frame_indices(10, (30, 1), 0)
