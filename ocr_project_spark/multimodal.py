"""Video frame operators: the YUV4MPEG2 (Y4M) codec, timeline frame
sampling and per-frame pixel stats, driven by the ``media_video`` query.

Video rides through the engine as an opaque ``binary`` payload column (the
same pattern as the ``html`` payload column: bytes stay in the DataFrame,
no temp files — SURVEY §2.1 S3). Y4M decodes FOR REAL with numpy alone;
codec containers (mp4 et al.) raise NotImplementedError in strict mode,
and ``decode="fake"`` derives frames from the payload bytes so a SQL
oracle can replay them. Everything is Arrow-batched ``mapInPandas``.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_sha256 string"


Y4M_MAGIC = b"YUV4MPEG2"
# plane-size divisors (w_div, h_div) for the chroma planes per colorspace
_Y4M_CHROMA = {
    b"420": (2, 2),
    b"420jpeg": (2, 2),
    b"420mpeg2": (2, 2),
    b"420paldv": (2, 2),
    b"422": (2, 1),
    b"444": (1, 1),
    b"mono": None,
}


def decode_y4m(
    payload: bytes,
) -> tuple[list[tuple[np.ndarray, bytes]], int, int, tuple[int, int]]:
    """REAL video decode for YUV4MPEG2 (Y4M) — a codec-free container
    (ASCII stream header + ``FRAME`` markers + raw planar YUV), parseable
    with numpy exactly like netpbm. Returns ([(luma_plane(h,w) uint8,
    raw_frame_bytes)], width, height, (fps_num, fps_den)). Supports 4:2:0
    / 4:2:2 / 4:4:4 / mono 8-bit; raises ValueError otherwise."""
    if not payload.startswith(Y4M_MAGIC):
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.index(b"\n")
    params = payload[len(Y4M_MAGIC) : nl].split()
    w = h = None
    num, den = 30, 1
    chroma = b"420jpeg"
    for p in params:
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
        elif p[:1] == b"F":
            num, den = (int(v) for v in p[1:].split(b":"))
        elif p[:1] == b"C":
            chroma = p[1:]
    if not w or not h or den <= 0 or num <= 0:
        raise ValueError("bad Y4M stream header")
    if chroma not in _Y4M_CHROMA:
        raise ValueError(f"unsupported Y4M colorspace C{chroma.decode()}")
    sub = _Y4M_CHROMA[chroma]
    frame_size = w * h
    if sub is not None:
        frame_size += 2 * ((w // sub[0]) * (h // sub[1]))
    frames: list[tuple[np.ndarray, bytes]] = []
    pos = nl + 1
    while pos < len(payload):
        if not payload[pos:].startswith(b"FRAME"):
            raise ValueError("bad Y4M frame marker")
        fnl = payload.index(b"\n", pos)
        start = fnl + 1
        raw = payload[start : start + frame_size]
        if len(raw) < frame_size:
            break  # truncated tail frame: keep the complete ones
        luma = np.frombuffer(raw, dtype=np.uint8, count=w * h).reshape(h, w)
        frames.append((luma, raw))
        pos = start + frame_size
    return frames, w, h, (num, den)


def encode_y4m(
    luma_frames: list[np.ndarray], fps: tuple[int, int] = (10, 1)
) -> bytes:
    """mono luma planes (h, w) uint8 → Y4M bytes, C444 with neutral chroma
    (the test-fixture inverse of :func:`decode_y4m`)."""
    h, w = luma_frames[0].shape
    out = [b"YUV4MPEG2 W%d H%d F%d:%d Ip A1:1 C444\n" % (w, h, *fps)]
    neutral = np.full((h, w), 128, dtype=np.uint8).tobytes()
    for luma in luma_frames:
        out.append(b"FRAME\n")
        out.append(luma.astype(np.uint8).tobytes() + neutral + neutral)
    return b"".join(out)


def _sampled_frame_indices(
    n_frames: int, fps: tuple[int, int], every_ms: int
) -> list[int]:
    """Frame indices at t = 0, every_ms, 2·every_ms, … (deduplicated,
    clipped to the stream): idx = floor(t · fps / 1000)."""
    if every_ms <= 0:
        raise ValueError("every_ms must be positive")
    num, den = fps
    out: list[int] = []
    k = 0
    while True:
        idx = (k * every_ms * num) // (1000 * den)
        if idx >= n_frames:
            break
        if not out or idx != out[-1]:
            out.append(idx)
        k += 1
    return out


def sample_frames(
    media: DataFrame, every_ms: int = 1000, decode: str = "strict"
) -> DataFrame:
    """video → 1→N frame sample rows (explode shape, like doc→pages D1).

    Strict mode decodes YUV4MPEG2 FOR REAL (:func:`decode_y4m`): the frame
    count and rate come from the container, one frame is sampled per
    ``every_ms`` of timeline, and ``frame_sha256`` is the content hash of
    the sampled frame's raw plane bytes. Codec-requiring containers (mp4
    et al.) raise NotImplementedError — the honest posture until a codec
    dependency lands. In ``fake`` mode the frame count derives from
    ``meta.duration_ms`` and each frame id is a digest of payload + index
    (a pure byte-level function a SQL oracle can replay)."""
    if decode not in ("strict", "fake"):
        raise ValueError(f"unknown decode mode: {decode}")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload, duration in zip(
                pdf["media_id"], pdf["payload"], pdf["duration_ms"]
            ):
                data = bytes(payload)
                if decode == "strict":
                    if not data.startswith(Y4M_MAGIC):
                        raise NotImplementedError(
                            "this video container requires a codec library "
                            "on the executors; YUV4MPEG2 decodes natively, "
                            "or use decode='fake' for the stand-in"
                        )
                    frames, _w, _h, fps = decode_y4m(data)
                    for idx in _sampled_frame_indices(len(frames), fps, every_ms):
                        rows.append(
                            {
                                "media_id": int(media_id),
                                "frame_idx": idx,
                                "frame_sha256": hashlib.sha256(
                                    frames[idx][1]
                                ).hexdigest(),
                            }
                        )
                    continue
                if pd.isna(duration):
                    # meta.duration_ms is nullable (Arrow hands a
                    # NULL to pandas as NaN) — int(NaN) would kill the batch
                    duration = 0
                n_frames = max(int(duration) // every_ms, 1)
                for i in range(n_frames):
                    # ASCII frame suffix: a pure byte-level function that a
                    # SQL differential oracle can replay (sha256(payload ||
                    # '#frame-' || i)) when the payload is valid text
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "frame_idx": i,
                            "frame_sha256": hashlib.sha256(
                                data + b"#frame-%d" % i
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "frame_idx", "frame_sha256"]
            )

    return media.select(
        "media_id", "payload", F.col("meta.duration_ms").alias("duration_ms")
    ).mapInPandas(_batches, schema=FRAME_SAMPLE_SCHEMA)


FRAME_STATS_SCHEMA = (
    "media_id long, frame_idx long, width long, height long, luma_sum long"
)


def frame_pixel_stats(
    media: DataFrame, every_ms: int = 1000, decode: str = "strict"
) -> DataFrame:
    """video → exact per-sampled-frame (width, height, Σ luma) — the
    blank/black-frame gate of a video training pipeline, and the integer
    surface that makes the real Y4M decode differentially checkable (the
    ``media_video`` query's y4m rows plant luma values that are a pure SQL
    function of id and frame index, so the oracle replays header parse +
    plane walk + sampling arithmetic exactly)."""
    if decode != "strict":
        raise ValueError("frame_pixel_stats is a strict-decode operator")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                frames, w, h, fps = decode_y4m(bytes(payload))
                for idx in _sampled_frame_indices(len(frames), fps, every_ms):
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "frame_idx": idx,
                            "width": w,
                            "height": h,
                            "luma_sum": int(frames[idx][0].astype(np.int64).sum()),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "width", "height", "luma_sum"],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=FRAME_STATS_SCHEMA
    )


def synthesize_y4m_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic Y4M fixture payloads from an id column: w = 8 + id%24,
    h = 6 + (id//5)%18, n_frames = 2 + id%4 at 10 fps, luma(x,y,t) =
    (id + x + 2y + 3t) mod 256 — every decoded quantity is a pure integer
    function of the id so the ``media_video`` oracle replays the real decode
    in SQL."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw_id in pdf[id_col]:
                i = int(raw_id)
                w = 8 + i % 24
                h = 6 + (i // 5) % 18
                n_frames = 2 + i % 4
                base = i + np.arange(w)[None, :] + 2 * np.arange(h)[:, None]
                frames = [
                    ((base + 3 * t) % 256).astype(np.uint8) for t in range(n_frames)
                ]
                rows.append(
                    {"media_id": i, "payload": encode_y4m(frames, fps=(10, 1))}
                )
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return ids.select(id_col).mapInPandas(
        _batches, schema="media_id long, payload binary"
    )

