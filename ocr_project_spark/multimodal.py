"""Multimodal column operators for the training-data pipeline.

Images / audio / video ride through the engine as opaque ``binary`` columns
with typed metadata structs (the same pattern as the ``html`` payload column:
bytes stay in the DataFrame, no temp files — SURVEY §2.1 S3). The Spark-side
plumbing — schemas, Arrow batch shapes, ``mapInPandas`` signatures,
partitioning behavior — is real and tested. Decode has three tiers:

- binary netpbm (P6 RGB / P5 gray), 8-bit non-interlaced PNG, RIFF/WAVE
  PCM audio, and YUV4MPEG2 video decode FOR REAL in ``decode=\"strict\"``
  mode — stdlib + numpy only, no codec library needed — feeding genuine
  dimensions/pixels/samples;
- the remaining codec formats (JPEG/WebP/AVIF/GIF, compressed audio, mp4)
  raise NotImplementedError in strict mode (the honest production posture
  until a codec dependency lands on the executors);
- ``decode=\"fake\"`` is a deterministic pure function of the payload bytes
  (stable across executors/runs), which keeps every downstream operator —
  feature extraction, resize bookkeeping, frame sampling, dedup joins —
  fully exercisable at full scale for any format.

Everything is Arrow-batched ``mapInPandas``; per-row work happens inside the
batch loop on the executor, never at the DataFrame level.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("duration_ms", T.IntegerType()),
                ]
            ),
        ),
    ]
)

IMAGE_FEATURE_SCHEMA = (
    "media_id long, width int, height int, n_tiles_w int, n_tiles_h int, "
    "n_tokens int, sha256 string, feature array<float>"
)

FRAME_SAMPLE_SCHEMA = "media_id long, frame_idx int, frame_sha256 string"

FEATURE_DIM = 16


PPM_MAGIC = b"P6"
PGM_MAGIC = b"P5"


def decode_netpbm(payload: bytes) -> np.ndarray:
    """REAL image decode for the binary netpbm formats (P6 RGB / P5 gray) —
    parseable with numpy alone, no codec library. Returns (h, w, 3) uint8.
    Raises ValueError for anything else (JPEG/PNG/… need a codec dependency
    on the executors — the strict-mode NotImplementedError path)."""
    magic = payload[:2]
    if magic not in (PPM_MAGIC, PGM_MAGIC):
        raise ValueError(f"not a binary netpbm payload (magic {magic!r})")
    # header: magic, whitespace/comment-separated width height maxval, then
    # ONE whitespace byte, then raw samples
    pos = 2
    fields: list[int] = []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":  # comment to end of line
            pos = payload.index(b"\n", pos) + 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # the single whitespace after maxval
    width, height, maxval = fields
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    channels = 3 if magic == PPM_MAGIC else 1
    n = width * height * channels
    pix = np.frombuffer(payload, dtype=np.uint8, count=n, offset=pos)
    img = pix.reshape(height, width, channels)
    if channels == 1:
        img = np.repeat(img, 3, axis=2)
    return img


def encode_ppm(img: np.ndarray) -> bytes:
    """(h, w, 3) uint8 → binary PPM bytes (the test-fixture inverse)."""
    h, w, _ = img.shape
    return b"P6\n%d %d\n255\n" % (w, h) + img.astype(np.uint8).tobytes()


PNG_MAGIC = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type: gray, RGB, palette, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def decode_png(payload: bytes) -> np.ndarray:
    """REAL PNG decode for 8-bit gray / gray+alpha / RGB / RGBA / palette,
    non-interlaced — stdlib ``zlib`` inflate + per-scanline unfiltering
    (all five PNG filter types), no codec library needed. PNG is what a
    real crawl corpus actually contains, so strict mode must not bail on
    it. Returns (h, w, 3) uint8 (alpha dropped, palette expanded, gray
    replicated — same contract as :func:`decode_netpbm`).

    Unfiltering is vectorized where the filter allows (None/Up fully; Sub
    is a per-channel modular prefix sum); Average/Paeth carry a true
    per-pixel recurrence — sequential by definition (each byte depends on
    the previous reconstructed byte), so it runs as a tight scalar scan
    over plain ints (~10× faster than per-element numpy indexing; measured
    ≈ 4 MB of pixel data per second per core on this hardware — see
    tests/test_multimodal.py::test_png_paeth_decode_throughput for the
    enforced budget). Encoders that care about decode throughput should
    prefer filters 0-2, which decode fully vectorized.

    Raises ValueError on ANY undecodable payload — non-PNG, 16-bit,
    interlaced, short/garbled headers, corrupt or truncated compressed
    streams, out-of-range palette indices — so strict-mode callers
    (image_pixel_stats) turn one bad image into a ``corrupt`` row instead
    of a dead Arrow batch: at 100 TB a corrupt image is data, not an
    exception."""
    import struct
    import zlib

    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat: list[bytes] = []
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if ihdr is None or not idat:
        raise ValueError("missing IHDR/IDAT chunk")
    if len(ihdr) != 13:
        raise ValueError(f"short IHDR chunk ({len(ihdr)} bytes)")
    w, h, bit_depth, color_type, _comp, _filt, interlace = struct.unpack(
        ">IIBBBBB", ihdr
    )
    if bit_depth != 8:
        raise ValueError("only 8-bit PNG supported")
    if interlace:
        raise ValueError("interlaced PNG not supported")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unknown PNG color type {color_type}")
    channels = _PNG_CHANNELS[color_type]
    try:
        # zlib verifies the adler32 checksum, so corrupt-but-structurally-
        # valid IDAT (flipped or truncated bytes inside an intact chunk
        # frame) surfaces here rather than as garbage pixels
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as exc:
        raise ValueError(f"corrupt PNG compressed stream: {exc}") from exc
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = arr[:, 0]
    data = arr[:, 1:].astype(np.int64)
    recon = np.zeros((h, stride), dtype=np.int64)
    prior = np.zeros(stride, dtype=np.int64)
    bpp = channels
    for y in range(h):
        f = filters[y]
        row = data[y]
        if f == 0:  # None
            rec = row.copy()
        elif f == 1:  # Sub: recon[x] = row[x] + recon[x-bpp] → prefix sum
            rec = row.reshape(w, bpp).cumsum(axis=0).reshape(-1) % 256
        elif f == 2:  # Up
            rec = (row + prior) % 256
        elif f == 3:  # Average — rec[x] = row[x] + (rec[x-bpp] + up[x]) >> 1
            rowl = row.tolist()
            priorl = prior.tolist()
            recl = [0] * stride
            for x in range(bpp):  # left = 0
                recl[x] = (rowl[x] + (priorl[x] >> 1)) & 255
            for x in range(bpp, stride):
                recl[x] = (rowl[x] + ((recl[x - bpp] + priorl[x]) >> 1)) & 255
            rec = np.array(recl, dtype=np.int64)
        elif f == 4:  # Paeth — with p = a+b-c: |p-a| = |b-c|, |p-b| = |a-c|
            rowl = row.tolist()
            priorl = prior.tolist()
            recl = [0] * stride
            for x in range(bpp):  # a = c = 0 ⇒ the predictor is always b
                recl[x] = (rowl[x] + priorl[x]) & 255
            for x in range(bpp, stride):
                a = recl[x - bpp]
                b = priorl[x]
                c = priorl[x - bpp]
                pa = b - c
                if pa < 0:
                    pa = -pa
                pb = a - c
                if pb < 0:
                    pb = -pb
                pc = a + b - c - c
                if pc < 0:
                    pc = -pc
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = b
                else:
                    pred = c
                recl[x] = (rowl[x] + pred) & 255
            rec = np.array(recl, dtype=np.int64)
        else:
            raise ValueError(f"bad PNG filter type {f}")
        recon[y] = rec
        prior = rec
    img = recon.astype(np.uint8).reshape(h, w, channels)
    if color_type == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        if len(plte) % 3:
            raise ValueError(f"PLTE length {len(plte)} not a multiple of 3")
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        if int(img.max(initial=0)) >= pal.shape[0]:
            raise ValueError(
                f"palette index {int(img.max())} beyond PLTE size {pal.shape[0]}"
            )
        return pal[img[:, :, 0]]
    if color_type == 0:
        return np.repeat(img, 3, axis=2)
    if color_type == 4:
        return np.repeat(img[:, :, :1], 3, axis=2)
    if color_type == 6:
        return img[:, :, :3]
    return img


def encode_png(
    img: np.ndarray, filter_type: int = 0, gray: bool = False
) -> bytes:
    """(h, w, 3) uint8 → PNG bytes with every scanline using
    ``filter_type`` (0-4) — the test-fixture inverse of :func:`decode_png`,
    parameterized so fixtures exercise each unfilter path. ``gray=True``
    writes color type 0 from the first channel."""
    import struct
    import zlib

    h, w = img.shape[:2]
    px = img[:, :, :1] if gray else img
    channels = px.shape[2]
    bpp = channels
    flat = px.astype(np.int64).reshape(h, w * channels)
    lines = []
    prior = np.zeros(w * channels, dtype=np.int64)
    for y in range(h):
        row = flat[y]
        left = np.concatenate([np.zeros(bpp, dtype=np.int64), row[:-bpp]])
        upleft = np.concatenate([np.zeros(bpp, dtype=np.int64), prior[:-bpp]])
        if filter_type == 0:
            filt = row
        elif filter_type == 1:
            filt = (row - left) % 256
        elif filter_type == 2:
            filt = (row - prior) % 256
        elif filter_type == 3:
            filt = (row - ((left + prior) >> 1)) % 256
        elif filter_type == 4:
            p = left + prior - upleft
            pa = np.abs(p - left)
            pb = np.abs(p - prior)
            pc = np.abs(p - upleft)
            pred = np.where(
                (pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prior, upleft)
            )
            filt = (row - pred) % 256
        else:
            raise ValueError(f"bad PNG filter type {filter_type}")
        lines.append(bytes([filter_type]) + filt.astype(np.uint8).tobytes())
        prior = row

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    color_type = 0 if gray else 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    idat = zlib.compress(b"".join(lines), 6)
    return (
        PNG_MAGIC + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
    )


def decode_image(payload: bytes) -> np.ndarray:
    """Strict-mode image decode dispatch: binary netpbm or PNG → (h, w, 3)
    uint8. Raises NotImplementedError for the codec-requiring formats
    (JPEG/WebP/AVIF/GIF/TIFF) — the shared gate for
    image_features/image_tiles/image_pixel_stats."""
    if payload[:2] in (PPM_MAGIC, PGM_MAGIC):
        return decode_netpbm(payload)
    if payload[:8] == PNG_MAGIC:
        return decode_png(payload)
    raise NotImplementedError(
        "this payload format requires a codec library on the executors "
        "(none in this environment); binary netpbm (P5/P6) and 8-bit "
        "non-interlaced PNG decode natively, or use decode='fake' for the "
        "deterministic stand-in"
    )


GRID = 4  # real features: GRID×GRID luminance-mean grid → FEATURE_DIM


def _real_feature(img: np.ndarray) -> np.ndarray:
    """Deterministic content feature from decoded pixels: a GRID×GRID grid
    of mean luminance values, unit-normalized — the classic thumbnail-hash
    embedding for near-dup search over images."""
    lum = img.astype(np.float64).mean(axis=2)
    h, w = lum.shape
    cells = np.empty((GRID, GRID), dtype=np.float64)
    for r in range(GRID):
        for c in range(GRID):
            cells[r, c] = lum[
                r * h // GRID : max((r + 1) * h // GRID, r * h // GRID + 1),
                c * w // GRID : max((c + 1) * w // GRID, c * w // GRID + 1),
            ].mean()
    vec = cells.reshape(-1) - cells.mean()
    norm = np.linalg.norm(vec)
    if norm < 1e-12:
        vec = np.ones(FEATURE_DIM) / np.sqrt(FEATURE_DIM)
        return vec.astype(np.float32)
    return (vec / norm).astype(np.float32)


def _fake_decode_dims(payload: bytes) -> tuple[int, int]:
    """Deterministic stand-in for an image decode: dimensions derived from a
    stable digest of the bytes (range chosen to exercise the tiling paths,
    including the ≤640 bypass)."""
    digest = hashlib.sha256(payload).digest()
    width = 320 + int.from_bytes(digest[0:2], "big") % 1600
    height = 320 + int.from_bytes(digest[2:4], "big") % 1600
    return width, height


def _fake_feature(payload: bytes) -> np.ndarray:
    """Deterministic unit-norm feature vector from the payload digest."""
    digest = hashlib.sha256(payload).digest()
    raw = np.frombuffer((digest * ((4 * FEATURE_DIM) // len(digest) + 1))[: 4 * FEATURE_DIM], dtype=np.uint32)
    vec = (raw.astype(np.float64) / np.iinfo(np.uint32).max) - 0.5
    norm = np.linalg.norm(vec)
    return (vec / norm).astype(np.float32)


def image_features(media: DataFrame, decode: str = "strict") -> DataFrame:
    """binary image column → (dims, tile plan, content hash, feature vector).

    The tile plan reuses the reference's deterministic tiling math
    (process/image_process.py:21-111 — D2/D3), and ``n_tokens`` is the
    reference's exact token-interleave count for that plan
    (image_process.py:383-401) — the per-document cost model for skew /
    batch-budget control at scale (SURVEY §2.4 M2)."""
    from ocr_project_spark.functions.markers import tiling_plan, vision_token_cost

    if decode not in ("strict", "fake"):
        raise ValueError(f"unknown decode mode: {decode}")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                if decode == "fake":
                    w, h = _fake_decode_dims(data)
                    feature = _fake_feature(data)
                else:
                    # REAL decode path: netpbm and PNG need no codec library
                    img = decode_image(data)
                    h, w = img.shape[:2]
                    feature = _real_feature(img)
                tw, th = tiling_plan(w, h)
                rows.append(
                    {
                        "media_id": int(media_id),
                        "width": w,
                        "height": h,
                        "n_tiles_w": tw,
                        "n_tiles_h": th,
                        "n_tokens": vision_token_cost(w, h),
                        "sha256": hashlib.sha256(data).hexdigest(),
                        "feature": feature,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "width",
                    "height",
                    "n_tiles_w",
                    "n_tiles_h",
                    "n_tokens",
                    "sha256",
                    "feature",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=IMAGE_FEATURE_SCHEMA
    )


TILE_SCHEMA = (
    "media_id long, tile_idx int, n_tiles_w int, n_tiles_h int, "
    "tile_sha256 string"
)
TILE_SIZE = 640  # reference process/config.py:8 IMAGE_SIZE


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Nearest-neighbor resize (pure numpy index mapping — deterministic,
    no codec/interp library): (h, w, c) → (height, width, c)."""
    h, w = img.shape[:2]
    ys = (np.arange(height) * h // height).clip(0, h - 1)
    xs = (np.arange(width) * w // width).clip(0, w - 1)
    return img[ys[:, None], xs[None, :]]


def image_tiles(media: DataFrame, decode: str = "strict") -> DataFrame:
    """The reference's dynamic-tiling preprocessing as a 1→N operator
    (process/image_process.py:88-111: resize to the chosen tile grid, then
    crop ``TILE_SIZE``² tiles): decode → tiling plan → nearest-neighbor
    resize to (640·nw, 640·nh) → one row per tile with its content hash.
    Real for netpbm payloads; ``fake`` derives per-tile digests without
    pixels (the full-scale plumbing drill). Explode shape mirrors
    doc→pages (D1)."""
    from ocr_project_spark.functions.markers import tiling_plan

    if decode not in ("strict", "fake"):
        raise ValueError(f"unknown decode mode: {decode}")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                if decode == "fake":
                    w, h = _fake_decode_dims(data)
                    tw, th = tiling_plan(w, h)
                    for idx in range(tw * th):
                        rows.append(
                            {
                                "media_id": int(media_id),
                                "tile_idx": idx,
                                "n_tiles_w": tw,
                                "n_tiles_h": th,
                                "tile_sha256": hashlib.sha256(
                                    data + b"#tile-%d" % idx
                                ).hexdigest(),
                            }
                        )
                    continue
                img = decode_image(data)
                h, w = img.shape[:2]
                tw, th = tiling_plan(w, h)
                resized = resize_nearest(img, TILE_SIZE * tw, TILE_SIZE * th)
                for idx in range(tw * th):
                    r, c = divmod(idx, tw)
                    tile = resized[
                        r * TILE_SIZE : (r + 1) * TILE_SIZE,
                        c * TILE_SIZE : (c + 1) * TILE_SIZE,
                    ]
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "tile_idx": idx,
                            "n_tiles_w": tw,
                            "n_tiles_h": th,
                            "tile_sha256": hashlib.sha256(
                                np.ascontiguousarray(tile).tobytes()
                            ).hexdigest(),
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "tile_idx",
                    "n_tiles_w",
                    "n_tiles_h",
                    "tile_sha256",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=TILE_SCHEMA
    )


PIXEL_STATS_SCHEMA = (
    "media_id long, width long, height long, pixel_sum long, corrupt boolean"
)


def image_pixel_stats(media: DataFrame, decode: str = "strict") -> DataFrame:
    """binary image column → exact (width, height, Σ all RGB sample values)
    — the brightness/blank-image/corruption gate an image training corpus
    filters on before feature extraction, and the operator whose integer
    outputs make the real PNG/netpbm decode differentially checkable (the
    driver's ``media_png`` query synthesizes PNGs whose pixels are a pure
    SQL-expressible function of the id, so an oracle replays the decode
    end-to-end: inflate + unfilter + palette/gray expansion must be
    byte-perfect for the sums to agree). Undecodable payloads yield a
    ``corrupt`` row instead of failing the batch — at 100 TB a corrupt
    image is data, not an exception."""
    if decode not in ("strict", "fake"):
        raise ValueError(f"unknown decode mode: {decode}")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                try:
                    if decode == "fake":
                        w, h = _fake_decode_dims(data)
                        digest = hashlib.sha256(data).digest()
                        sum_px = int.from_bytes(digest[4:10], "big")
                    else:
                        img = decode_image(data)
                        h, w = img.shape[:2]
                        sum_px = int(img.astype(np.int64).sum())
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "width": w,
                            "height": h,
                            "pixel_sum": sum_px,
                            "corrupt": False,
                        }
                    )
                except (ValueError, NotImplementedError):
                    rows.append(
                        {
                            "media_id": int(media_id),
                            "width": 0,
                            "height": 0,
                            "pixel_sum": 0,
                            "corrupt": True,
                        }
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "width", "height", "pixel_sum", "corrupt"],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=PIXEL_STATS_SCHEMA
    )


AUDIO_FEATURE_SCHEMA = (
    "media_id long, sample_rate int, n_samples long, duration_ms long, "
    "rms_x1000 long, zero_crossings long"
)


def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """REAL audio decode for RIFF/WAVE PCM (8- or 16-bit) — chunk walk with
    stdlib struct + numpy sample view, no codec library. Returns
    (mono float64 samples in [-1, 1], sample_rate). Raises ValueError for
    non-WAV payloads and unsupported encodings."""
    import struct

    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = data = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("missing fmt/data chunk")
    if len(fmt) < 16:
        raise ValueError("truncated WAV fmt chunk")  # not struct.error:
        # callers' corrupt-row handling catches ValueError only
    audio_format, channels, rate, _, _, bits = struct.unpack("<HHIIHH", fmt[:16])
    if audio_format != 1 or bits not in (8, 16):
        raise ValueError(f"unsupported WAV encoding (fmt={audio_format}, bits={bits})")
    if bits == 16:
        raw = np.frombuffer(data, dtype="<i2", count=len(data) // 2)
        samples = raw.astype(np.float64) / 32768.0
    else:
        raw = np.frombuffer(data, dtype=np.uint8)
        samples = (raw.astype(np.float64) - 128.0) / 128.0
    if channels > 1:
        n = len(samples) // channels * channels
        samples = samples[:n].reshape(-1, channels).mean(axis=1)
    return samples, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """mono float [-1,1] → 16-bit PCM WAV bytes (the test-fixture inverse)."""
    import struct

    pcm = (np.clip(samples, -1.0, 1.0) * 32767).astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(pcm)) + pcm
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def audio_features(media: DataFrame, decode: str = "strict") -> DataFrame:
    """binary audio column → (sample_rate, sample/duration counts, RMS
    energy, zero crossings) — the silence/clipping/energy gates an audio
    training pipeline filters on. RIFF/WAVE PCM decodes FOR REAL (see
    :func:`decode_wav`); compressed codecs raise in strict mode; ``fake``
    is the digest-derived stand-in. Integer-scaled outputs
    (``rms_x1000``)."""
    if decode not in ("strict", "fake"):
        raise ValueError(f"unknown decode mode: {decode}")

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
                data = bytes(payload)
                if decode == "fake":
                    digest = hashlib.sha256(data).digest()
                    rate = 8000 + int.from_bytes(digest[0:2], "big") % 40000
                    n = 1000 + int.from_bytes(digest[2:5], "big") % 100000
                    rms = int.from_bytes(digest[5:7], "big") % 1000
                    zc = int.from_bytes(digest[7:10], "big") % n
                elif data[:4] == b"RIFF":
                    samples, rate = decode_wav(data)
                    n = len(samples)
                    rms = int(np.sqrt(np.mean(samples**2)) * 1000) if n else 0
                    zc = int(np.count_nonzero(np.diff(np.signbit(samples))))
                else:
                    raise NotImplementedError(
                        "this audio format requires a codec library on the "
                        "executors; RIFF/WAVE PCM decodes natively, or use "
                        "decode='fake' for the deterministic stand-in"
                    )
                rows.append(
                    {
                        "media_id": int(media_id),
                        "sample_rate": rate,
                        "n_samples": n,
                        "duration_ms": n * 1000 // max(rate, 1),
                        "rms_x1000": rms,
                        "zero_crossings": zc,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id",
                    "sample_rate",
                    "n_samples",
                    "duration_ms",
                    "rms_x1000",
                    "zero_crossings",
                ],
            )

    return media.select("media_id", "payload").mapInPandas(
        _batches, schema=AUDIO_FEATURE_SCHEMA
    )


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
                    # MEDIA_SCHEMA's duration_ms is nullable (Arrow hands a
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
    driver's ``media_y4m`` query plants luma values that are a pure SQL
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
    function of the id so the ``media_y4m`` oracle replays the real decode
    in SQL (same pattern as :func:`synthesize_png_media`)."""

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


def corrupt_png_idat(payload: bytes, drop: int = 9) -> bytes:
    """Rewrite a PNG so the chunk framing stays VALID (lengths + CRCs
    recomputed) but the IDAT deflate stream is truncated by ``drop``
    bytes — the 'structurally valid PNG with corrupt IDAT' payload a real
    crawl is full of. ``decode_png`` must surface it as ValueError (→ a
    ``corrupt`` row in image_pixel_stats), never kill the Arrow batch."""
    import struct
    import zlib

    out = bytearray(payload[:8])
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        body = payload[pos + 8 : pos + 8 + length]
        if ctype == b"IDAT":
            body = body[: max(len(body) - drop, 0)]
        out += (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )
        pos += 12 + length
    return bytes(out)


def synthesize_png_media(ids: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Deterministic PNG fixture payloads from an id column: dimensions,
    color type, filter type, and every pixel value are pure integer
    functions of the id (w = 16 + id%48, h = 12 + (id//7)%36, gray for even
    ids / RGB for odd, scanline filter id%5, pixel(x,y,c) =
    (id + x + 2y + 85c) mod 256) — so a SQL oracle can predict the decoded
    width/height/pixel_sum without parsing PNG, and the strict decode path
    (inflate + all five unfilters + gray/RGB expansion) is differentially
    checked end-to-end. Ids with id % 31 == 7 get a structurally valid PNG
    whose IDAT stream is truncated (:func:`corrupt_png_idat`) — the oracle
    predicts a ``corrupt`` row for exactly those, making the batch-survival
    posture itself driver-verified. Arrow-batched 1→1; payload bytes never
    leave the executor."""

    def _batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for raw_id in pdf[id_col]:
                i = int(raw_id)
                w = 16 + i % 48
                h = 12 + (i // 7) % 36
                base = i + np.arange(w)[None, :] + 2 * np.arange(h)[:, None]
                if i % 2 == 0:
                    img = (base % 256).astype(np.uint8)[:, :, None].repeat(3, axis=2)
                    payload = encode_png(img, filter_type=i % 5, gray=True)
                else:
                    img = (
                        (base[:, :, None] + 85 * np.arange(3)[None, None, :]) % 256
                    ).astype(np.uint8)
                    payload = encode_png(img, filter_type=i % 5)
                if i % 31 == 7:
                    payload = corrupt_png_idat(payload)
                rows.append({"media_id": i, "payload": payload})
            yield pd.DataFrame(rows, columns=["media_id", "payload"])

    return ids.select(id_col).mapInPandas(
        _batches, schema="media_id long, payload binary"
    )


def synthesize_media(spark, n: int = 64) -> DataFrame:
    """Deterministic media fixture table (no external data): payload bytes
    are a pure function of media_id."""
    rows = []
    for media_id in range(n):
        kind = ("image", "audio", "video")[media_id % 3]
        payload = hashlib.sha256(f"media-{media_id}".encode()).digest() * (
            1 + media_id % 7
        )
        rows.append(
            (
                media_id,
                kind,
                bytearray(payload),
                ("application/octet-stream", None, None, 500 + 700 * (media_id % 5)),
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
