"""Multimodal columns: image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched kernels.

The Spark-side plumbing is real — schemas, mapInPandas batch shape,
partition behavior — and so are the image codecs: PNG, GIF and
baseline JPEG decode/encode from scratch on numpy + the stdlib
(``kernels/png_codec.py`` / ``gif_codec.py`` / ``jpeg_codec.py``),
JPEG 2000 (``kernels/jpx.py``), TIFF and BMP (``kernels/
tiff_codec.py``: CCITT G3/G4, LZW, PackBits, uncompressed strips),
WAV/MP4 read real headers with H.264 I_PCM frame decode. Only the
``FAKE`` container below remains a deterministic stand-in (for
payload shapes no real codec covers); swapping in PIL/ffmpeg later
only changes the ``_decode_*`` internals, not one line of the
DataFrame plumbing.

Reference parity hook: ``resize_image_meta`` reproduces the reference's
resize rule — downscale so max(dim) <= max_size, preserving aspect
ratio (``lexoid/core/utils.py:65-89`` resize_image_if_needed, max
1000 px).

Container formats (big-endian):
  image  b"IMG!" + u16 width + u16 height + u8 channels + pixels
  video  b"VID!" + u16 width + u16 height + u16 n_frames + frames
  audio  b"AUD!" + u32 sample_rate + u32 n_samples + samples
"""

from __future__ import annotations

import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lexoid_spark.functions.udfs import row_udf
from lexoid_spark.kernels.gif_codec import make_test_gif
from lexoid_spark.kernels.jpeg_codec import make_test_jpeg
from lexoid_spark.kernels.png_codec import make_test_png

IMG_MAGIC = b"IMG!"
VID_MAGIC = b"VID!"
AUD_MAGIC = b"AUD!"


# --- codec (deterministic fake) ----------------------------------------------

def encode_fake_image(width: int, height: int, channels: int = 3) -> bytes:
    head = IMG_MAGIC + struct.pack(">HHB", width, height, channels)
    # deterministic pixel bytes; tiny (8 per image) — metadata plumbing
    # is the product here, not pixel payloads
    px = bytes((width * 31 + height * 17 + i) % 256 for i in range(8))
    return head + px


def encode_fake_video(width: int, height: int, n_frames: int) -> bytes:
    return VID_MAGIC + struct.pack(">HHH", width, height, n_frames) + bytes(4)


def encode_fake_audio(sample_rate: int, n_samples: int) -> bytes:
    return AUD_MAGIC + struct.pack(">II", sample_rate, n_samples) + bytes(4)


def decode_audio_header(b: bytes) -> tuple[int, int] | None:
    if b is None or len(b) < 12:
        return None
    b = bytes(b)
    if b[:4] == b"RIFF":
        # real WAV: stdlib RIFF chunk walk (kernels/wav_meta.py)
        from lexoid_spark.kernels.wav_meta import wav_header
        hdr = wav_header(b)
        return (hdr[0], hdr[3]) if hdr else None
    if b[:4] == b"fLaC":
        # real FLAC: STREAMINFO walk (kernels/flac.py)
        from lexoid_spark.kernels.flac import flac_header
        hdr = flac_header(b)
        return (hdr[0], hdr[3]) if hdr else None
    from lexoid_spark.kernels.mp3_meta import looks_like_mp3, mp3_header
    if looks_like_mp3(b):
        # real MP3: per-frame header walk (kernels/mp3_meta.py)
        hdr = mp3_header(b)
        return (hdr[0], hdr[2]) if hdr else None
    if b[:4] != AUD_MAGIC:
        return None
    return struct.unpack(">II", b[4:12])


def decode_audio_samples(b: bytes) -> "np.ndarray":
    """Real sample decode → (n, ch) int array: PCM16 WAV
    (kernels/wav_meta.py) and FLAC (kernels/flac.py — fixed/LPC
    prediction, Rice residuals, stereo decorrelation, CRC-verified).
    The FAKE container carries no samples — typed error."""
    b = bytes(b)
    if b[:4] == b"RIFF":
        from lexoid_spark.kernels.wav_meta import wav_decode
        return wav_decode(b)
    if b[:4] == b"fLaC":
        from lexoid_spark.kernels.flac import flac_decode
        return flac_decode(b)[0]
    raise ValueError("payload carries no decodable audio samples "
                     "(the FAKE container is metadata-only)")


def decode_image_header(b: bytes) -> tuple[int, int, int] | None:
    if b is None:
        return None
    b = bytes(b)
    if b[:4] == b"\x89PNG":
        from lexoid_spark.kernels.png_codec import png_header
        return png_header(b)
    if b[:4] == b"GIF8":
        from lexoid_spark.kernels.gif_codec import gif_header
        hdr = gif_header(b)
        return (hdr[0], hdr[1], 3) if hdr else None
    if b[:3] == b"\xff\xd8\xff":
        from lexoid_spark.kernels.jpeg_meta import jpeg_header
        return jpeg_header(b)
    if b[:2] == b"BM":
        from lexoid_spark.kernels.tiff_bmp import bmp_header
        return bmp_header(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from lexoid_spark.kernels.tiff_bmp import tiff_header
        return tiff_header(b)
    if b[:8] == b"\x00\x00\x00\x0cjP  " or b[:2] == b"\xff\x4f":
        # JPEG 2000: O(header) SIZ probe, no pixel work
        from lexoid_spark.kernels.jpx import jpx_header
        return jpx_header(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from lexoid_spark.kernels.webp_meta import webp_header
        return webp_header(b)
    if len(b) < 9 or b[:4] != IMG_MAGIC:
        return None
    w, h, c = struct.unpack(">HHB", b[4:9])
    return w, h, c


def decode_video_header(b: bytes) -> tuple[int, int, int] | None:
    if b is None or len(b) < 10:
        return None
    b = bytes(b)
    if b[4:8] in (b"ftyp", b"moov", b"styp"):
        # real MP4/ISO-BMFF: stdlib box walk (kernels/mp4_meta.py)
        from lexoid_spark.kernels.mp4_meta import mp4_header
        return mp4_header(b)
    from lexoid_spark.kernels.h264 import h264_header, looks_like_h264
    if looks_like_h264(b):
        # real Annex-B H.264 elementary stream (kernels/h264.py)
        return h264_header(b)
    from lexoid_spark.kernels.avi import avi_header, looks_like_avi
    if looks_like_avi(b):
        # real RIFF AVI (kernels/avi.py)
        return avi_header(b)
    if b[:4] != VID_MAGIC:
        return None
    return struct.unpack(">HHH", b[4:10])


def decode_video_frames(b: bytes) -> "np.ndarray":
    """Real video pixel decode → (n, H, W) uint8 luma frames: Annex-B
    H.264 elementary streams (I_PCM baseline scope, kernels/h264.py),
    MP4 files carrying an avc1 or Motion-JPEG track (sample tables +
    avcC / per-sample JPEG decode, kernels/mp4_avc.py), and RIFF AVI
    Motion-JPEG (kernels/avi.py, DHT-less wild frames repaired). The
    FAKE container and track-less MP4 box trees carry metadata only —
    both raise a typed error (caller quarantines or falls back to the
    header path)."""
    b = bytes(b)
    from lexoid_spark.kernels.h264 import (
        H264Error,
        h264_decode_frames,
        looks_like_h264,
    )

    if looks_like_h264(b):
        return h264_decode_frames(b)
    from lexoid_spark.kernels.mp4_meta import looks_like_mp4

    if looks_like_mp4(b):
        from lexoid_spark.kernels.mp4_avc import mp4_video_frames

        return mp4_video_frames(b)
    from lexoid_spark.kernels.avi import avi_mjpeg_frames, looks_like_avi

    if looks_like_avi(b):
        return avi_mjpeg_frames(b)
    raise H264Error("payload carries no decodable video pixels "
                    "(the FAKE container is metadata-only)")


def decode_image_pixels(b: bytes) -> "np.ndarray":
    """Real pixel decode. PNG, GIF and JPEG (baseline AND progressive
    SOF2) are fully implemented on numpy + the stdlib
    (``kernels/png_codec.py``: IDAT inflate + scanline unfilter,
    Adam7, 16-bit, sub-byte depths; ``kernels/gif_codec.py``:
    variable-width LZW + palette; ``kernels/jpeg_codec.py``: Huffman +
    successive-approximation/spectral-selection scans + IDCT +
    YCbCr). Unsupported JPEG variants raise a typed JpegError (caller
    quarantines); the FAKE container has no pixels."""
    b = bytes(b)
    if b[:4] == b"\x89PNG":
        from lexoid_spark.kernels.png_codec import png_decode
        return png_decode(b)
    if b[:4] == b"GIF8":
        from lexoid_spark.kernels.gif_codec import gif_decode
        return gif_decode(b)
    if b[:3] == b"\xff\xd8\xff":
        from lexoid_spark.kernels.jpeg_codec import jpeg_decode
        return jpeg_decode(b)
    if b[:8] == b"\x00\x00\x00\x0cjP  " or b[:2] == b"\xff\x4f":
        from lexoid_spark.kernels.jpx import jpx_decode
        return jpx_decode(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from lexoid_spark.kernels.tiff_codec import tiff_decode
        return tiff_decode(b)
    if b[:2] == b"BM":
        from lexoid_spark.kernels.tiff_codec import bmp_decode
        return bmp_decode(b)
    raise NotImplementedError(
        "no real decode for this format (PNG/GIF/baseline JPEG are "
        "implemented; the FAKE container carries no pixel payload)"
    )


# --- Arrow-batched kernels ----------------------------------------------------

IMAGE_META_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("channels", T.IntegerType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("error", T.StringType()),
])


def image_meta(df: DataFrame, id_col: str = "id",
               bin_col: str = "payload") -> DataFrame:
    """Decode typed metadata from an opaque image binary column."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, payload in zip(b["id"], b["payload"]):
                hdr = decode_image_header(payload)
                if hdr is None:
                    rows.append((i, None, None, None,
                                 len(payload or b""), "bad_magic"))
                else:
                    rows.append((i, hdr[0], hdr[1], hdr[2],
                                 len(payload), None))
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "channels",
                               "n_bytes", "error"])

    return src.mapInPandas(kernel, IMAGE_META_SCHEMA)


def resize_image_meta(df: DataFrame, max_size: int = 1000,
                      id_col: str = "id",
                      bin_col: str = "payload") -> DataFrame:
    """Reference resize rule (utils.py:65-89): if max(w,h) > max_size,
    scale both dims by max_size/max(w,h) (trunc toward zero). PNG
    payloads get a REAL pixel resample (nearest-neighbor) and are
    re-encoded as PNG; FAKE-container payloads get the header rewrite
    (no pixels to resample)."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("new_width", T.IntegerType()),
        T.StructField("new_height", T.IntegerType()),
        T.StructField("resized", T.BooleanType()),
        T.StructField("payload", T.BinaryType()),
    ])

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, payload in zip(b["id"], b["payload"]):
                hdr = decode_image_header(payload)
                if hdr is None:
                    continue
                w, h, c = hdr
                if max(w, h) > max_size:
                    ratio = max_size / max(w, h)
                    nw, nh = int(w * ratio), int(h * ratio)
                    head = bytes(payload)[:4]
                    if head == b"\x89PNG":
                        from lexoid_spark.kernels.png_codec import (
                            png_decode, png_encode, resample_nearest)
                        px = resample_nearest(
                            png_decode(bytes(payload)), nw, nh)
                        rows.append((i, nw, nh, True, png_encode(px)))
                    elif head == b"GIF8":
                        from lexoid_spark.kernels.gif_codec import (
                            gif_decode, gif_encode)
                        from lexoid_spark.kernels.png_codec import (
                            resample_nearest)
                        px = resample_nearest(
                            gif_decode(bytes(payload))[:, :, :3], nw, nh)
                        rows.append((i, nw, nh, True, gif_encode(px)))
                    elif head[:3] == b"\xff\xd8\xff":
                        from lexoid_spark.kernels.jpeg_codec import (
                            JpegError, jpeg_decode, jpeg_encode)
                        from lexoid_spark.kernels.png_codec import (
                            resample_nearest)
                        try:
                            px = resample_nearest(
                                jpeg_decode(bytes(payload)), nw, nh)
                            rows.append((i, nw, nh, True,
                                         jpeg_encode(px, quality=90)))
                        except JpegError:
                            # progressive/non-baseline: dims rule
                            # still applies; null payload marks
                            # "needs full codec"
                            rows.append((i, nw, nh, True, None))
                    else:
                        rows.append((i, nw, nh, True,
                                     encode_fake_image(nw, nh, c)))
                else:
                    rows.append((i, w, h, False, payload))
            yield pd.DataFrame(
                rows, columns=["id", "new_width", "new_height",
                               "resized", "payload"])

    return src.mapInPandas(kernel, schema)


FRAME_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
])


def frame_sample(df: DataFrame, every_n: int = 10, id_col: str = "id",
                 bin_col: str = "payload") -> DataFrame:
    """Sample every Nth frame index from a video binary column — a
    row-expanding mapInPandas (UDTF shape): one output row per sampled
    frame, so downstream per-frame ops parallelize as ordinary rows."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"id": [], "frame_idx": [], "width": [], "height": []}
            for i, payload in zip(b["id"], b["payload"]):
                hdr = decode_video_header(payload)
                if hdr is None:
                    continue
                w, h, n_frames = hdr
                for fi in range(0, n_frames, every_n):
                    out["id"].append(i)
                    out["frame_idx"].append(fi)
                    out["width"].append(w)
                    out["height"].append(h)
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, FRAME_SCHEMA)


FRAME_OCR_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("frame_idx", T.IntegerType()),
    T.StructField("text", T.StringType()),
])


def frame_ocr(df: DataFrame, every_n: int = 10, id_col: str = "id",
              bin_col: str = "payload") -> DataFrame:
    """Sample every Nth frame from a video binary column and OCR the
    REAL decoded luma pixels (kernels/h264.py → glyph recognizer) —
    the frame-level text-extraction primitive of a video curation
    pipeline, one output row per sampled frame. Payloads without
    decodable pixels (FAKE/MP4 metadata containers, foreign codecs)
    are skipped, mirroring :func:`frame_sample`'s undecodable-header
    behavior; a failed RECOGNITION on decoded pixels yields a NULL
    text row (frame seen, no confident read) — never a silent wrong
    read."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lexoid_spark.kernels.avi import AviError
        from lexoid_spark.kernels.h264 import H264Error
        from lexoid_spark.kernels.mp4_meta import Mp4Error
        from lexoid_spark.kernels.ocr_glyph import recognize_pixels

        for b in batches:
            out = {"id": [], "frame_idx": [], "text": []}
            for i, payload in zip(b["id"], b["payload"]):
                try:
                    frames = decode_video_frames(payload)
                except (AviError, H264Error, Mp4Error):
                    continue
                for fi in range(0, frames.shape[0], every_n):
                    try:
                        text = recognize_pixels(frames[fi])[0]
                    except ValueError:
                        text = None   # below-confidence / unsegmentable
                    out["id"].append(i)
                    out["frame_idx"].append(fi)
                    out["text"].append(text)
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, FRAME_OCR_SCHEMA)


AUDIO_META_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("sample_rate", T.IntegerType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("error", T.StringType()),
])


def audio_meta(df: DataFrame, id_col: str = "id",
               bin_col: str = "payload") -> DataFrame:
    """Decode typed metadata from an opaque audio binary column
    (bad magic → error row, never a task failure).

    The kernel emits only the raw integers it decodes; ``duration_sec``
    is derived IN-ENGINE in exact integer arithmetic: microseconds =
    half-up(n·10⁶ / sr) via ``(2·n·10⁶ + sr) div (2·sr)``, then one
    double division by 10⁶. Float ``round`` is NOT portable here —
    n/sr has exact decimal ties (…5 at the 7th place), where Spark's
    F.round (decimal-string HALF_UP) rounds up but DuckDB ROUND (on
    the binary double, slightly below the tie) rounds down; python
    ``round()`` is banker's and wrong a third way (CLAUDE.md's
    engine-portable-float rule). Integer half-up on the exact rational
    agrees with any engine's integer ``//``."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            rows = []
            for i, payload in zip(b["id"], b["payload"]):
                hdr = decode_audio_header(payload)
                if hdr is None:
                    rows.append((i, None, None, "bad_magic"))
                else:
                    sr, n = hdr
                    rows.append((i, sr, n, None))
            yield pd.DataFrame(
                rows, columns=["id", "sample_rate", "n_samples", "error"])

    return (
        src.mapInPandas(kernel, AUDIO_META_SCHEMA)
        .withColumn(
            "duration_sec",
            F.when(
                F.col("sample_rate") > 0,
                F.expr(
                    "(2 * n_samples * 1000000 + sample_rate) "
                    "div (2 * sample_rate)"
                ) / F.lit(1000000.0),
            ),
        )
        .select("id", "sample_rate", "n_samples", "duration_sec", "error")
    )


AUDIO_CHUNK_SCHEMA = T.StructType([
    T.StructField("id", T.LongType()),
    T.StructField("chunk_idx", T.IntegerType()),
    T.StructField("start_sample", T.LongType()),
    T.StructField("n_samples", T.LongType()),
])


def audio_chunks(df: DataFrame, chunk_sec: float = 30.0,
                 id_col: str = "id", bin_col: str = "payload") -> DataFrame:
    """Split audio into fixed-duration chunks — one output row per
    chunk (UDTF shape, like frame_sample): the ASR-batching primitive a
    training pipeline needs. The last chunk is short; decode itself is
    behind the real-codec seam."""
    src = df.select(F.col(id_col).cast("long").alias("id"),
                    F.col(bin_col).alias("payload"))

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            out = {"id": [], "chunk_idx": [], "start_sample": [],
                   "n_samples": []}
            for i, payload in zip(b["id"], b["payload"]):
                hdr = decode_audio_header(payload)
                if hdr is None:
                    continue
                sr, n = hdr
                step = max(1, int(sr * chunk_sec))
                for ci, start in enumerate(range(0, n, step)):
                    out["id"].append(i)
                    out["chunk_idx"].append(ci)
                    out["start_sample"].append(start)
                    out["n_samples"].append(min(step, n - start))
            yield pd.DataFrame(out)

    return src.mapInPandas(kernel, AUDIO_CHUNK_SCHEMA)


# --- fake-corpus builders (Spark-side, vectorized) ----------------------------


def png_image(width: int, height: int, seed: int) -> bytes:
    """REAL RGB PNG bytes (stdlib encoder, deterministic pixels)."""
    return make_test_png(width, height, 3, seed)


# payload columns for oracled queries: FAKE containers, and real PNG /
# GIF (16-color LZW) / baseline JPEG (T.81) bytes that exercise the
# real codecs
fake_image_udf = row_udf(encode_fake_image, T.BinaryType())
png_image_udf = row_udf(png_image, T.BinaryType())
gif_image_udf = row_udf(make_test_gif, T.BinaryType())
jpeg_image_udf = row_udf(make_test_jpeg, T.BinaryType())
fake_video_udf = row_udf(encode_fake_video, T.BinaryType())
fake_audio_udf = row_udf(encode_fake_audio, T.BinaryType())
