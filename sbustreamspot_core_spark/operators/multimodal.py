"""Multimodal (binary-column) operators (training-data pipeline ops).

Images/audio/video are opaque ``binary`` columns with typed metadata.  The
Spark-side plumbing — schemas, partition-friendly batching, Arrow-vectorized
UDF signatures — is real and tested.  The codec layer is now real for the
formats a pure-stdlib implementation can cover (functions/codecs.py):

- ``sniff_metadata``: magic-byte container detection + sizes.
- ``byte_histogram_features``: deterministic 16-bucket byte histogram as a
  stand-in "feature extractor" (real computation, fake semantics).
- ``decode_image``: REAL for PNG (stdlib zlib + numpy unfilter decoder,
  8-bit gray/RGB/gray-alpha/RGBA, all five row filters), baseline JFIF
  JPEG (functions/jpeg.py: from-scratch T.81 Huffman decode + numpy IDCT,
  4:4:4/4:2:2/4:2:0, restart markers), GIF87a/89a (functions/gif.py:
  variable-width LZW, interlace, sub-rect compositing, transparency —
  first composited frame), and MJPEG AVI (functions/avi.py: RIFF
  container walk, first frame).  Other formats raise NotImplementedError
  — no codec libraries ship in this environment.  ``fake=True`` keeps the
  deterministic-fake plumbing mode for tests that don't care about pixels.
- ``decode_audio`` / ``sample_frames``: REAL for 16-bit PCM WAV (stdlib
  ``wave``); ``sample_frames`` emits every ``every_n``-th 1024-sample block
  as a frame, for ANIMATED GIFs every ``every_n``-th composited RGB
  canvas, and for MJPEG AVI every ``every_n``-th frame — decoded
  selectively, since MJPEG frames are intra-only (the chunk list is
  sliced BEFORE any JPEG decode runs).  Other containers still raise;
  ``fake=True`` keeps the 1 KiB-block fake.
"""

from __future__ import annotations

from functools import partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sbustreamspot_core_spark.functions.codecs import (
    png_decode,
    wav_decode,
)
from sbustreamspot_core_spark.functions.jpeg import jpeg_decode

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"GIF8", "gif"),
    (b"ID3", "mp3"),
    (b"\x00\x00\x00", "mp4ish"),
]


def sniff_format(b: bytes) -> str:
    if not b:
        return "empty"
    if b.startswith(b"RIFF"):                  # RIFF subtypes at bytes 8:12
        sub = b[8:12]
        return {b"WAVE": "wav", b"AVI ": "avi"}.get(sub, "riff")
    for magic, name in _MAGIC:
        if b.startswith(magic):
            return name
    return "unknown"


def _sniff_series(col: pd.Series) -> pd.Series:
    """``sniff_metadata`` kernel."""
    return col.map(lambda b: sniff_format(b or b""))


def sniff_metadata(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Adds (format string, n_bytes long) metadata columns."""
    fmt = F.pandas_udf(_sniff_series, "string")
    return df.withColumn("format", fmt(F.col(bin_col))).withColumn(
        "n_bytes", F.octet_length(F.col(bin_col)).cast("long"))


def _byte_histogram_series(col, *, buckets):
    """``byte_histogram_features`` kernel."""
    out = []
    for b in col:
        if not b:
            out.append([0.0] * buckets)
            continue
        arr = np.frombuffer(b, dtype=np.uint8)
        h = np.bincount(arr >> int(np.log2(256 // buckets)),
                        minlength=buckets).astype(np.float64)
        out.append((h / h.sum()).astype(np.float32).tolist())
    return pd.Series(out)


def byte_histogram_features(df: DataFrame, bin_col: str = "payload",
                            buckets: int = 16) -> DataFrame:
    """Adds ``features array<float>`` — normalized byte histogram (numpy,
    Arrow-batched); deterministic stand-in for a learned feature extractor."""
    hist = F.pandas_udf(partial(_byte_histogram_series, buckets=buckets),
                        "array<float>")
    return df.withColumn("features", hist(F.col(bin_col)))


DECODE_SCHEMA = ("id long, width int, height int, channels int, "
                 "pixels binary")


def _decode_image_batches(batches, *, id_col, bin_col, fake):
    """``decode_image`` kernel."""
    for pdf in batches:
        rows = {"id": [], "width": [], "height": [], "channels": [],
                "pixels": []}
        for i, b in zip(pdf[id_col], pdf[bin_col]):
            if fake:
                seed = np.frombuffer((b or b"\0")[:8].ljust(8, b"\0"),
                                     dtype=np.uint64)[0]
                rng = np.random.default_rng(int(seed))
                px = rng.integers(0, 256, size=(4, 4, 3), dtype=np.uint8)
            elif sniff_format(b or b"") == "png":
                px = png_decode(bytes(b))
            elif sniff_format(b or b"") == "jpeg":
                px = jpeg_decode(bytes(b))
            elif sniff_format(b or b"") == "gif":
                from ..functions.gif import gif_decode
                px = gif_decode(bytes(b))[0]   # first composited frame
            elif sniff_format(b or b"") == "avi":
                # MJPEG frames are intra-only: pull ONLY the first
                # frame's chunk, decode one JPEG
                from ..functions.avi import avi_frame_chunks
                px = jpeg_decode(avi_frame_chunks(bytes(b))[0][0])
            else:
                raise NotImplementedError(
                    f"no codec for format {sniff_format(b or b'')!r} "
                    "(PNG/JPEG/GIF/MJPEG-AVI are the real paths; pass "
                    "fake=True for plumbing tests)")
            rows["id"].append(int(i))
            rows["width"].append(px.shape[1])
            rows["height"].append(px.shape[0])
            rows["channels"].append(px.shape[2] if px.ndim == 3 else 1)
            rows["pixels"].append(px.tobytes())
        yield pd.DataFrame(rows)


def decode_image(df: DataFrame, id_col: str = "id", bin_col: str = "payload",
                 fake: bool = False) -> DataFrame:
    """Image decode: binary -> (width, height, channels, raw pixels).

    REAL for PNG via functions/codecs.py (stdlib zlib + numpy unfilter;
    8-bit gray/RGB/gray-alpha/RGBA, all five filters), baseline JFIF JPEG
    via functions/jpeg.py (from-scratch T.81 Huffman + IDCT), GIF via
    functions/gif.py (first composited frame), and MJPEG AVI via
    functions/avi.py (first frame chunk only — no full-video decode).
    Other payloads raise NotImplementedError (no codec libs in this
    container).  ``fake=True`` instead emits a deterministic 4x4 RGB
    image derived from the payload bytes, for plumbing tests that don't
    need real pixels.
    """
    return df.select(F.col(id_col).alias(id_col), F.col(bin_col)).mapInPandas(
        partial(_decode_image_batches, id_col=id_col, bin_col=bin_col,
                fake=fake),
        schema=DECODE_SCHEMA)


def _resize_batches(batches, *, out_w, out_h, id_col):
    """``resize_images`` kernel."""
    for pdf in batches:
        rows = {"id": [], "width": [], "height": [], "channels": [],
                "pixels": []}
        for i, w, h, c, px in zip(pdf[id_col], pdf["width"],
                                  pdf["height"], pdf["channels"],
                                  pdf["pixels"]):
            arr = np.frombuffer(bytes(px), dtype=np.uint8).reshape(
                int(h), int(w), int(c))
            ys = (np.arange(out_h) * int(h)) // out_h
            xs = (np.arange(out_w) * int(w)) // out_w
            out = arr[np.ix_(ys, xs)]
            rows["id"].append(int(i))
            rows["width"].append(out_w)
            rows["height"].append(out_h)
            rows["channels"].append(int(c))
            rows["pixels"].append(out.tobytes())
        yield pd.DataFrame(rows)


def resize_images(df: DataFrame, out_w: int, out_h: int,
                  id_col: str = "id") -> DataFrame:
    """Nearest-neighbor resize of decoded images: rows shaped like
    ``decode_image``'s output (id, width, height, channels, pixels) ->
    the same shape at (out_w, out_h).

    Pure numpy index sampling (the standard training-data thumbnail op) —
    exact integer math, so results are bit-deterministic across partitions
    and platforms.  Sample grid: src_i = floor(i * in / out) (the
    half-open-interval convention).
    """
    return df.select(id_col, "width", "height", "channels", "pixels") \
        .mapInPandas(partial(_resize_batches, out_w=out_w, out_h=out_h,
                             id_col=id_col),
                     schema=DECODE_SCHEMA)


AUDIO_SCHEMA = ("id long, sample_rate int, n_frames long, channels int, "
                "pcm binary")


def _is_wav(b: bytes) -> bool:
    """RIFF container whose form type is WAVE (bytes 8-12) — rejects WebP/
    AVI/other RIFFs before the wave parser sees them."""
    return len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"


def _decode_audio_batches(batches, *, id_col, bin_col):
    """``decode_audio`` kernel."""
    for pdf in batches:
        rows = {"id": [], "sample_rate": [], "n_frames": [],
                "channels": [], "pcm": []}
        for i, b in zip(pdf[id_col], pdf[bin_col]):
            b = bytes(b or b"")
            if not _is_wav(b):
                raise NotImplementedError(
                    f"no codec for format {sniff_format(b)!r} "
                    "(16-bit PCM WAV is the real audio path)")
            rate, pcm = wav_decode(b)
            rows["id"].append(int(i))
            rows["sample_rate"].append(rate)
            rows["n_frames"].append(pcm.shape[0])
            rows["channels"].append(pcm.shape[1])
            rows["pcm"].append(pcm.tobytes())
        yield pd.DataFrame(rows)


def decode_audio(df: DataFrame, id_col: str = "id",
                 bin_col: str = "payload") -> DataFrame:
    """Audio decode: 16-bit PCM WAV -> (sample_rate, n_frames, channels,
    little-endian int16 pcm).  Stdlib ``wave`` parser (codecs.py).
    Non-WAV payloads raise NotImplementedError (same contract as
    decode_image); a RIFF container that is not WAVE (e.g. WebP/AVI) is
    rejected by the WAVE magic check, not a deep wave.Error."""
    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        partial(_decode_audio_batches, id_col=id_col, bin_col=bin_col),
        schema=AUDIO_SCHEMA)


def _sample_frames_batches(batches, *, every_n, id_col, bin_col, fake):
    """``sample_frames`` kernel."""
    for pdf in batches:
        rows = {"id": [], "frame_idx": [], "frame": []}
        for i, b in zip(pdf[id_col], pdf[bin_col]):
            b = bytes(b or b"")
            if fake:
                n_frames = max(1, len(b) // 1024)
                for f_idx in range(0, n_frames, every_n):
                    rows["id"].append(int(i))
                    rows["frame_idx"].append(f_idx)
                    rows["frame"].append(b[f_idx * 1024:(f_idx + 1) * 1024])
                continue
            if sniff_format(b) == "gif":
                from ..functions.gif import gif_decode
                for f_idx, frame in enumerate(gif_decode(b)):
                    if f_idx % every_n:
                        continue
                    rows["id"].append(int(i))
                    rows["frame_idx"].append(f_idx)
                    rows["frame"].append(frame.tobytes())
                continue
            if sniff_format(b) == "avi":
                from ..functions.avi import avi_frame_chunks
                chunks, _, _ = avi_frame_chunks(b)
                for f_idx in range(0, len(chunks), every_n):
                    px = jpeg_decode(chunks[f_idx])
                    if px.ndim == 2:
                        px = np.repeat(px[:, :, None], 3, axis=2)
                    rows["id"].append(int(i))
                    rows["frame_idx"].append(f_idx)
                    rows["frame"].append(px.tobytes())
                continue
            if not _is_wav(b):
                raise NotImplementedError(
                    f"no codec for format {sniff_format(b)!r} "
                    "(16-bit PCM WAV, animated GIF and MJPEG AVI are "
                    "the real paths; pass fake=True for plumbing "
                    "tests)")
            _, pcm = wav_decode(b)
            n_blocks = max(1, -(-pcm.shape[0] // 1024))
            for f_idx in range(0, n_blocks, every_n):
                rows["id"].append(int(i))
                rows["frame_idx"].append(f_idx)
                rows["frame"].append(
                    pcm[f_idx * 1024:(f_idx + 1) * 1024].tobytes())
        yield pd.DataFrame(rows)


def sample_frames(df: DataFrame, every_n: int = 10, id_col: str = "id",
                  bin_col: str = "payload", fake: bool = False) -> DataFrame:
    """Frame sampling: emits (id, frame_idx, frame binary).

    REAL for 16-bit PCM WAV payloads (every ``every_n``-th 1024-sample
    block is one frame; frame_idx = block index) and for ANIMATED GIFs
    (functions/gif.py decodes the whole animation; every ``every_n``-th
    composited RGB canvas is one frame, emitted as raw HxWx3 bytes —
    frame_idx = animation frame index) and for MJPEG AVI (functions/
    avi.py walks the RIFF container WITHOUT decoding, then runs the JPEG
    decoder only on every ``every_n``-th chunk — MJPEG frames are
    intra-only, so skipped frames cost zero decode work, unlike GIF's
    sequential compositing).  Other video containers raise
    NotImplementedError (no codec libs ship here).  ``fake=True`` keeps
    the old plumbing mode: every 1 KiB of raw payload is one "frame".
    """
    return df.select(F.col(id_col), F.col(bin_col)).mapInPandas(
        partial(_sample_frames_batches, every_n=every_n, id_col=id_col,
                bin_col=bin_col, fake=fake),
        schema="id long, frame_idx int, frame binary")
