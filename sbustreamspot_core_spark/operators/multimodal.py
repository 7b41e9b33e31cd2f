"""Multimodal (binary-column) operators (training-data pipeline ops).

Images and audio are opaque ``binary`` columns.  The decoders are
Arrow-batched ``mapInPandas`` kernels over the pure-stdlib/numpy codecs in
``functions/``:

- ``sniff_format``: magic-byte container detection.
- ``decode_image``: PNG (stdlib zlib + numpy unfilter decoder, 8-bit
  gray/RGB/gray-alpha/RGBA, all five row filters), baseline JFIF JPEG
  (functions/jpeg.py: from-scratch T.81 Huffman decode + numpy IDCT,
  4:4:4/4:2:2/4:2:0, restart markers), GIF87a/89a (functions/gif.py:
  variable-width LZW, interlace, sub-rect compositing, transparency —
  first composited frame), and MJPEG AVI (functions/avi.py: RIFF
  container walk, first frame).
- ``decode_audio``: 16-bit PCM WAV (stdlib ``wave``).

Other formats raise NotImplementedError — no codec libraries ship with
the package.  Both decoders read ids from ``id`` and payloads from
``payload``.
"""

from __future__ import annotations

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


DECODE_SCHEMA = ("id long, width int, height int, channels int, "
                 "pixels binary")


def _decode_image_batches(batches):
    """``decode_image`` kernel."""
    for pdf in batches:
        rows = {"id": [], "width": [], "height": [], "channels": [],
                "pixels": []}
        for i, b in zip(pdf["id"], pdf["payload"]):
            if sniff_format(b or b"") == "png":
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
                    "(PNG/JPEG/GIF/MJPEG-AVI are the real paths)")
            rows["id"].append(int(i))
            rows["width"].append(px.shape[1])
            rows["height"].append(px.shape[0])
            rows["channels"].append(px.shape[2] if px.ndim == 3 else 1)
            rows["pixels"].append(px.tobytes())
        yield pd.DataFrame(rows)


def decode_image(df: DataFrame) -> DataFrame:
    """Image decode: binary -> (width, height, channels, raw pixels).

    REAL for PNG via functions/codecs.py (stdlib zlib + numpy unfilter;
    8-bit gray/RGB/gray-alpha/RGBA, all five filters), baseline JFIF JPEG
    via functions/jpeg.py (from-scratch T.81 Huffman + IDCT), GIF via
    functions/gif.py (first composited frame), and MJPEG AVI via
    functions/avi.py (first frame chunk only — no full-video decode).
    Other payloads raise NotImplementedError (no codec libraries ship
    with the package).
    """
    return df.select("id", "payload").mapInPandas(
        _decode_image_batches, schema=DECODE_SCHEMA)


AUDIO_SCHEMA = ("id long, sample_rate int, n_frames long, channels int, "
                "pcm binary")


def _is_wav(b: bytes) -> bool:
    """RIFF container whose form type is WAVE (bytes 8-12) — rejects WebP/
    AVI/other RIFFs before the wave parser sees them."""
    return len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"WAVE"


def _decode_audio_batches(batches):
    """``decode_audio`` kernel."""
    for pdf in batches:
        rows = {"id": [], "sample_rate": [], "n_frames": [],
                "channels": [], "pcm": []}
        for i, b in zip(pdf["id"], pdf["payload"]):
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


def decode_audio(df: DataFrame) -> DataFrame:
    """Audio decode: 16-bit PCM WAV -> (sample_rate, n_frames, channels,
    little-endian int16 pcm).  Stdlib ``wave`` parser (codecs.py).
    Non-WAV payloads raise NotImplementedError (same contract as
    decode_image); a RIFF container that is not WAVE (e.g. WebP/AVI) is
    rejected by the WAVE magic check, not a deep wave.Error."""
    return df.select("id", "payload").mapInPandas(
        _decode_audio_batches, schema=AUDIO_SCHEMA)
