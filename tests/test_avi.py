"""MJPEG-AVI codec (functions/avi.py) + Spark decode wiring.

Oracle pattern matches the JPEG tests: JPEG is lossy, so roundtrips pin
exact dims / frame counts / fps plus an a-priori MAE bound against the
PRE-encoding pixels (non-circular), and the container layer is pinned
with a hand-assembled RIFF tree."""

import struct

import numpy as np
import pytest

from sbustreamspot_core_spark.functions.avi import (
    AviFormatError,
    avi_decode,
    avi_encode,
    avi_frame_chunks,
)
from sbustreamspot_core_spark.functions.jpeg import jpeg_encode
from sbustreamspot_core_spark.operators.multimodal import (
    decode_image,
    sniff_format,
)


def _smooth_frames(n, h, w, seed=7):
    rng = np.random.default_rng(seed)
    yy, xx = np.mgrid[0:h, 0:w]
    frames = np.zeros((n, h, w, 3))
    for i in range(n):
        frames[i, ..., 0] = (yy * 3 + xx * 2 + 10 * i) % 256
        frames[i, ..., 1] = (yy * 5 + 7 * i) % 256
        frames[i, ..., 2] = (xx * 4 + 3 * i) % 256
    return np.clip(frames + rng.normal(0, 4, frames.shape),
                   0, 255).astype(np.uint8)


def test_avi_roundtrip_color_and_gray():
    frames = _smooth_frames(6, 24, 32)
    data = avi_encode(frames, fps=12.5, quality=95)
    chunks, fps, (w, h) = avi_frame_chunks(data)
    assert (len(chunks), fps, w, h) == (6, 12.5, 32, 24)
    dec, fps2 = avi_decode(data)
    assert dec.shape == (6, 24, 32, 3) and fps2 == 12.5
    # a-priori quantization bound (same constant as the JPEG fixture gate)
    assert np.abs(dec.astype(float) - frames.astype(float)).mean() <= 5.0

    gray = _smooth_frames(3, 16, 16)[..., 0]       # (3, H, W)
    d2, _ = avi_decode(avi_encode(gray, fps=5, quality=90))
    assert d2.shape == (3, 16, 16, 3)              # gray expands to 3ch
    assert np.abs(d2[..., 0].astype(float) - gray.astype(float)).mean() <= 5.0


def _chunk(fourcc, body):
    return fourcc + struct.pack("<I", len(body)) + body \
        + (b"\0" if len(body) & 1 else b"")


def _lst(ltype, body):
    return _chunk(b"LIST", ltype + body)


def _hand_avi(frame_payloads, wrap_rec=False, handler=b"MJPG",
              stream=b"vids"):
    """Assemble an AVI by hand, independently of avi_encode."""
    avih = struct.pack("<10I16x", 100000, 0, 0, 0, len(frame_payloads),
                       0, 1, 0, 32, 24)
    strh = struct.pack("<4s4sI2H8I4h", stream, handler, 0, 0, 0,
                       0, 1, 10, 0, len(frame_payloads), 0, 0, 0,
                       0, 0, 32, 24)
    strf = struct.pack("<IiiHH4sIiiII", 40, 32, 24, 1, 24, handler,
                       32 * 24 * 3, 0, 0, 0, 0)
    hdrl = _lst(b"hdrl", _chunk(b"avih", avih)
                + _lst(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)))
    movi = b"".join(_chunk(b"00dc", p) for p in frame_payloads)
    if wrap_rec:
        movi = _lst(b"rec ", movi)
    return _chunk(b"RIFF", b"AVI " + hdrl + _lst(b"movi", movi))


def test_avi_hand_built_container():
    """Container walk pinned against a hand-assembled RIFF tree: chunk
    payloads come back byte-identical, in movi order, fps = rate/scale,
    and 'rec '-wrapped interleaved chunks are found too."""
    # deliberately odd-length payloads exercise the RIFF pad byte
    payloads = [b"frame-one!", b"frame-two", b"x"]
    chunks, fps, (w, h) = avi_frame_chunks(
        _hand_avi(payloads) )
    assert chunks == payloads and fps == 10.0 and (w, h) == (32, 24)
    chunks2, _, _ = avi_frame_chunks(_hand_avi(payloads, wrap_rec=True))
    assert chunks2 == payloads


def test_avi_errors():
    with pytest.raises(AviFormatError):
        avi_frame_chunks(b"")
    with pytest.raises(AviFormatError):        # RIFF but WAVE subtype
        avi_frame_chunks(b"RIFF\x04\x00\x00\x00WAVE")
    good = avi_encode(_smooth_frames(2, 8, 8), fps=4)
    with pytest.raises(AviFormatError):        # truncated mid-tree
        avi_frame_chunks(good[:40])
    with pytest.raises(NotImplementedError):   # non-MJPEG codec
        avi_frame_chunks(_hand_avi([b"x"], handler=b"H264"))
    with pytest.raises(AviFormatError):        # no vids stream at all
        avi_frame_chunks(_hand_avi([b"x"], stream=b"auds"))
    with pytest.raises(AviFormatError):        # vids stream, empty movi
        avi_frame_chunks(_hand_avi([]))


def test_avi_sniff():
    assert sniff_format(avi_encode(_smooth_frames(1, 8, 8))) == "avi"
    assert sniff_format(b"RIFF\x04\x00\x00\x00WAVE") == "wav"
    assert sniff_format(b"RIFF\x04\x00\x00\x00ACON") == "riff"


def test_avi_spark_decode_first_frame(spark):
    """decode_image pulls ONLY the first frame chunk, over the Arrow
    path."""
    frames = _smooth_frames(7, 16, 16, seed=29)
    df = spark.createDataFrame(
        [(0, bytearray(avi_encode(frames, fps=10, quality=95)))],
        "id long, payload binary")
    dec = decode_image(df).collect()[0]
    assert (dec.width, dec.height, dec.channels) == (16, 16, 3)
    first = np.frombuffer(bytes(dec.pixels), dtype=np.uint8).astype(float)
    assert np.abs(first - frames[0].reshape(-1).astype(float)).mean() <= 5.0
