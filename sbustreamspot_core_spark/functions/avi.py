"""Pure-stdlib Motion-JPEG AVI codec: RIFF container walk + per-frame JPEG.

Implemented from the public AVI RIFF file format (Microsoft Video for
Windows SDK, 1992 — the "AVI RIFF File Reference": a RIFF tree with a
'hdrl' header list, a 'movi' list of frame chunks, and an optional 'idx1'
index) and the common M-JPEG convention that every '##dc' chunk of a
'vids' stream with handler/compression 'MJPG' is one complete baseline
JPEG image.  Frames decode through functions/jpeg.py — the from-scratch
ITU-T T.81 codec — so nothing here needs an image or video library.
Complements functions/gif.py (animations) and codecs.py (PNG/WAV);
together they back operators/multimodal.py's real decode paths (no
counterpart in sbustreamspot-core, which is graph-only — this is the
LLM-pipeline multimodal surface, SURVEY.md §2).

The intra-only property is the scale lever: unlike GIF (whose frames
composite over the previous canvas, forcing a sequential decode of the
whole animation), every MJPEG frame decodes independently — so
operators/multimodal.py:decode_image walks the chunk list FIRST and runs
the JPEG decoder on the first frame only.

Decoder subset:
- single 'vids' stream whose handler or biCompression reads MJPG/mjpg/
  JPEG/dmb1; '##db' uncompressed-DIB chunks and non-MJPEG codecs raise
  NotImplementedError; anything structurally malformed raises
  AviFormatError.
- frame chunks read either directly under 'movi' or inside interleaved
  'rec ' sub-lists; 'idx1' is ignored (movi order is authoritative for a
  linear read); odd-sized chunks carry the RIFF pad byte.

Encoder (fixture/test writer): (n, H, W[, 3]) uint8 frames ->
jpeg_encode per frame -> 'movi' 00dc chunks + idx1, fixed fps
(dwRate/dwScale = round(1000*fps)/1000).
"""

from __future__ import annotations

import struct

import numpy as np

from .jpeg import jpeg_decode, jpeg_encode


class AviFormatError(ValueError):
    """Structurally invalid AVI input."""


_MJPEG_CODECS = {b"MJPG", b"mjpg", b"MJPA", b"dmb1", b"JPEG", b"jpeg"}
_AVIF_HASINDEX = 0x10
_AVIIF_KEYFRAME = 0x10


def _u32(b: bytes, off: int) -> int:
    if off + 4 > len(b):
        raise AviFormatError("truncated dword")
    return struct.unpack_from("<I", b, off)[0]


def _chunks(data: bytes, pos: int, end: int):
    """Yield (fourcc, list_type_or_None, body_start, body_size) for each
    RIFF chunk in [pos, end); 'LIST' chunks report their list type and a
    body that EXCLUDES the 4-byte type tag."""
    while pos + 8 <= end:
        fourcc = data[pos:pos + 4]
        size = _u32(data, pos + 4)
        body = pos + 8
        if body + size > end:
            raise AviFormatError(
                f"chunk {fourcc!r} overruns its parent "
                f"({body + size} > {end})")
        if fourcc in (b"LIST", b"RIFF"):
            if size < 4:
                raise AviFormatError("LIST chunk too small for a type tag")
            yield fourcc, data[body:body + 4], body + 4, size - 4
        else:
            yield fourcc, None, body, size
        pos = body + size + (size & 1)        # RIFF word alignment


def _parse(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise AviFormatError("not an AVI (missing RIFF/AVI signature)")
    end = min(len(data), 8 + _u32(data, 4))
    meta = {"fps": 0.0, "width": 0, "height": 0, "declared_frames": 0,
            "vids_stream": None, "codec": None, "frames": []}
    stream_no = 0
    for fourcc, ltype, body, size in _chunks(data, 12, end):
        if fourcc == b"LIST" and ltype == b"hdrl":
            for cc2, lt2, b2, s2 in _chunks(data, body, body + size):
                if cc2 == b"avih":
                    if s2 < 40:
                        raise AviFormatError("avih header too small")
                    usec = _u32(data, b2)
                    meta["declared_frames"] = _u32(data, b2 + 16)
                    meta["width"] = meta["width"] or _u32(data, b2 + 32)
                    meta["height"] = meta["height"] or _u32(data, b2 + 36)
                    if usec and not meta["fps"]:
                        meta["fps"] = 1e6 / usec
                elif cc2 == b"LIST" and lt2 == b"strl":
                    is_vids = False
                    for cc3, _, b3, s3 in _chunks(data, b2, b2 + s2):
                        if cc3 == b"strh":
                            if s3 < 36:
                                raise AviFormatError("strh too small")
                            if data[b3:b3 + 4] == b"vids":
                                is_vids = True
                                meta["vids_stream"] = stream_no
                                meta["codec"] = data[b3 + 4:b3 + 8]
                                scale, rate = (_u32(data, b3 + 20),
                                               _u32(data, b3 + 24))
                                if scale and rate:
                                    meta["fps"] = rate / scale
                        elif cc3 == b"strf" and is_vids and s3 >= 20:
                            meta["width"] = _u32(data, b3 + 4) or meta["width"]
                            bi_h = struct.unpack_from("<i", data, b3 + 8)[0]
                            meta["height"] = abs(bi_h) or meta["height"]
                            comp = data[b3 + 16:b3 + 20]
                            if comp.strip(b"\0"):
                                meta["codec"] = comp
                    stream_no += 1
        elif fourcc == b"LIST" and ltype == b"movi":
            _collect_frames(data, body, body + size, meta)
    if meta["vids_stream"] is None:
        raise AviFormatError("no 'vids' stream in hdrl")
    if meta["codec"] not in _MJPEG_CODECS:
        raise NotImplementedError(
            f"video codec {meta['codec']!r} not supported "
            "(MJPG frames are the real path)")
    return meta


def _collect_frames(data: bytes, pos: int, end: int, meta: dict) -> None:
    sid = f"{meta['vids_stream'] if meta['vids_stream'] is not None else 0:02d}"
    want_dc = (sid + "dc").encode()
    want_db = (sid + "db").encode()
    for fourcc, ltype, body, size in _chunks(data, pos, end):
        if fourcc == b"LIST" and ltype == b"rec ":   # interleaved grouping
            _collect_frames(data, body, body + size, meta)
        elif fourcc == want_dc:
            meta["frames"].append(data[body:body + size])
        elif fourcc == want_db:
            raise NotImplementedError(
                "uncompressed '##db' DIB frames not supported")


def avi_frame_chunks(data: bytes):
    """AVI bytes -> (list of per-frame JPEG byte strings, fps, (w, h)).

    The cheap call: walks the container WITHOUT decoding any frame, so a
    sampler can slice the list and decode only what it keeps."""
    try:
        meta = _parse(bytes(data))
    except (AviFormatError, NotImplementedError):
        raise
    except (struct.error, IndexError, ValueError) as e:
        raise AviFormatError(f"malformed AVI: {e}")
    if not meta["frames"]:
        raise AviFormatError("no video frame chunks in 'movi'")
    return meta["frames"], float(meta["fps"]), (meta["width"], meta["height"])


def avi_decode(data: bytes):
    """AVI bytes -> ((n_frames, H, W, 3) uint8 array, fps).

    Decodes every MJPEG frame via functions/jpeg.py; grayscale frames are
    expanded to 3 channels so the stack is uniform."""
    chunks, fps, _ = avi_frame_chunks(data)
    frames = []
    for i, c in enumerate(chunks):
        px = jpeg_decode(c)
        if px.ndim == 2:
            px = np.repeat(px[:, :, None], 3, axis=2)
        if frames and px.shape != frames[0].shape:
            raise AviFormatError(
                f"frame {i} shape {px.shape} != frame 0 {frames[0].shape}")
        frames.append(px)
    return np.stack(frames), fps


def avi_encode(frames: np.ndarray, fps: float = 10.0,
               quality: int = 90) -> bytes:
    """(n, H, W) or (n, H, W, 3) uint8 -> MJPEG AVI bytes."""
    arr = np.asarray(frames, dtype=np.uint8)
    if arr.ndim == 3:
        n, h, w = arr.shape
    elif arr.ndim == 4 and arr.shape[3] == 3:
        n, h, w = arr.shape[:3]
    else:
        raise ValueError("expected (n, H, W) or (n, H, W, 3) uint8 frames")
    if n == 0 or fps <= 0:
        raise ValueError("need >= 1 frame and fps > 0")
    payloads = [jpeg_encode(f, quality=quality) for f in arr]
    maxbuf = max(len(p) for p in payloads)
    rate, scale = max(1, round(fps * 1000)), 1000

    def chunk(fourcc: bytes, body: bytes) -> bytes:
        return (fourcc + struct.pack("<I", len(body)) + body
                + (b"\0" if len(body) & 1 else b""))

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    avih = struct.pack(
        "<10I4x4x4x4x", round(1e6 * scale / rate), maxbuf * round(fps), 0,
        _AVIF_HASINDEX, n, 0, 1, maxbuf, w, h)
    strh = struct.pack(
        "<4s4sI2H8I4h", b"vids", b"MJPG", 0, 0, 0, 0, scale, rate, 0, n,
        maxbuf, 10000, 0, 0, 0, w, h)
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG",
                       w * h * 3, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi_body, idx, off = b"", b"", 4     # offsets relative to 'movi' tag
    for p in payloads:
        c = chunk(b"00dc", p)
        idx += struct.pack("<4s3I", b"00dc", _AVIIF_KEYFRAME, off, len(p))
        movi_body += c
        off += len(c)
    riff_body = (b"AVI " + hdrl + lst(b"movi", movi_body)
                 + chunk(b"idx1", idx))
    return chunk(b"RIFF", riff_body)
