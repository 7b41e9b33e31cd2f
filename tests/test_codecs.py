"""Pure-stdlib codec layer (functions/codecs.py): PNG decode/encode and
WAV/PCM, plus the multimodal decode operators over them."""

import hashlib
import struct
import zlib
from binascii import crc32

import numpy as np
import pytest
from pyspark.sql import functions as F

from sbustreamspot_core_spark.functions.codecs import (
    PngFormatError,
    png_decode,
    png_encode,
    wav_decode,
    wav_encode,
)
from sbustreamspot_core_spark.operators.multimodal import (
    decode_audio,
    decode_image,
)


def _manual_png(width, height, color_type, raw_scanlines):
    """Build a PNG byte stream directly from the spec (struct + zlib only),
    independent of png_encode, so the decoder is pinned against hand-built
    input, not just our own encoder."""
    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", crc32(ctype + data) & 0xFFFFFFFF))
    sig = b"\x89PNG\r\n\x1a\n"
    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    return (sig + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw_scanlines))
            + chunk(b"IEND", b""))


def test_png_decode_hand_built_filters():
    # 3x2 grayscale, hand-computed reconstructions for each filter type
    # row 0: filter 1 (Sub), raw 10,5,7 -> recon 10,15,22
    # row 1: filter 2 (Up),  raw 1,2,3  -> recon 11,17,25
    raw = bytes([1, 10, 5, 7]) + bytes([2, 1, 2, 3])
    img = png_decode(_manual_png(3, 2, 0, raw))
    assert img.shape == (2, 3, 1)
    assert img[:, :, 0].tolist() == [[10, 15, 22], [11, 17, 25]]

    # Average: row0 filter 0 recon 4,8; row1 filter 3 raw 10,10
    #   x0: 10 + (0+4)//2 = 12 ; x1: 10 + (12+8)//2 = 20
    raw = bytes([0, 4, 8]) + bytes([3, 10, 10])
    img = png_decode(_manual_png(2, 2, 0, raw))
    assert img[:, :, 0].tolist() == [[4, 8], [12, 20]]

    # Paeth: row0 filter 0 recon 3,9; row1 filter 4 raw 5,5
    #   x0: a=0,b=3,c=0 -> p=3 pa=3 pb=0 -> pred b=3 -> 8
    #   x1: a=8,b=9,c=3 -> p=14 pa=6 pb=5 pc=11 -> pred b=9 -> 14
    raw = bytes([0, 3, 9]) + bytes([4, 5, 5])
    img = png_decode(_manual_png(2, 2, 0, raw))
    assert img[:, :, 0].tolist() == [[3, 9], [8, 14]]


def test_png_roundtrip_all_color_types_and_filters():
    rng = np.random.default_rng(7)
    for c in (1, 2, 3, 4):
        arr = rng.integers(0, 256, size=(11, 6, c), dtype=np.uint8)
        filters = [y % 5 for y in range(11)]
        assert np.array_equal(png_decode(png_encode(arr, filters)), arr)
        # wraparound-heavy content (all-255 / all-0 alternating rows)
        arr2 = np.tile(
            np.array([255, 0], dtype=np.uint8)[:, None, None], (5, 3, c))
        assert np.array_equal(
            png_decode(png_encode(arr2, [4] * 10)), arr2)


def test_png_errors():
    with pytest.raises(PngFormatError):
        png_decode(b"notapng")
    good = png_encode(np.zeros((2, 2), dtype=np.uint8))
    # corrupt one IDAT byte -> CRC failure
    bad = bytearray(good)
    bad[41] ^= 0xFF
    with pytest.raises(PngFormatError):
        png_decode(bytes(bad))
    # palette color type is out of subset
    raw = bytes([0, 0])
    with pytest.raises(NotImplementedError):
        png_decode(_manual_png(1, 1, 3, raw))
    # input truncated INSIDE a chunk's trailing CRC field (body fully
    # present, CRC bytes short) must raise the documented PngFormatError,
    # not struct.error
    with pytest.raises(PngFormatError):
        png_decode(good[:-2])


def test_wav_roundtrip_and_subset():
    rng = np.random.default_rng(3)
    pcm = rng.integers(-32768, 32768, size=(500, 2)).astype("<i2")
    rate, out = wav_decode(wav_encode(44100, pcm))
    assert rate == 44100 and np.array_equal(out, pcm)
    mono = rng.integers(-32768, 32768, size=301).astype("<i2")
    rate, out = wav_decode(wav_encode(8000, mono))
    assert out.shape == (301, 1) and np.array_equal(out[:, 0], mono)


def test_decode_image_spark_real_path(spark):
    # distributed PNG decode over the committed fixture == the expected
    # source-array dims/md5 computed BEFORE encoding
    imgs = spark.read.parquet("/root/repo/fixtures/png_expected.parquet")
    got = decode_image(imgs.select("id", "payload")).withColumn(
        "got_md5", F.md5("pixels")).drop("pixels")
    joined = got.join(
        imgs.select("id", F.col("width").alias("ew"),
                    F.col("height").alias("eh"),
                    F.col("channels").alias("ec"), "pixel_md5"), "id")
    rows = joined.collect()
    assert len(rows) == 24
    for r in rows:
        assert (r.width, r.height, r.channels) == (r.ew, r.eh, r.ec)
        assert r.got_md5 == r.pixel_md5
    # unsupported-format payload on the real path raises cleanly (GIF is a
    # real path since round 5, so probe with a BMP-ish magic instead)
    bad = spark.createDataFrame([(1, bytearray(b"BMxxnot-an-image"))],
                                "id long, payload binary")
    with pytest.raises(Exception, match="no codec for format"):
        decode_image(bad).collect()
    # a malformed GIF surfaces the codec's own format error
    badgif = spark.createDataFrame([(1, bytearray(b"GIF89a...."))],
                                   "id long, payload binary")
    with pytest.raises(Exception, match="not a GIF|GifFormatError"):
        decode_image(badgif).collect()


def test_decode_audio_spark(spark):
    wavs = spark.read.parquet("/root/repo/fixtures/wav_expected.parquet")
    got = decode_audio(wavs.select("id", "payload")).withColumn(
        "got_md5", F.md5("pcm"))
    joined = {r.id: r for r in got.join(
        wavs.select("id", F.col("sample_rate").alias("er"),
                    F.col("n_frames").alias("en"),
                    F.col("channels").alias("ec"), "pcm_md5"),
        "id").collect()}
    assert len(joined) == 8
    for r in joined.values():
        assert (r.sample_rate, r.n_frames, r.channels) == (r.er, r.en, r.ec)
        assert r.got_md5 == r.pcm_md5


def test_fixture_md5_is_of_source_arrays():
    # regression guard on the non-circularity claim: decode one committed
    # payload locally and confirm the md5 column matches the decoded pixels
    import pyarrow.parquet as pq
    t = pq.read_table("/root/repo/fixtures/png_expected.parquet").to_pylist()
    r = t[0]
    arr = png_decode(r["payload"])
    assert hashlib.md5(arr.tobytes()).hexdigest() == r["pixel_md5"]
    assert arr.shape == (r["height"], r["width"], r["channels"])


# ------------------------------------------------------------------- GIF

def _gif_bytes(width, height, gct, blocks):
    """Hand-assemble a GIF89a stream from the spec (struct only) so the
    decoder is pinned against hand-built input, not just gif_encode."""
    out = bytearray(b"GIF89a") + struct.pack("<HH", width, height)
    size_field = 0
    while (2 << size_field) < len(gct):
        size_field += 1
    out += bytes([0x80 | size_field, 0, 0])
    table = np.zeros((2 << size_field, 3), dtype=np.uint8)
    table[:len(gct)] = gct
    out += table.tobytes()
    for b in blocks:
        out += b
    out += b"\x3B"
    return bytes(out)


def _image_block(indices, left=0, top=0, min_code=2, gce=None):
    from sbustreamspot_core_spark.functions.gif import lzw_encode

    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    out = bytearray()
    if gce is not None:
        out += bytes([0x21, 0xF9, 4]) + bytes(gce) + b"\x00"
    out += bytes([0x2C]) + struct.pack("<HHHH", left, top, w, h)
    out += bytes([0, min_code])
    body = lzw_encode(idx.reshape(-1), min_code)
    for i in range(0, len(body), 255):
        out += bytes([len(body[i:i + 255])]) + body[i:i + 255]
    out += b"\x00"
    return bytes(out)


def test_gif_lzw_hand_pinned():
    """Hand-derived variable-width LZW stream: indices [1,1,0,0] at
    min_code_size 2 pack to exactly 4C 00 05 (codes clear=4,1,1,0 at 3
    bits, then 0 and end=5 at 4 bits after entry 8 fills the 3-bit space,
    LSB-first)."""
    from sbustreamspot_core_spark.functions.gif import lzw_decode, lzw_encode

    assert bytes(lzw_decode(b"\x4c\x00\x05", 2)) == bytes([1, 1, 0, 0])
    assert lzw_encode(np.array([1, 1, 0, 0]), 2) == b"\x4c\x00\x05"


def test_gif_hand_built_decode():
    """2x2 two-color image assembled byte-by-byte from the GIF89a spec
    decodes to the hand-computed RGB canvas."""
    from sbustreamspot_core_spark.functions.gif import gif_decode

    gct = np.array([[10, 20, 30], [200, 100, 50]], dtype=np.uint8)
    data = _gif_bytes(2, 2, gct,
                      [b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2)
                       + b"\x00\x02" + b"\x03\x4c\x00\x05" + b"\x00"])
    got = gif_decode(data)
    want = gct[np.array([[1, 1], [0, 0]])]
    assert got.shape == (1, 2, 2, 3) and np.array_equal(got[0], want)


def test_gif_roundtrip_interlace_and_animation():
    from sbustreamspot_core_spark.functions.gif import gif_decode, gif_encode

    rng = np.random.default_rng(11)
    frames = (rng.integers(0, 200, size=(4, 21, 33)).astype(np.uint8)[..., None]
              * np.array([1, 1, 1], dtype=np.uint8))
    assert np.array_equal(gif_decode(gif_encode(frames)), frames)
    one = frames[0]
    assert np.array_equal(gif_decode(gif_encode(one, interlace=True))[0], one)
    # dictionary reset: enough distinct context to exceed 4096 LZW entries
    big = (rng.integers(0, 250, size=(120, 130)).astype(np.uint8)[..., None]
           * np.array([1, 1, 1], dtype=np.uint8))
    assert np.array_equal(gif_decode(gif_encode(big))[0], big)


def test_gif_subrect_transparency_disposal():
    """Frame 2 is a sub-rectangle with a transparent index composited over
    frame 1's canvas; frame 3's GCE asks disposal 2 (restore rect to
    background) which must show in frame 4's canvas."""
    from sbustreamspot_core_spark.functions.gif import gif_decode

    gct = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    full = _image_block(np.full((4, 4), 1))                 # all red
    # 2x2 patch at (1,1): green with transparent index 3 in one corner
    patch = _image_block(np.array([[2, 3], [2, 2]]), left=1, top=1,
                         gce=[0x01, 0, 0, 3])               # transparency on
    # disposal-2 patch: blue 1x1 at (0,0), restored to bg after the frame
    d2 = _image_block(np.array([[3]]), left=0, top=0,
                      gce=[0x08, 0, 0, 0])                  # disposal 2
    tail = _image_block(np.full((4, 4), 2))                 # all green
    got = gif_decode(_gif_bytes(4, 4, gct, [full, patch, d2, tail]))
    assert got.shape == (4, 4, 4, 3)
    assert np.array_equal(got[0], gct[np.full((4, 4), 1)])
    want1 = np.full((4, 4), 1)
    want1[1:3, 1:3] = [[2, 1], [2, 2]]                      # transparent kept red
    assert np.array_equal(got[1], gct[want1])
    want2 = want1.copy()
    want2[0, 0] = 3
    assert np.array_equal(got[2], gct[want2])
    assert np.array_equal(got[3], gct[np.full((4, 4), 2)])


def test_gif_disposal_restore_to_previous():
    """Disposal 3: the frame shows its own pixels, but the NEXT frame
    composites over the canvas as it was BEFORE the disposal-3 frame —
    including state painted by an earlier disposal-0 frame, which
    restore-to-background would lose."""
    from sbustreamspot_core_spark.functions.gif import gif_decode

    gct = np.array([[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]],
                   dtype=np.uint8)
    full = _image_block(np.full((3, 3), 1))                 # all red
    # disposal-3 green 2x2 patch at (0,0)
    d3 = _image_block(np.full((2, 2), 2), left=0, top=0,
                      gce=[0x0C, 0, 0, 0])                  # disposal 3
    # tiny follow-up: blue 1x1 at (2,2) — rest of canvas must be the
    # PRE-patch state (all red), not background and not green
    tail = _image_block(np.array([[3]]), left=2, top=2)
    got = gif_decode(_gif_bytes(3, 3, gct, [full, d3, tail]))
    assert got.shape == (3, 3, 3, 3)
    assert np.array_equal(got[0], gct[np.full((3, 3), 1)])
    want1 = np.full((3, 3), 1)
    want1[0:2, 0:2] = 2                                     # patch visible
    assert np.array_equal(got[1], gct[want1])
    want2 = np.full((3, 3), 1)                              # patch undone
    want2[2, 2] = 3
    assert np.array_equal(got[2], gct[want2])


def test_gif_errors():
    from sbustreamspot_core_spark.functions.gif import GifFormatError, gif_decode, gif_encode

    rng = np.random.default_rng(3)
    ok = gif_encode((rng.integers(0, 4, size=(5, 5)).astype(np.uint8)[..., None]
                     * np.array([1, 1, 1], dtype=np.uint8)))
    for bad in [b"", b"GIF89a", b"BMP?????", ok[:-2], ok[:20]]:
        with pytest.raises(GifFormatError):
            gif_decode(bad)
    with pytest.raises(ValueError, match="distinct colors"):
        i = np.arange(17 * 16)
        many = np.stack([i % 256, i // 256, np.zeros_like(i)],
                        axis=1).astype(np.uint8).reshape(17, 16, 3)
        gif_encode(many)


def test_gif_spark_decode_first_frame(spark):
    """decode_image returns the first composited frame over the Arrow batch
    path."""
    from sbustreamspot_core_spark.functions.gif import gif_encode

    rng = np.random.default_rng(29)
    frames = (rng.integers(0, 100, size=(7, 9, 11)).astype(np.uint8)[..., None]
              * np.array([1, 1, 1], dtype=np.uint8))
    still = (rng.integers(0, 50, size=(6, 8)).astype(np.uint8)[..., None]
             * np.array([1, 1, 1], dtype=np.uint8))
    df = spark.createDataFrame(
        [(0, bytearray(gif_encode(frames))),
         (1, bytearray(gif_encode(still, interlace=True)))],
        "id long, payload binary")
    dec = {r.id: r for r in decode_image(df).collect()}
    assert (dec[0].width, dec[0].height, dec[0].channels) == (11, 9, 3)
    assert bytes(dec[0].pixels) == frames[0].tobytes()
    assert bytes(dec[1].pixels) == still.tobytes()
