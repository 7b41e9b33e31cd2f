"""Sketch bit manipulation: packing, similarity, LSH banding (numpy).

Bit convention: logical sketch bit ``l`` (the reference's ``bitset<L>`` index,
streamhash.cpp:36-38) is stored little-endian-within-byte: byte ``l // 8``,
bit ``l % 8``.  ``np.packbits(bitorder="little")`` / ``unpackbits`` round-trip
this exactly, and LSH band values come out identical to the reference's
``(sketch >> R*i) & mask`` slicing (cluster.cpp:29-41).
"""

from __future__ import annotations

import numpy as np


def pack_sketch(bits: np.ndarray) -> np.ndarray:
    """(n, L) {0,1} -> (n, ceil(L/8)) uint8 packed rows (the last byte's
    high bits are 0 when L is not a multiple of 8)."""
    return np.packbits(bits.astype(np.uint8), axis=1, bitorder="little")


def unpack_sketch(packed: np.ndarray, L: int) -> np.ndarray:
    """(n, ceil(L/8)) uint8 -> (n, L) {0,1}."""
    return np.unpackbits(packed, axis=1, bitorder="little")[:, :L]


def sketch_bytes_to_bits(col, L: int) -> np.ndarray:
    """Column of Python ``bytes`` (length ceil(L/8)) -> (n, L) uint8 bit
    matrix."""
    arr = np.frombuffer(b"".join(col), dtype=np.uint8).reshape(
        len(col), -(-L // 8))
    return unpack_sketch(arr, L)


def streamhash_similarity_bits(bits1: np.ndarray, bits2: np.ndarray, L: int) -> np.ndarray:
    """Row-wise fraction of equal bits (streamhash.cpp:17-20).

    ``bits*``: (n, L) {0,1} matrices.
    """
    return 1.0 - (bits1 != bits2).sum(axis=1) / float(L)


def sketch_similarity_series(a, b, *, L):
    """Scalar pandas-UDF kernel: ``streamhash_similarity_bits`` of two
    packed-sketch columns."""
    import pandas as pd
    return pd.Series(streamhash_similarity_bits(
        sketch_bytes_to_bits(a.tolist(), L),
        sketch_bytes_to_bits(b.tolist(), L), L))


def band_values(bits: np.ndarray, B: int, R: int) -> np.ndarray:
    """(n, L) {0,1} -> (n, B) int64 band bucket values.

    Band i of a sketch is bits [R*i, R*i+R); bit j of the band value is sketch
    bit R*i + j (cluster.cpp:29-34: ``(sketch >> (R*i)) & mask``).
    """
    n = bits.shape[0]
    reshaped = bits[:, : B * R].reshape(n, B, R).astype(np.int64)
    weights = (1 << np.arange(R, dtype=np.int64))
    return reshaped @ weights
