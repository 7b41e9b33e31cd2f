"""Kernel unit tests: hashmulti uint64 fidelity, chunking, bit packing, bands."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sbustreamspot_core_spark.functions.hashing import (
    chunk_byte_matrix,
    get_string_chunks,
    hashmulti,
    hashmulti_batch,
)
from sbustreamspot_core_spark.functions.sketches import (
    band_values,
    pack_sketch,
    sketch_bytes_to_bits,
    sketch_similarity_series,
    streamhash_similarity_bits,
    unpack_sketch,
)
from sbustreamspot_core_spark.rng import MT19937_64, allocate_random_bits


def test_mt19937_64_reference_stream():
    # Known-good values for std::mt19937_64 seeded with 5489 (the C++ default
    # seed): first output must be 14514284786278117030.
    prng = MT19937_64(5489)
    assert prng() == 14514284786278117030
    prng2 = MT19937_64(23)
    vals = [prng2() for _ in range(4)]
    assert len(set(vals)) == 4
    # determinism
    prng3 = MT19937_64(23)
    assert [prng3() for _ in range(4)] == vals


def test_allocate_random_bits_shape_and_determinism():
    H1 = allocate_random_bits(100, 10, 23)
    H2 = allocate_random_bits(100, 10, 23)
    assert H1.shape == (100, 12)
    assert H1.dtype == np.uint64
    assert np.array_equal(H1, H2)
    H3 = allocate_random_bits(100, 10, 24)
    assert not np.array_equal(H1, H3)


def test_get_string_chunks():
    assert get_string_chunks("abcdefg", 3) == ["abc", "def", "g"]
    assert get_string_chunks("abcdef", 3) == ["abc", "def"]
    assert get_string_chunks("", 3) == []


def test_hashmulti_batch_matches_scalar_oracle():
    H = allocate_random_bits(64, 8, 23)
    chunks = [" apbqr", "tqtr", "x", "abcdefgh", " ", "tt"]
    batch = hashmulti_batch(chunks, H)
    assert batch.shape == (6, 64)
    for r, c in enumerate(chunks):
        for i in range(64):
            assert batch[r, i] == hashmulti(c, H[i]), (c, i)


def test_hashmulti_uint64_wraparound():
    # All-ones coefficients with high bytes force wraparound; compare against
    # the masked pure-Python oracle.
    H = np.full((4, 10), 0xFFFFFFFFFFFFFFFF, dtype=np.uint64)
    chunks = ["\xff" * 8, "\x80\xff" * 4]
    batch = hashmulti_batch(chunks, H)
    for r, c in enumerate(chunks):
        for i in range(4):
            assert batch[r, i] == hashmulti(c, H[i])


@settings(max_examples=50, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(min_codepoint=1, max_codepoint=255),
                        min_size=1, max_size=6), min_size=1, max_size=8))
def test_hashmulti_property(chunks):
    H = allocate_random_bits(16, 6, 23)
    batch = hashmulti_batch(chunks, H)
    for r, c in enumerate(chunks):
        for i in range(16):
            assert batch[r, i] == hashmulti(c, H[i])


def test_chunk_byte_matrix_zero_padding():
    M = chunk_byte_matrix(["ab", "a"], 4)
    assert M.tolist() == [[97, 98, 0, 0], [97, 0, 0, 0]]


def test_pack_unpack_roundtrip():
    rng = np.random.default_rng(7)
    bits = rng.integers(0, 2, size=(5, 1000)).astype(np.uint8)
    packed = pack_sketch(bits)
    assert packed.shape == (5, 125)
    assert np.array_equal(unpack_sketch(packed, 1000), bits)
    raw = [bytes(packed[i]) for i in range(5)]
    assert np.array_equal(sketch_bytes_to_bits(raw, 1000), bits)


def test_pack_unpack_roundtrip_when_L_is_not_a_multiple_of_8():
    """L=100 packs into 13 bytes; unpacking and the pairwise similarity
    kernel read all 13."""
    import pandas as pd
    rng = np.random.default_rng(11)
    bits = rng.integers(0, 2, size=(4, 100)).astype(np.uint8)
    packed = pack_sketch(bits)
    assert packed.shape == (4, 13)
    assert np.array_equal(unpack_sketch(packed, 100), bits)
    raw = [bytes(packed[i]) for i in range(4)]
    assert np.array_equal(sketch_bytes_to_bits(raw, 100), bits)
    sim = sketch_similarity_series(pd.Series(raw[:2]), pd.Series(raw[2:]),
                                   L=100)
    assert sim.tolist() == pytest.approx(
        streamhash_similarity_bits(bits[:2], bits[2:], 100).tolist())
    assert sim.tolist() == pytest.approx(
        [1 - (bits[i] != bits[i + 2]).sum() / 100 for i in range(2)])


def test_band_values_match_bit_slices():
    rng = np.random.default_rng(3)
    bits = rng.integers(0, 2, size=(3, 1000)).astype(np.uint8)
    bands = band_values(bits, 50, 20)
    assert bands.shape == (3, 50)
    for n in range(3):
        for i in range(50):
            expect = sum(int(bits[n, 20 * i + j]) << j for j in range(20))
            assert bands[n, i] == expect


def test_streamhash_similarity_bits():
    a = np.array([[1, 0, 1, 1]], dtype=np.uint8)
    b = np.array([[1, 1, 1, 0]], dtype=np.uint8)
    assert streamhash_similarity_bits(a, b, 4)[0] == pytest.approx(0.5)
    assert streamhash_similarity_bits(a, a, 4)[0] == pytest.approx(1.0)
