"""Deterministic random source for the StreamHash kernels.

The reference seeds a ``std::mt19937_64`` with SEED=23 (main.cpp:83) and draws
the universal hash family H (main.cpp:562-582) from it.  We re-implement the
public MT19937-64 algorithm (Matsumoto & Nishimura 2000, public reference
implementation) in pure Python so the hash family is reproducible bit-for-bit
from the seed alone, generated once on the driver and broadcast to executors.

Note: the reference consumes PRNG draws for ``std::shuffle`` of the replay
order *before* drawing H (main.cpp:201 vs main.cpp:244), so its H additionally
depends on libstdc++'s shuffle internals.  We deliberately decouple: our H is a
pure function of (seed, L, chunk_length).  All correctness tests compare the
Spark pipeline against a pure-Python oracle built on this same family.
"""

from __future__ import annotations

import numpy as np

_MASK64 = 0xFFFFFFFFFFFFFFFF


class MT19937_64:
    """64-bit Mersenne Twister, identical output stream to std::mt19937_64."""

    _N = 312
    _M = 156
    _MATRIX_A = 0xB5026F5AA96619E9
    _UPPER = 0xFFFFFFFF80000000
    _LOWER = 0x7FFFFFFF

    def __init__(self, seed: int) -> None:
        mt = [0] * self._N
        mt[0] = seed & _MASK64
        for i in range(1, self._N):
            mt[i] = (6364136223846793005 * (mt[i - 1] ^ (mt[i - 1] >> 62)) + i) & _MASK64
        self._mt = mt
        self._mti = self._N

    def __call__(self) -> int:
        if self._mti >= self._N:
            self._generate()
        x = self._mt[self._mti]
        self._mti += 1
        x ^= (x >> 29) & 0x5555555555555555
        x ^= (x << 17) & 0x71D67FFFEDA60000
        x ^= (x << 37) & 0xFFF7EEE000000000
        x ^= x >> 43
        return x & _MASK64

    def _generate(self) -> None:
        mt, N, M = self._mt, self._N, self._M
        mag01 = (0, self._MATRIX_A)
        for i in range(N):
            x = (mt[i] & self._UPPER) | (mt[(i + 1) % N] & self._LOWER)
            mt[i] = mt[(i + M) % N] ^ (x >> 1) ^ mag01[x & 1]
        self._mti = 0


def allocate_random_bits(L: int, chunk_length: int, seed: int) -> np.ndarray:
    """Universal hash family H: L functions x (chunk_length + 2) random uint64.

    Layout matches the reference (main.cpp:562-582): ``H[i][0]`` is the additive
    term, ``H[i][1 + j]`` multiplies byte j of the key.
    """
    prng = MT19937_64(seed)
    flat = [prng() for _ in range(L * (chunk_length + 2))]
    return np.array(flat, dtype=np.uint64).reshape(L, chunk_length + 2)
