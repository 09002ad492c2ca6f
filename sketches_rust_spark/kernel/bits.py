"""Vectorized 64-bit helpers shared by the hash-based sketches."""

from __future__ import annotations

import numpy as np

_M1 = np.uint64(0x5555555555555555)
_M2 = np.uint64(0x3333333333333333)
_M4 = np.uint64(0x0F0F0F0F0F0F0F0F)
_H01 = np.uint64(0x0101010101010101)


def popcount64(x: np.ndarray) -> np.ndarray:
    """SWAR popcount over a uint64 array (numpy<2 has no bitwise_count)."""
    x = x.astype(np.uint64, copy=True)
    x -= (x >> np.uint64(1)) & _M1
    x = (x & _M2) + ((x >> np.uint64(2)) & _M2)
    x = (x + (x >> np.uint64(4))) & _M4
    return ((x * _H01) >> np.uint64(56)).astype(np.int64)


def clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of each uint64 (clz(0) = 64)."""
    y = x.astype(np.uint64, copy=True)
    for s in (1, 2, 4, 8, 16, 32):
        y |= y >> np.uint64(s)
    return 64 - popcount64(y)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finalizer: a strong, *SQL-expressible* 64-bit mixer
    (multiplications and xor-shifts only), used where an oracle needs to
    reproduce the exact hash in another engine."""
    z = x.astype(np.uint64, copy=True) + np.uint64(0x9E3779B97F4A7C15)
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def km_cells(hashes: np.ndarray, n: int, mod: int) -> np.ndarray:
    """Kirsch-Mitzenmacher double hashing: cell i of each 64-bit hash is
    (lo + i*(hi|1)) mod ``mod`` for i < n, from the hash's 32-bit halves
    (hi forced odd so the n cells differ). Shape (n, len(hashes))."""
    h = hashes.astype(np.uint64, copy=False)
    lo = h & np.uint64(0xFFFFFFFF)
    hi = (h >> np.uint64(32)) | np.uint64(1)
    i = np.arange(n, dtype=np.uint64)[:, None]
    return ((lo[None, :] + i * hi[None, :]) % np.uint64(mod)).astype(np.int64)
