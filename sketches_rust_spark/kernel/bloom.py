"""Bloom filter (Bloom, CACM 1970).

m bits, k hash functions via Kirsch-Mitzenmacher double hashing from one
64-bit input hash. False-positive rate ~ (1 - e^{-kn/m})^k; optimal
k = (m/n) ln 2. Merge = bitwise OR (associative, commutative, idempotent).

Wire format: b"BLM1" + uint64 m_bits + uint32 k + packed bit array (LSB0).
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .bits import km_cells

_MAGIC = b"BLM1"


class BloomFilter:
    __slots__ = ("m_bits", "k", "bits")

    def __init__(self, m_bits: int = 1 << 20, k: int = 7):
        if m_bits < 8 or k < 1:
            raise ValueError("m_bits >= 8 and k >= 1 required")
        self.m_bits = m_bits
        self.k = k
        self.bits = np.zeros((m_bits + 7) // 8, dtype=np.uint8)

    @staticmethod
    def from_capacity(n: int, fpr: float = 0.01) -> "BloomFilter":
        m = max(8, math.ceil(-n * math.log(fpr) / (math.log(2) ** 2)))
        k = max(1, round(m / n * math.log(2))) if n else 1
        return BloomFilter(m, k)

    def add_hashes(self, hashes: np.ndarray) -> None:
        if hashes.size == 0:
            return
        pos = km_cells(hashes, self.k, self.m_bits).ravel()
        np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def might_contain_hashes(self, hashes: np.ndarray) -> np.ndarray:
        if hashes.size == 0:
            return np.zeros(0, dtype=bool)
        pos = km_cells(hashes, self.k, self.m_bits)
        hit = (self.bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
        return hit.all(axis=0).astype(bool)

    def merge_with(self, other: "BloomFilter") -> None:
        if (self.m_bits, self.k) != (other.m_bits, other.k):
            raise ValueError("Unmatched Bloom dimensions")
        np.bitwise_or(self.bits, other.bits, out=self.bits)

    def encode(self) -> bytes:
        return _MAGIC + struct.pack("<QI", self.m_bits, self.k) + self.bits.tobytes()

    @staticmethod
    def decode(data: bytes) -> "BloomFilter":
        if data[:4] != _MAGIC:
            raise ValueError("not a BLM1 blob")
        m_bits, k = struct.unpack_from("<QI", data, 4)
        # validate payload length BEFORE constructing: a hostile header can
        # declare m_bits up to 2^64 and the constructor allocates the bitset
        if len(data) != 16 + (m_bits + 7) // 8:
            raise ValueError(
                f"corrupt Bloom blob: {len(data)} bytes for m_bits={m_bits}")
        bf = BloomFilter(m_bits, k)
        bf.bits = np.frombuffer(data[16:], dtype=np.uint8).copy()
        return bf

    def decode_and_merge_with(self, data: bytes) -> None:
        self.merge_with(BloomFilter.decode(data))
