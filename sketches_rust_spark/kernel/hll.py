"""HyperLogLog distinct-count sketch (Flajolet et al., AofA 2007).

Dense m=2^p byte registers; 64-bit input hashes so no large-range correction
is needed; the classic small-range (linear counting) correction applies when
the raw estimate is small and empty registers remain. Standard error
sigma ~= 1.04/sqrt(m).

Merge = elementwise register max — associative, commutative, idempotent,
which is what makes it a valid distributed aggregator.

Wire format (ours; the reference library is DDSketch-only): b"HLL1" + p byte
+ m register bytes.
"""

from __future__ import annotations

import math

import numpy as np

from .bits import clz64

_MAGIC = b"HLL1"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


class HyperLogLog:
    __slots__ = ("p", "m", "registers")

    def __init__(self, p: int = 14):
        if not (4 <= p <= 18):
            raise ValueError("p must be in [4, 18]")
        self.p = p
        self.m = 1 << p
        self.registers = np.zeros(self.m, dtype=np.uint8)

    def add_hashes(self, hashes: np.ndarray) -> None:
        """Insert pre-computed 64-bit hashes (uint64/int64 array).

        Register index = top p bits; rank = leading zeros of the remaining
        64-p bits (within that window) + 1.
        """
        h = hashes.astype(np.uint64, copy=False)
        if h.size == 0:
            return
        idx = (h >> np.uint64(64 - self.p)).astype(np.int64)
        w = h << np.uint64(self.p)
        rank = np.minimum(clz64(w) + 1, 64 - self.p + 1).astype(np.uint8)
        np.maximum.at(self.registers, idx, rank)

    def merge_with(self, other: "HyperLogLog") -> None:
        if self.p != other.p:
            raise ValueError("Unmatched HLL precision")
        np.maximum(self.registers, other.registers, out=self.registers)

    def estimate(self) -> float:
        m = self.m
        raw = _alpha(m) * m * m / float(np.sum(np.exp2(-self.registers.astype(np.float64))))
        if raw <= 2.5 * m:
            zeros = int(np.count_nonzero(self.registers == 0))
            if zeros:
                return m * math.log(m / zeros)
        return raw

    def relative_standard_error(self) -> float:
        return 1.04 / math.sqrt(self.m)

    def encode(self) -> bytes:
        return _MAGIC + bytes([self.p]) + self.registers.tobytes()

    @staticmethod
    def decode(data: bytes) -> "HyperLogLog":
        if data[:4] != _MAGIC:
            raise ValueError("not an HLL1 blob")
        if len(data) < 5:
            raise ValueError("corrupt HLL blob: missing precision byte")
        h = HyperLogLog(data[4])
        h.registers = np.frombuffer(data[5:], dtype=np.uint8).copy()
        if h.registers.shape[0] != h.m:
            raise ValueError("corrupt HLL blob")
        # a register holds at most the rank of an all-zero 64-p bit window
        if h.registers.max() > 64 - h.p + 1:
            raise ValueError("corrupt HLL blob: register above 64-p+1")
        return h

    def decode_and_merge_with(self, data: bytes) -> None:
        self.merge_with(HyperLogLog.decode(data))
