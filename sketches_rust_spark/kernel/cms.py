"""Count-Min Sketch (Cormode & Muthukrishnan, J. Algorithms 2005).

depth d x width w counter matrix; row hashes derived from one 64-bit input
hash via Kirsch-Mitzenmacher double hashing h_i = h_lo + i*h_hi (mod w).
Point-query error: true <= est <= true + eps*N with probability 1-delta,
where eps = e/w and delta = e^-d. Merge = elementwise sum (associative,
commutative).

Wire format: b"CMS1" + uint32 d + uint32 w + d*w int64 LE counters.
"""

from __future__ import annotations

import math
import struct

import numpy as np

from .bits import km_cells

_MAGIC = b"CMS1"


class CountMinSketch:
    __slots__ = ("depth", "width", "table")

    def __init__(self, depth: int = 5, width: int = 2048):
        if depth < 1 or width < 2:
            raise ValueError("depth >= 1 and width >= 2 required")
        self.depth = depth
        self.width = width
        self.table = np.zeros((depth, width), dtype=np.int64)

    @staticmethod
    def from_error_bounds(eps: float, delta: float) -> "CountMinSketch":
        """width = ceil(e/eps), depth = ceil(ln(1/delta))."""
        return CountMinSketch(
            depth=max(1, math.ceil(math.log(1.0 / delta))),
            width=max(2, math.ceil(math.e / eps)),
        )

    def add_hashes(self, hashes: np.ndarray, counts: np.ndarray | None = None) -> None:
        if hashes.size == 0:
            return
        idx = km_cells(hashes, self.depth, self.width)
        c = np.ones(hashes.shape[0], dtype=np.int64) if counts is None \
            else counts.astype(np.int64)
        for r in range(self.depth):
            np.add.at(self.table[r], idx[r], c)

    def estimate_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Point-query estimates for an array of item hashes."""
        idx = km_cells(hashes, self.depth, self.width)
        ests = np.stack([self.table[r][idx[r]] for r in range(self.depth)])
        return ests.min(axis=0)

    def total(self) -> int:
        return int(self.table[0].sum())

    def merge_with(self, other: "CountMinSketch") -> None:
        if (self.depth, self.width) != (other.depth, other.width):
            raise ValueError("Unmatched CMS dimensions")
        self.table += other.table

    def epsilon(self) -> float:
        return math.e / self.width

    def delta(self) -> float:
        return math.exp(-self.depth)

    def encode(self) -> bytes:
        return (_MAGIC + struct.pack("<II", self.depth, self.width)
                + self.table.astype("<i8").tobytes())

    @staticmethod
    def decode(data: bytes) -> "CountMinSketch":
        if data[:4] != _MAGIC:
            raise ValueError("not a CMS1 blob")
        d, w = struct.unpack_from("<II", data, 4)
        # validate payload length BEFORE constructing: a hostile header can
        # declare d*w up to 2^64 cells, and the constructor allocates the
        # table — the length check (pure int arithmetic) must gate it
        if len(data) != 12 + 8 * d * w:
            raise ValueError(
                f"corrupt CMS blob: {len(data)} bytes for depth={d} width={w}")
        cms = CountMinSketch(d, w)
        cms.table = np.frombuffer(data[12:], dtype="<i8").reshape(d, w).astype(np.int64)
        return cms

    def decode_and_merge_with(self, data: bytes) -> None:
        self.merge_with(CountMinSketch.decode(data))
