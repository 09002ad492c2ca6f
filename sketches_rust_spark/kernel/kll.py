"""KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016).

Compactor hierarchy: level h holds items of weight 2^h; when a level
overflows its capacity k*(2/3)^(H-1-h) (min 2), it sorts and keeps every
other item (random even/odd offset), pushing survivors up a level. Rank
error is O(1/k) with high probability; k=200 gives ~1% single-quantile
error in practice.

Compaction parity is drawn from a deterministic counter-seeded PCG64 stream
per sketch so runs are reproducible, while merge results remain
order-dependent (bounded-error, like every KLL implementation). Merge =
concatenate levels then re-compact.

Wire format: b"KLL1" + uint32 k + uint64 n + uint32 n_levels +
per-level [uint32 len + f64 items...] + uint64 compaction counter.
"""

from __future__ import annotations

import struct

import numpy as np

_MAGIC = b"KLL1"
_C = 2.0 / 3.0


class KLL:
    __slots__ = ("k", "n", "levels", "_compactions")

    def __init__(self, k: int = 200):
        if k < 8:
            raise ValueError("k >= 8 required")
        self.k = k
        self.n = 0
        self.levels: list[np.ndarray] = [np.zeros(0, dtype=np.float64)]
        self._compactions = 0

    def _capacity(self, h: int) -> int:
        height = len(self.levels)
        return max(2, int(np.ceil(self.k * (_C ** (height - 1 - h)))))

    def accept_many(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[np.isfinite(v)]
        if v.size == 0:
            return
        self.n += v.shape[0]
        self.levels[0] = np.concatenate([self.levels[0], v])
        self._compress()

    def _compress(self) -> None:
        while True:
            for h in range(len(self.levels)):
                if self.levels[h].shape[0] > self._capacity(h):
                    self._compact_level(h)
                    break
            else:
                return

    def _compact_level(self, h: int) -> None:
        if h + 1 == len(self.levels):
            self.levels.append(np.zeros(0, dtype=np.float64))
        items = np.sort(self.levels[h], kind="stable")
        rng = np.random.Generator(np.random.PCG64(
            [0x5E_ED, self.k, h, self._compactions]))
        self._compactions += 1
        offset = int(rng.integers(0, 2))
        # odd length: hold the largest item back at this level so each
        # compacted pair contributes exactly one survivor (weight-preserving
        # in expectation)
        if items.shape[0] % 2 == 1:
            hold, items = items[-1:], items[:-1]
        else:
            hold = items[:0]
        survivors = items[offset::2]
        self.levels[h] = hold.copy()
        self.levels[h + 1] = np.concatenate([self.levels[h + 1], survivors])

    # -- query -------------------------------------------------------------------

    def _weighted_items(self) -> tuple[np.ndarray, np.ndarray]:
        items, weights = [], []
        for h, lv in enumerate(self.levels):
            if lv.shape[0]:
                items.append(lv)
                weights.append(np.full(lv.shape[0], float(1 << h)))
        if not items:
            return np.zeros(0), np.zeros(0)
        it = np.concatenate(items)
        w = np.concatenate(weights)
        order = np.argsort(it, kind="stable")
        return it[order], w[order]

    def quantile(self, q: float) -> float | None:
        if self.n == 0 or not (0.0 <= q <= 1.0):
            return None
        items, weights = self._weighted_items()
        total = weights.sum()
        cum = np.cumsum(weights)
        target = q * (total - 1.0)
        i = int(np.searchsorted(cum, target, side="right"))
        i = min(i, items.shape[0] - 1)
        return float(items[i])

    def rank(self, x: float) -> float:
        """Estimated fraction of items <= x."""
        items, weights = self._weighted_items()
        if items.shape[0] == 0:
            return float("nan")
        total = weights.sum()
        i = int(np.searchsorted(items, x, side="right"))
        return float(weights[:i].sum() / total)

    def total_weight(self) -> float:
        _, w = self._weighted_items()
        return float(w.sum())

    # -- merge / serde ---------------------------------------------------------------

    def merge_with(self, other: "KLL") -> None:
        if self.k != other.k:
            raise ValueError("Unmatched KLL k")
        while len(self.levels) < len(other.levels):
            self.levels.append(np.zeros(0, dtype=np.float64))
        for h, lv in enumerate(other.levels):
            if lv.shape[0]:
                self.levels[h] = np.concatenate([self.levels[h], lv])
        self.n += other.n
        self._compactions = max(self._compactions, other._compactions) + 1
        self._compress()

    def encode(self) -> bytes:
        out = bytearray(_MAGIC)
        out += struct.pack("<IQI", self.k, self.n, len(self.levels))
        for lv in self.levels:
            out += struct.pack("<I", lv.shape[0])
            out += lv.astype("<f8").tobytes()
        out += struct.pack("<Q", self._compactions)
        return bytes(out)

    @staticmethod
    def decode(data: bytes) -> "KLL":
        """Rejects a blob with bytes missing or left over, a non-finite
        item, or a header ``n`` other than the levels' total weight
        sum(len(level_h) * 2^h) — which every build and merge keeps exact."""
        if data[:4] != _MAGIC:
            raise ValueError("not a KLL1 blob")
        try:
            k, n, n_levels = struct.unpack_from("<IQI", data, 4)
            kll = KLL(k)
            kll.levels = []
            off = 4 + 16
            for _ in range(n_levels):
                (ln,) = struct.unpack_from("<I", data, off)
                off += 4
                kll.levels.append(np.frombuffer(data, dtype="<f8", count=ln, offset=off).copy())
                off += 8 * ln
            (kll._compactions,) = struct.unpack_from("<Q", data, off)
        except struct.error:
            raise ValueError("corrupt KLL blob: truncated") from None
        if off + 8 != len(data) or not kll.levels:
            raise ValueError(f"corrupt KLL blob: {len(data)} bytes for {n_levels} levels")
        if not np.isfinite(np.concatenate(kll.levels)).all():
            raise ValueError("corrupt KLL blob: non-finite item")
        if n != sum(lv.shape[0] << h for h, lv in enumerate(kll.levels)):
            raise ValueError(f"corrupt KLL blob: n={n} is not the levels' weight")
        kll.n = n
        return kll

    def decode_and_merge_with(self, data: bytes) -> None:
        self.merge_with(KLL.decode(data))
