"""t-digest quantile sketch (Dunning & Ertl, "Computing Extremely Accurate
Quantiles Using t-Digests", arXiv 1902.04023) — the merging-digest variant.

Centroids (mean, weight) kept sorted; a merge pass bounds each centroid's
quantile span with the k1 scale function k(q) = (delta/2pi) asin(2q-1),
giving ~delta centroids and rank error that shrinks toward the tails
(where training-data pipelines care: p99/p999 latency/length cutoffs).

Fully deterministic given input order (no randomness). Inserts are buffered
and flushed every 8192 values. A flush runs the merge pass over the sorted
union of the centroids and the buffered values; a merge runs it over both
digests' centroids, so a digest merged from any number of partials keeps
~delta centroids. Like KLL's, a merged digest's bytes depend on the merge
order. Exact min/max are tracked for exact q=0/q=1.

Wire format: b"TDG1" + float64 delta + uint32 n_centroids + float64 min +
float64 max + n x (mean f64, weight f64) LE.
"""

from __future__ import annotations

import math
import struct
from bisect import bisect_right

import numpy as np

_MAGIC = b"TDG1"


class TDigest:
    __slots__ = ("delta", "means", "weights", "_min", "_max", "buffer")

    def __init__(self, delta: float = 200.0):
        if not (delta >= 10):  # NaN fails this form; `delta < 10` would not
            raise ValueError("delta >= 10 required")
        self.delta = float(delta)
        self.means = np.zeros(0, dtype=np.float64)
        self.weights = np.zeros(0, dtype=np.float64)
        self._min = math.inf
        self._max = -math.inf
        self.buffer: list[np.ndarray] = []

    # -- build -----------------------------------------------------------------

    def accept_many(self, values: np.ndarray) -> None:
        v = np.asarray(values, dtype=np.float64)
        v = v[np.isfinite(v)]
        if v.size == 0:
            return
        self._min = min(self._min, float(v.min()))
        self._max = max(self._max, float(v.max()))
        self.buffer.append(v)
        if sum(b.shape[0] for b in self.buffer) >= 8192:
            self._flush()

    def _k(self, q: np.ndarray) -> np.ndarray:
        return self.delta / (2.0 * math.pi) * np.arcsin(2.0 * np.clip(q, 0, 1) - 1.0)

    def _flush(self) -> None:
        if not self.buffer:
            return
        new = np.concatenate(self.buffer)
        self.buffer = []
        self._compress(np.concatenate([self.means, new]),
                       np.concatenate([self.weights, np.ones(new.shape[0])]))

    def _compress(self, means: np.ndarray, weights: np.ndarray) -> None:
        """The merge pass over the centroids (means, weights), sorted here:
        a cluster starting at s absorbs each next centroid i while
        k(W_i/total) - k(W_{s-1}/total) <= 1, W the prefix weight sums
        (exact: weights are integers). The clusters' weighted means and
        weights become the digest's centroids."""
        if means.size == 0:
            return
        order = np.argsort(means, kind="stable")
        means, weights = means[order], weights[order]
        w = np.cumsum(weights)
        kw = self._k(np.r_[0.0, w] / w[-1]).tolist()  # kw[i + 1] = k(W_i / total)
        n, s, starts = means.shape[0], 0, []
        while s < n:
            starts.append(s)
            k_left = kw[s]
            # first i > s whose k-span passes 1; bisection guesses it,
            # then the exact comparison settles the neighbours
            i = max(bisect_right(kw, k_left + 1.0) - 1, s + 1)
            while i > s + 1 and kw[i] - k_left > 1.0:
                i -= 1
            while i < n and kw[i + 1] - k_left <= 1.0:
                i += 1
            s = i
        self.weights = np.add.reduceat(weights, starts)
        self.means = np.add.reduceat(means * weights, starts) / self.weights

    # -- query -------------------------------------------------------------------

    def total_weight(self) -> float:
        self._flush()
        return float(self.weights.sum())

    def quantile(self, q: float) -> float | None:
        self._flush()
        n = self.weights.sum()
        if n <= 0:
            return None
        if q <= 0:
            return self._min
        if q >= 1:
            return self._max
        target = q * n
        cum = np.cumsum(self.weights) - self.weights / 2.0  # centroid centers
        i = int(np.searchsorted(cum, target))
        if i == 0:
            lo_x, lo_c = self._min, 0.0
            hi_x, hi_c = float(self.means[0]), float(cum[0])
        elif i >= self.means.shape[0]:
            lo_x, lo_c = float(self.means[-1]), float(cum[-1])
            hi_x, hi_c = self._max, float(n)
        else:
            lo_x, lo_c = float(self.means[i - 1]), float(cum[i - 1])
            hi_x, hi_c = float(self.means[i]), float(cum[i])
        if hi_c == lo_c:
            return lo_x
        return lo_x + (hi_x - lo_x) * (target - lo_c) / (hi_c - lo_c)

    # -- merge / serde --------------------------------------------------------------

    def merge_with(self, other: "TDigest") -> None:
        if self.delta != other.delta:
            raise ValueError("Unmatched t-digest compression")
        other._flush()
        self._flush()
        self._min = min(self._min, other._min)
        self._max = max(self._max, other._max)
        self._compress(np.concatenate([self.means, other.means]),
                       np.concatenate([self.weights, other.weights]))

    def encode(self) -> bytes:
        self._flush()
        head = _MAGIC + struct.pack("<dIdd", self.delta, self.means.shape[0],
                                    self._min, self._max)
        body = np.column_stack([self.means, self.weights]).astype("<f8").tobytes()
        return head + body

    @staticmethod
    def decode(data: bytes) -> "TDigest":
        if data[:4] != _MAGIC:
            raise ValueError("not a TDG1 blob")
        if len(data) < 4 + 28:
            raise ValueError("truncated TDG1 header")
        delta, n, mn, mx = struct.unpack_from("<dIdd", data, 4)
        if len(data) != 4 + 28 + 16 * n:
            raise ValueError(f"TDG1 blob of {len(data)} bytes does not hold "
                             f"{n} centroids ({4 + 28 + 16 * n} bytes)")
        arr = np.frombuffer(data[4 + 28:], dtype="<f8").reshape(n, 2)
        if not (np.isfinite(arr[:, 1]) & (arr[:, 1] > 0)).all():
            raise ValueError("TDG1 blob has a non-finite or non-positive "
                             "centroid weight")
        if n == 0:
            if not (mn == math.inf and mx == -math.inf):
                raise ValueError("TDG1 blob of an empty digest has a min/max "
                                 "other than (inf, -inf)")
        else:
            # means need not be sorted (a merged digest's weighted means can
            # sit 1 ulp out of order), and NaN propagates through min/max
            lo, hi = float(arr[:, 0].min()), float(arr[:, 0].max())
            if not (math.isfinite(lo) and math.isfinite(hi)):
                raise ValueError("TDG1 blob has a non-finite centroid mean")
            # a merged weighted mean can round a few ulps past min or max
            slack = 1e-9 * max(abs(mn), abs(mx))
            if not (math.isfinite(mn) and math.isfinite(mx) and mn <= mx
                    and lo >= mn - slack and hi <= mx + slack):
                raise ValueError("TDG1 blob has a min/max that is not "
                                 "finite, reversed or around every mean")
        td = TDigest(delta)
        td.means = arr[:, 0].copy()
        td.weights = arr[:, 1].copy()
        td._min, td._max = mn, mx
        return td

    def decode_and_merge_with(self, data: bytes) -> None:
        self.merge_with(TDigest.decode(data))
