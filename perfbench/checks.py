"""Correctness checks: every timed result is compared with a reference
computed in the benchmark's own process from the generated rows.

Each check returns a list of error strings; an empty list is a pass.
"""

from __future__ import annotations

import numpy as np

from sketches_rust_spark.kernel.bits import splitmix64
from sketches_rust_spark.kernel.bloom import BloomFilter
from sketches_rust_spark.kernel.cms import CountMinSketch
from sketches_rust_spark.kernel.hll import HyperLogLog
from sketches_rust_spark.kernel.kll import KLL
from sketches_rust_spark.kernel.kmv import KMV
from sketches_rust_spark.kernel.sketch import DDSketch
from sketches_rust_spark.kernel.tdigest import TDigest

QUANTILES = (0.5, 0.99)
# Rank-error bounds for the randomised / heuristic quantile sketches, as a
# fraction of n. KLL k=200 has a 99%-confidence normalised rank error of
# about 1.65%; t-digest at delta=200 is far tighter. The margins keep the
# chance of a false failure negligible over many seeds while still catching
# a broken sketch (which is off by tens of percent).
RANK_EPS = {"kll": 0.03, "tdigest": 0.01}
# Distinct-count bounds in standard errors. Three standard errors would fail
# about 0.3% of keys by chance; over 16 keys and dozens of runs that is a
# false failure every few runs, so the bound is five (about 6e-7 per key).
STD_ERRORS = 5.0


def exact_rank_error(sorted_vals: np.ndarray, est: float, q: float) -> float:
    """Distance between q and the rank interval the estimate occupies."""
    n = sorted_vals.shape[0]
    lo = np.searchsorted(sorted_vals, est, side="left") / n
    hi = np.searchsorted(sorted_vals, est, side="right") / n
    return 0.0 if lo <= q <= hi else min(abs(q - lo), abs(q - hi))


def ddsketch_value_errors(label: str, est: float | None, sorted_vals: np.ndarray,
                          q: float, alpha: float) -> list[str]:
    """DDSketch returns a value within relative alpha of the element at
    rank floor(q*(n-1))."""
    exact = float(sorted_vals[int(np.floor(q * (sorted_vals.shape[0] - 1)))])
    if est is None or abs(est - exact) > alpha * abs(exact) * (1 + 1e-9):
        return [f"{label}: p{q * 100:g}={est} not within {alpha} of {exact}"]
    return []


class KeyedReference:
    """Per-key rows of a generated table and the kernel builds over them."""

    def __init__(self, keys: np.ndarray, values: np.ndarray,
                 ids: np.ndarray | None = None):
        order = np.argsort(keys, kind="stable")
        keys, values = keys[order], values[order]
        uniq, starts = np.unique(keys, return_index=True)
        ends = np.append(starts[1:], len(keys))
        self.values = {k.item() if hasattr(k, "item") else k: values[s:e]
                       for k, s, e in zip(uniq, starts, ends)}
        self.sorted = {k: np.sort(v) for k, v in self.values.items()}
        self.ids = None
        if ids is not None:
            ids = ids[order]
            self.ids = {k.item() if hasattr(k, "item") else k: ids[s:e]
                        for k, s, e in zip(uniq, starts, ends)}
        self._blobs: dict = {}

    def count(self, key) -> int:
        return int(self.values[key].shape[0])

    def ddsketch(self, key, config) -> DDSketch:
        sk = config.new()
        sk.accept_many(self.values[key])
        return sk

    def ddsketch_blob(self, key, config) -> bytes:
        k = (key, config)
        if k not in self._blobs:
            self._blobs[k] = self.ddsketch(key, config).encode()
        return self._blobs[k]


def check_keyed_counts(label: str, got: dict, ref: KeyedReference) -> list[str]:
    """``got``: key -> rows_in. Keys and counts must equal the generator's."""
    if set(got) != set(ref.values):
        return [f"{label}: keys {sorted(got)} != {sorted(ref.values)}"]
    return [f"{label}: key {k} rows_in={n} != {ref.count(k)}"
            for k, n in got.items() if n != ref.count(k)]


def check_ddsketch_blobs(label: str, blobs: dict, ref: KeyedReference, config,
                         byte_identical: bool) -> list[str]:
    """Byte identity with a single-process kernel build where the path
    promises it; otherwise count equality and the alpha bound."""
    errs = []
    for key, blob in blobs.items():
        if key not in ref.values:
            errs.append(f"{label}: unexpected key {key}")
            continue
        if byte_identical:
            if blob != ref.ddsketch_blob(key, config):
                errs.append(f"{label}: key {key} blob differs from kernel build")
            continue
        sk = DDSketch.decode(blob)
        if sk.get_count() != ref.count(key):
            errs.append(f"{label}: key {key} count {sk.get_count()} != {ref.count(key)}")
        for q in QUANTILES:
            errs += ddsketch_value_errors(f"{label}[{key}]", sk.get_value_at_quantile(q),
                                          ref.sorted[key], q, config.relative_accuracy)
    return errs


def check_rank_sketch(label: str, family: str, blobs: dict,
                      ref: KeyedReference) -> list[str]:
    """Total weight equals the row count; p50/p99 within RANK_EPS."""
    cls = {"kll": KLL, "tdigest": TDigest}[family]
    errs = []
    for key, blob in blobs.items():
        sk = cls.decode(blob)
        if sk.total_weight() != ref.count(key):
            errs.append(f"{label}[{key}]: weight {sk.total_weight()} != {ref.count(key)}")
        for q in QUANTILES:
            est = sk.quantile(q)
            if est is None:
                errs.append(f"{label}[{key}]: p{q * 100:g} is None")
            elif (err := exact_rank_error(ref.sorted[key], est, q)) > RANK_EPS[family]:
                errs.append(f"{label}[{key}]: p{q * 100:g} rank error {err:.4f}")
    return errs


def _distinct_errors(label: str, est: float, exact: int, rse: float) -> list[str]:
    if abs(est - exact) > STD_ERRORS * rse * exact:
        return [f"{label}: estimate {est:.1f} vs {exact} distinct"]
    return []


def check_hashed_family(label: str, family: str, blobs: dict,
                        ref: KeyedReference) -> list[str]:
    """HLL/KMV within STD_ERRORS standard errors of the exact distinct count;
    CMS total equals the row count; Bloom has no false negatives."""
    errs = []
    for key, blob in blobs.items():
        ids = ref.ids[key]
        if family == "hll":
            sk = HyperLogLog.decode(blob)
            errs += _distinct_errors(f"{label}[{key}]", sk.estimate(),
                                     len(np.unique(ids)), sk.relative_standard_error())
        elif family == "kmv":
            sk = KMV.decode(blob)
            errs += _distinct_errors(f"{label}[{key}]", sk.estimate(),
                                     len(np.unique(ids)), sk.relative_standard_error())
        elif family == "cms":
            if CountMinSketch.decode(blob).total() != ids.shape[0]:
                errs.append(f"{label}[{key}]: CMS total != {ids.shape[0]}")
        elif family == "bloom":
            h = splitmix64(ids.view(np.uint64))
            if not BloomFilter.decode(blob).might_contain_hashes(h).all():
                errs.append(f"{label}[{key}]: Bloom false negative")
        else:
            errs.append(f"{label}: unknown family {family}")
    return errs
