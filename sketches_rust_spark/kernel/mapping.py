"""Value <-> bucket-index mappings for DDSketch.

From-scratch numpy implementation of the two index-mapping layouts the
reference supports (behavioral spec: /root/reference/src/index_mapping/mod.rs):

* ``LOG``      — index ~ trunc(ln(v) * multiplier + offset); exact log.
* ``LogCubic`` — cubically-interpolated base-2 log computed from the raw f64
  bit pattern (exponent + cubic polynomial of the significand), ~1.14x fewer
  buckets per relative-accuracy (DDSketch paper, arXiv 1908.10693).

Everything is vectorized: ``index_of`` maps a whole numpy array of values to
bucket indexes in one pass (this is the per-row hot path of the Spark build
aggregation), ``value_of`` maps arrays of bucket indexes back to representative
values (only runs per *bucket*, i.e. a few hundred times per sketch).

Numeric contracts replicated exactly (see SURVEY.md §8):
* N1 trunc rule: ``i = int(x)`` for x >= 0 else ``int(x - 1.0)`` (truncation,
  not floor) — spec index_mapping/mod.rs:171-178.
* N2 two multiplier formulas: construction-from-alpha uses ``log1p(gamma-1)``,
  reconstruction-from-gamma uses ``log(gamma)`` — spec mod.rs:241,258 vs 281,293.
"""

from __future__ import annotations

import math
from dataclasses import dataclass

import numpy as np

from . import serde

# Layout ids double as the wire sub-flags (spec mod.rs:311-335).
LOG = 0
LOG_CUBIC = 3

# Smallest supported relative accuracy for constructed mappings: with the
# full double range, an unbounded store spans at most ~2 * 709.8 / alpha
# bins; at this floor that is ~23.3M bins, ~2.9x under the decoder's
# hostile-blob span cap (store.MAX_DECODE_DENSE_SPAN = 2^26), so every
# sketch this engine can build is guaranteed to decode its own blob.
# Decoded FOREIGN mappings (with_gamma_offset) are not floored — the
# reference imposes no minimum — only local construction is.
MIN_RELATIVE_ACCURACY = 1.0 / (1 << 15)

# Cubic interpolation constants (spec mod.rs:12-19).
_A = 6.0 / 35.0
_B = -3.0 / 5.0
_C = 10.0 / 7.0
_CUBIC_CORRECTING_FACTOR = 1.0 / (_C * math.log(2.0))
_CUBIC_BASE = 2.0
_LOG_CORRECTING_FACTOR = 1.0
_LOG_BASE = math.e

_MIN_POSITIVE_F64 = 2.2250738585072014e-308  # smallest positive normal f64
_MAX_F64 = 1.7976931348623157e308
_I32_MIN = -2147483648.0
_I32_MAX = 2147483647.0


def _pow2(exponent: float) -> float:
    """2**x with IEEE overflow-to-inf / underflow-to-0 semantics (Rust powf);
    Python's ** raises OverflowError instead of returning inf."""
    try:
        return 2.0 ** exponent
    except OverflowError:
        return math.inf if exponent > 0 else 0.0


def _calculate_relative_accuracy(gamma: float, correcting_factor: float) -> float:
    exact_log_gamma = gamma ** correcting_factor
    return (exact_log_gamma - 1.0) / (exact_log_gamma + 1.0)


def _calculate_gamma(relative_accuracy: float, correcting_factor: float) -> float:
    exact_log_gamma = (1.0 + relative_accuracy) / (1.0 - relative_accuracy)
    return exact_log_gamma ** (1.0 / correcting_factor)


@dataclass(frozen=True)
class IndexMapping:
    """Immutable mapping parameters; equality is exact f64 equality over all
    four fields plus the layout, matching the reference's derived PartialEq
    (merge rejects any mismatch, spec sketch.rs:211-214)."""

    layout: int
    gamma: float
    index_offset: float
    multiplier: float
    relative_accuracy: float

    # -- constructors -------------------------------------------------------

    @staticmethod
    def with_relative_accuracy(layout: int, relative_accuracy: float) -> "IndexMapping":
        if not (0.0 < relative_accuracy < 1.0):
            raise ValueError("The relative accuracy must be between 0 and 1.")
        if relative_accuracy < MIN_RELATIVE_ACCURACY:
            # round-trip guarantee (round-5 advice): the decoder caps dense
            # bin spans at store.MAX_DECODE_DENSE_SPAN (2^26) to reject
            # hostile blobs; an unbounded-store sketch built with a smaller
            # alpha than this floor could legitimately span more bins over
            # the full double range and then fail to decode its OWN blob.
            # The floor keeps every constructible sketch's worst-case span
            # (~2 * 710 / alpha bins) at least ~2.9x under the decode cap.
            raise ValueError(
                f"relative_accuracy {relative_accuracy!r} is below the "
                f"supported minimum {MIN_RELATIVE_ACCURACY!r} (the decode "
                "span cap could otherwise reject the sketch's own blob)")
        if layout == LOG:
            cf, base = _LOG_CORRECTING_FACTOR, _LOG_BASE
        elif layout == LOG_CUBIC:
            cf, base = _CUBIC_CORRECTING_FACTOR, _CUBIC_BASE
        else:
            raise ValueError("Unsupported IndexLayout")
        gamma = _calculate_gamma(relative_accuracy, cf)
        multiplier = math.log(base) / math.log1p(gamma - 1.0)
        return IndexMapping(layout, gamma, 0.0, multiplier,
                            _calculate_relative_accuracy(gamma, cf))

    @staticmethod
    def with_gamma_offset(layout: int, gamma: float, index_offset: float) -> "IndexMapping":
        if layout == LOG:
            cf, base = _LOG_CORRECTING_FACTOR, _LOG_BASE
        elif layout == LOG_CUBIC:
            cf, base = _CUBIC_CORRECTING_FACTOR, _CUBIC_BASE
        else:
            raise ValueError("Unsupported IndexLayout")
        # decode robustness: a corrupt blob's gamma/offset doubles must fail
        # loudly here, not NaN-poison every later index computation
        if not (math.isfinite(gamma) and gamma > 1.0):
            raise ValueError(f"invalid IndexMapping gamma: {gamma!r}")
        if not math.isfinite(index_offset):
            raise ValueError(f"invalid IndexMapping offset: {index_offset!r}")
        try:
            relative_accuracy = _calculate_relative_accuracy(gamma, cf)
        except OverflowError:
            relative_accuracy = math.nan
        # the indexable range divides by 1 - relative_accuracy: a gamma so
        # large that the accuracy rounds to 1 (or overflows) has no buckets
        if not relative_accuracy < 1.0:
            raise ValueError(f"invalid IndexMapping gamma: {gamma!r}")
        multiplier = math.log(base) / math.log(gamma)
        return IndexMapping(layout, gamma, index_offset, multiplier,
                            relative_accuracy)

    # -- log / log_inverse ---------------------------------------------------

    def _log(self, values: np.ndarray) -> np.ndarray:
        if self.layout == LOG:
            return np.log(values)
        bits = values.astype(np.float64).view(np.int64)
        s = serde_significand_plus_one(bits) - 1.0
        e = serde_exponent(bits).astype(np.float64)
        return ((_A * s + _B) * s + _C) * s + e

    def _log_inverse(self, index: np.ndarray) -> np.ndarray:
        if self.layout == LOG:
            return np.exp(index)
        exponent = np.floor(index).astype(np.int64)
        d0 = _B * _B - 3.0 * _A * _C
        d1 = (2.0 * _B * _B * _B - 9.0 * _A * _B * _C
              - 27.0 * _A * _A * (index - np.floor(index)))
        p = np.cbrt((d1 - np.sqrt(d1 * d1 - 4.0 * d0 * d0 * d0)) / 2.0)
        significand_plus_one = -(_B + p + d0 / p) / (3.0 * _A) + 1.0
        return build_double_vec(exponent, significand_plus_one)

    # -- public vectorized ops ----------------------------------------------

    def index_of(self, values: np.ndarray) -> np.ndarray:
        """Bucket indexes for an array of positive values (int64).

        Trunc rule N1: truncate toward zero for x >= 0, else trunc(x - 1).
        """
        x = self._log(np.asarray(values, dtype=np.float64)) * self.multiplier + self.index_offset
        # Saturating cast to the i32 index range, matching Rust's `as i32`
        # float-to-int conversion semantics on extreme inputs.
        x = np.clip(x, _I32_MIN, _I32_MAX)
        idx = np.where(x >= 0.0, x.astype(np.int64), (x - 1.0).astype(np.int64))
        return np.clip(idx, int(_I32_MIN), int(_I32_MAX))

    def value_of(self, indexes: np.ndarray) -> np.ndarray:
        """Representative values = lower_bound(i) * (1 + relative_accuracy)."""
        return self.lower_bound(indexes) * (1.0 + self.relative_accuracy)

    def lower_bound(self, indexes: np.ndarray) -> np.ndarray:
        idx = np.asarray(indexes, dtype=np.float64)
        return self._log_inverse((idx - self.index_offset) / self.multiplier)

    def upper_bound(self, indexes: np.ndarray) -> np.ndarray:
        return self.lower_bound(np.asarray(indexes) + 1)

    def index(self, value: float) -> int:
        return int(self.index_of(np.array([value]))[0])

    def value(self, index: int) -> float:
        return float(self.value_of(np.array([index]))[0])

    # -- indexable range guards (spec mod.rs:193-211) ------------------------

    def min_indexable_value(self) -> float:
        return max(
            _pow2(( _I32_MIN - self.index_offset) / self.multiplier + 1.0),
            _MIN_POSITIVE_F64 * (1.0 + self.relative_accuracy) / (1.0 - self.relative_accuracy),
        )

    def max_indexable_value(self) -> float:
        return max(
            _pow2((_I32_MAX - self.index_offset) / self.multiplier - 1.0),
            _MAX_F64 / (1.0 + self.relative_accuracy),
        )

    # -- serde ----------------------------------------------------------------

    def encode(self, buf: bytearray) -> None:
        """flag byte (FlagType.IndexMapping | layout<<2) + gamma + offset LE."""
        buf.append(0b10 | (self.layout << 2))
        import struct
        buf.extend(struct.pack("<dd", self.gamma, self.index_offset))


# -- vectorized f64 bit-field helpers (numpy twins of serde.py scalars) -------

def serde_exponent(bits: np.ndarray) -> np.ndarray:
    return ((bits & serde.EXPONENT_MASK) >> serde.EXPONENT_SHIFT) - serde.EXPONENT_BIAS


def serde_significand_plus_one(bits: np.ndarray) -> np.ndarray:
    one = np.int64(0x3FF0000000000000)
    return ((bits & serde.SIGNIFICAND_MASK) | one).view(np.float64)


def build_double_vec(exponent: np.ndarray, significand_plus_one: np.ndarray) -> np.ndarray:
    sig = np.maximum(1.0, significand_plus_one)
    raw = (((exponent + serde.EXPONENT_BIAS) << serde.EXPONENT_SHIFT) & serde.EXPONENT_MASK) | (
        sig.view(np.int64) & serde.SIGNIFICAND_MASK
    )
    return raw.view(np.float64)
