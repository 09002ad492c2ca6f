"""DDSketch: relative-error quantile sketch (DDSketch, VLDB 2019, arXiv
1908.10693).

From-scratch Python/numpy implementation with the same observable behavior and
byte-identical wire format as the reference library (behavioral spec:
/root/reference/src/sketch.rs). It is a pure in-memory kernel with zero Spark
imports — the Spark integration in ``sketches_rust_spark.functions`` wraps it
in pandas/Arrow UDAFs.

Structure: a two-sided sketch — negative values indexed by magnitude into a
separate store, an exact zero bucket for |v| <= min_indexed_value, a positive
store for the rest (spec sketch.rs:12-19,34-56).

One place for each decision:
* ``DDSketch.PRESETS`` is the preset table, name -> (index mapping layout,
  store kind); the reference's six constructors are its six rows and
  ``preset()`` builds every sketch from it. Code that needs a preset's
  layout or store kind reads this table (or the sketch a config builds),
  never the preset's name.
* ``route_batch`` holds the accept rule and ``apply_routed`` is the single
  insert path into the stores and the zero bucket; ``accept_many`` is the
  two in a row.
* ``_merge_blob`` is the one walk over a blob's flags, shared by ``decode``
  and ``decode_and_merge_with``.

Reference quirks handled deliberately (SURVEY.md §8):
* Q1: the reference's ``accept_with_count`` ignores its count argument; we
  implement true weighted insert (``accept_many`` with weights), which the
  reference's own merge path (``add_bin``) also does.
* Q4: ``decode`` materializes unbounded stores regardless of the encoder's
  store type; ``decode_and_merge_with`` preserves the receiver's store type.
* Q5: foreign COUNT/SUM/MIN/MAX feature blocks are parsed and skipped for
  sketches-java stream compatibility (spec serde.rs:99-109).
"""

from __future__ import annotations

import numpy as np

from . import serde
from .mapping import LOG, LOG_CUBIC, IndexMapping
from .serde import Input
from .store import (
    COLLAPSING_HIGHEST,
    COLLAPSING_LOWEST,
    FLAG_TYPE_INDEX_MAPPING,
    FLAG_TYPE_NEGATIVE_STORE,
    FLAG_TYPE_POSITIVE_STORE,
    UNBOUNDED,
    DenseStore,
    bin_encoding_mode_of_flag,
)

# Feature flags (spec sketch.rs:416-421): marker = type | (sub_flag << 2).
FLAG_ZERO_COUNT = 0b00 | (1 << 2)        # 0x04
FLAG_COUNT = 0b00 | (0x28 << 2) & 0xFF   # 0xA0
FLAG_SUM = 0b00 | (0x21 << 2) & 0xFF     # 0x84
FLAG_MIN = 0b00 | (0x22 << 2) & 0xFF     # 0x88
FLAG_MAX = 0b00 | (0x23 << 2) & 0xFF     # 0x8C


class DDSketch:
    __slots__ = (
        "index_mapping",
        "min_indexed_value",
        "max_indexed_value",
        "negative_value_store",
        "positive_value_store",
        "zero_count",
    )

    def __init__(self, index_mapping: IndexMapping, negative_store: DenseStore,
                 positive_store: DenseStore, zero_count: float = 0.0):
        self.index_mapping = index_mapping
        self.min_indexed_value = max(0.0, index_mapping.min_indexable_value())
        self.max_indexed_value = index_mapping.max_indexable_value()
        self.negative_value_store = negative_store
        self.positive_value_store = positive_store
        self.zero_count = zero_count

    # -- presets (spec sketch.rs:297-414) ------------------------------------

    # The reference's six constructors are the six (index mapping layout,
    # store kind) pairs; every sketch of this engine is built from this table.
    PRESETS = {
        "collapsing_lowest_dense": (LOG_CUBIC, COLLAPSING_LOWEST),
        "collapsing_highest_dense": (LOG_CUBIC, COLLAPSING_HIGHEST),
        "unbounded_dense": (LOG_CUBIC, UNBOUNDED),
        "logarithmic_collapsing_lowest_dense": (LOG, COLLAPSING_LOWEST),
        "logarithmic_collapsing_highest_dense": (LOG, COLLAPSING_HIGHEST),
        "logarithmic_unbounded_size_dense_store": (LOG, UNBOUNDED),
    }

    @staticmethod
    def preset(name: str, relative_accuracy: float, max_num_bins: int = 0) -> "DDSketch":
        """An empty sketch of preset ``name``; ``max_num_bins`` caps the
        collapsing stores and is ignored by the unbounded ones."""
        layout, kind = DDSketch.PRESETS[name]
        m = IndexMapping.with_relative_accuracy(layout, relative_accuracy)
        return DDSketch(m, DenseStore(kind, max_num_bins), DenseStore(kind, max_num_bins))

    @staticmethod
    def collapsing_lowest_dense(relative_accuracy: float, max_num_bins: int) -> "DDSketch":
        return DDSketch.preset("collapsing_lowest_dense", relative_accuracy, max_num_bins)

    @staticmethod
    def collapsing_highest_dense(relative_accuracy: float, max_num_bins: int) -> "DDSketch":
        return DDSketch.preset("collapsing_highest_dense", relative_accuracy, max_num_bins)

    @staticmethod
    def unbounded_dense(relative_accuracy: float) -> "DDSketch":
        return DDSketch.preset("unbounded_dense", relative_accuracy)

    @staticmethod
    def logarithmic_collapsing_lowest_dense(relative_accuracy: float, max_num_bins: int) -> "DDSketch":
        return DDSketch.preset("logarithmic_collapsing_lowest_dense", relative_accuracy, max_num_bins)

    @staticmethod
    def logarithmic_collapsing_highest_dense(relative_accuracy: float, max_num_bins: int) -> "DDSketch":
        return DDSketch.preset("logarithmic_collapsing_highest_dense", relative_accuracy, max_num_bins)

    @staticmethod
    def logarithmic_unbounded_size_dense_store(relative_accuracy: float) -> "DDSketch":
        return DDSketch.preset("logarithmic_unbounded_size_dense_store", relative_accuracy)

    # -- build ----------------------------------------------------------------

    def accept(self, value: float, count: float = 1.0) -> None:
        self.accept_many(np.array([value], dtype=np.float64),
                         np.array([count], dtype=np.float64))

    def accept_many(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Vectorized build: route a whole array of values in one pass, then
        insert it. Unlike the reference (quirk Q1) the weight is honored."""
        self.apply_routed(*self.route_batch(values), weights)

    def route_batch(self, values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """The accept rule (spec sketch.rs:38-56), vectorized: returns
        (side, idx) where side is +1/-1/0 for positive-store/negative-store/
        zero-bucket and -2 for dropped values; idx is the bucket index (valid
        where side=+-1). Near-zero values land in the exact zero bucket;
        out-of-range magnitudes are silently dropped.

        Non-finite values are dropped along with out-of-range magnitudes.
        (Deviation from the reference, which keeps +-inf because its
        `inf > max_indexed_value` guard compares inf > inf: under the LOG
        mapping that is pathological — ln(inf) has no bucket — so we extend
        the documented "out-of-range values are silently dropped" rule,
        spec sketch.rs:43-45, to non-finite input.)

        One log pass per batch; callers can slice the result per group and
        apply it later with ``apply_routed`` — the aggregation hot path.
        """
        v = np.asarray(values, dtype=np.float64)
        side = np.full(v.shape[0], -2, dtype=np.int8)
        ok = np.isfinite(v) & (np.abs(v) <= self.max_indexed_value)
        side[ok & (v > self.min_indexed_value)] = 1
        side[ok & (v < -self.min_indexed_value)] = -1
        side[ok & (np.abs(v) <= self.min_indexed_value)] = 0
        idx = np.zeros(v.shape[0], dtype=np.int64)
        nz = (side == 1) | (side == -1)
        if nz.any():
            idx[nz] = self.index_mapping.index_of(np.abs(v[nz]))
        return side, idx

    def apply_routed(self, side: np.ndarray, idx: np.ndarray,
                     weights: np.ndarray | None = None) -> None:
        """The single insert path: add pre-routed (side, idx) pairs to the
        stores and the zero bucket, with weight 1 each or ``weights``.
        Non-positive weights are dropped, matching the reference's
        ``count <= 0.0`` guard (spec unbounded.rs:148-150)."""
        w = None if weights is None else np.asarray(weights, dtype=np.float64)
        live = None if w is None else w > 0.0
        for store, s in ((self.positive_value_store, 1), (self.negative_value_store, -1)):
            on = side == s if live is None else (side == s) & live
            if on.any():
                store.add_many(idx[on], None if w is None else w[on])
        zero = side == 0 if live is None else (side == 0) & live
        zc = float(zero.sum() if w is None else w[zero].sum())
        if zc > 0.0:
            self.zero_count += zc

    # -- queries (spec sketch.rs:58-171) ---------------------------------------

    def is_empty(self) -> bool:
        return (self.zero_count == 0.0
                and self.negative_value_store.is_empty()
                and self.positive_value_store.is_empty())

    def clear(self) -> None:
        self.negative_value_store.clear()
        self.positive_value_store.clear()
        self.zero_count = 0.0

    def get_count(self) -> float:
        return (self.zero_count
                + self.negative_value_store.get_total_count()
                + self.positive_value_store.get_total_count())

    def get_sum(self) -> float | None:
        if self.get_count() <= 0.0:
            return None
        return (self.positive_value_store.get_sum(self.index_mapping)
                - self.negative_value_store.get_sum(self.index_mapping))

    def get_max(self) -> float | None:
        if not self.positive_value_store.is_empty():
            return self.index_mapping.value(self.positive_value_store.get_max_index())
        if self.zero_count > 0.0:
            return 0.0
        if not self.negative_value_store.is_empty():
            return -self.index_mapping.value(self.negative_value_store.get_min_index())
        return None

    def get_min(self) -> float | None:
        if not self.negative_value_store.is_empty():
            return -self.index_mapping.value(self.negative_value_store.get_max_index())
        if self.zero_count > 0.0:
            return 0.0
        if not self.positive_value_store.is_empty():
            return self.index_mapping.value(self.positive_value_store.get_min_index())
        return None

    def get_average(self) -> float | None:
        count = self.get_count()
        if count <= 0.0:
            return None
        s = self.get_sum()
        return None if s is None else s / count

    def get_value_at_quantile(self, quantile: float) -> float | None:
        """rank = q*(count-1); walk negatives (descending index = most negative
        first), then the zero bucket, then positives ascending; return the
        first bucket where cumulative count exceeds the rank (strict >).
        Vectorized via cumsum + searchsorted per store."""
        if not (0.0 <= quantile <= 1.0):
            return None
        count = self.get_count()
        if count <= 0.0:
            return None
        rank = quantile * (count - 1.0)

        n = 0.0
        neg_idx, neg_cnt = self.negative_value_store.nonzero_bins(descending=True)
        if neg_idx.size:
            cum = np.cumsum(neg_cnt)
            pos_in = int(np.searchsorted(cum, rank, side="right"))
            if pos_in < cum.shape[0]:
                return -self.index_mapping.value(int(neg_idx[pos_in]))
            n = float(cum[-1])

        n += self.zero_count
        if n > rank:
            return 0.0

        pos_idx, pos_cnt = self.positive_value_store.nonzero_bins()
        if pos_idx.size:
            cum = n + np.cumsum(pos_cnt)
            pos_in = int(np.searchsorted(cum, rank, side="right"))
            if pos_in < cum.shape[0]:
                return self.index_mapping.value(int(pos_idx[pos_in]))
        return None

    # -- merge (spec sketch.rs:211-221) -----------------------------------------

    def merge_with(self, other: "DDSketch") -> None:
        if self.index_mapping != other.index_mapping:
            raise ValueError("Unmatched indexMapping.")
        self.negative_value_store.merge_with(other.negative_value_store)
        self.positive_value_store.merge_with(other.positive_value_store)
        self.zero_count += other.zero_count

    # -- serde (spec sketch.rs:223-293) ------------------------------------------

    def encode(self) -> bytes:
        buf = bytearray()
        self.index_mapping.encode(buf)
        if self.zero_count != 0.0:
            buf.append(FLAG_ZERO_COUNT)
            serde.encode_var_double(buf, self.zero_count)
        self.positive_value_store.encode(buf, FLAG_TYPE_POSITIVE_STORE)
        self.negative_value_store.encode(buf, FLAG_TYPE_NEGATIVE_STORE)
        return bytes(buf)

    def decode_and_merge_with(self, data: bytes) -> None:
        """Add a blob into this sketch; the receiver's store kinds are kept
        (quirk Q4) and the blob's mapping must equal the receiver's."""
        self._merge_blob(data)

    @staticmethod
    def decode(data: bytes) -> "DDSketch":
        """A sketch of the blob's own mapping, with unbounded stores whatever
        the encoder's store kind (quirk Q4)."""
        blank = object.__new__(DDSketch)
        blank.index_mapping = None
        blank.negative_value_store = DenseStore(UNBOUNDED)
        blank.positive_value_store = DenseStore(UNBOUNDED)
        blank.zero_count = 0.0
        index_mapping = blank._merge_blob(data)
        if index_mapping is None:
            raise ValueError("No IndexMapping decoded")
        return DDSketch(index_mapping, blank.negative_value_store,
                        blank.positive_value_store, blank.zero_count)

    def _merge_blob(self, data: bytes) -> IndexMapping | None:
        """The one walk over a blob's flags: bin blocks and the zero count go
        straight into this sketch, and a decoded mapping must equal this
        sketch's (unchecked while it has none, as in ``decode``). Returns
        the last mapping decoded."""
        inp = Input(bytes(data))
        decoded = None
        while inp.has_remaining():
            marker = inp.read_byte()
            flag_type = marker & 3
            if flag_type == FLAG_TYPE_POSITIVE_STORE:
                self.positive_value_store.decode_and_merge_with(
                    inp, bin_encoding_mode_of_flag(marker))
            elif flag_type == FLAG_TYPE_NEGATIVE_STORE:
                self.negative_value_store.decode_and_merge_with(
                    inp, bin_encoding_mode_of_flag(marker))
            elif flag_type == FLAG_TYPE_INDEX_MAPPING:
                layout = _layout_of_marker(marker)
                gamma = inp.read_double_le()
                index_offset = inp.read_double_le()
                decoded = IndexMapping.with_gamma_offset(layout, gamma, index_offset)
                if self.index_mapping is not None and self.index_mapping != decoded:
                    raise ValueError("Unmatched IndexMapping")
            elif marker == FLAG_ZERO_COUNT:
                self.zero_count += serde.decode_var_double(inp)
            else:
                _ignore_exact_summary_statistic_flags(inp, marker)
        return decoded

    def copy(self) -> "DDSketch":
        return DDSketch(self.index_mapping,
                        self.negative_value_store.copy(),
                        self.positive_value_store.copy(),
                        self.zero_count)


def _layout_of_marker(marker: int) -> int:
    layout = marker >> 2
    if layout not in (LOG, LOG_CUBIC):
        raise ValueError("Unknown Index Flag.")
    return layout


def _ignore_exact_summary_statistic_flags(inp: Input, marker: int) -> None:
    """Skip COUNT/SUM/MIN/MAX feature blocks (sketches-java compatibility);
    unknown feature flags are an error (spec serde.rs:99-109)."""
    if marker == FLAG_COUNT:
        serde.decode_var_double(inp)
    elif marker in (FLAG_SUM, FLAG_MIN, FLAG_MAX):
        inp.read_double_le()
    else:
        raise ValueError("Unknown Flag.")
