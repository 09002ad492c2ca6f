"""Bucket-count stores for DDSketch.

From-scratch numpy re-implementation of the reference's three store variants
(behavioral spec: /root/reference/src/store/{mod,unbounded,collapsing_lowest,
collapsing_highest}.rs). The reference maintains a growth-amortized dense array
with an offset plus re-centering; the *observable* state it exposes (bucket
counts over [min_index, max_index], total, encode bytes, iteration) depends
only on the nonzero bucket range, so this implementation keeps exactly that:
a dense f64 array spanning [min_index, max_index], re-allocated per batch.

Collapse semantics (proved equivalent to the reference's sticky
``is_collapsed`` flag — see tests/test_store.py which replays the reference's
own insert sequences):

* collapsing-lowest: once the total index range would exceed ``max_num_bins``,
  every index below ``floor = global_max - max_num_bins + 1`` is folded into
  the floor bucket; the floor only ever rises (spec collapsing_lowest.rs:36-122).
* collapsing-highest: mirror with ``ceil = global_min + max_num_bins - 1``
  (spec collapsing_highest.rs:36-123).

Both are therefore order-insensitive in the final histogram, which is what
makes the sketch a valid distributed aggregator: partial sketches built on
arbitrary partition splits merge to the same bounded-error result.

The vectorized ``add_many`` is the one bulk increment: the sketch's single
insert path (``DDSketch.apply_routed``), store merges and the decoder's
shared bin-block tail all end in it — one ``np.add.at`` per batch, no per-row
Python.
"""

from __future__ import annotations

import numpy as np

from . import serde
from .serde import Input

_I32_MIN = -(1 << 31)
_I32_MAX = (1 << 31) - 1

# Bin-encoding wire modes (spec store/mod.rs:237-258).
INDEX_DELTAS_AND_COUNTS = 1
INDEX_DELTAS = 2
CONTIGUOUS_COUNTS = 3
# Token kinds of one row of each mode's bin block.
_DELTAS_AND_COUNTS = np.stack([serde.VAR_LONG, serde.VAR_DOUBLE])
_DELTAS = serde.VAR_LONG[None]
_COUNTS = serde.VAR_DOUBLE[None]

# Decode-robustness cap on the dense span an UNBOUNDED store will
# materialize from wire bytes: two sparse bins at -2^31 and 2^31-1 fit in
# ~15 blob bytes but would reframe a 32 GiB counts array. 2^26 bins
# (512 MiB) is ~10x beyond the widest span a genuine mapping produces at
# the smallest supported alpha over the full double range; collapsing
# stores clamp to max_num_bins and need no cap. Build-path inserts
# (accept/add) are NOT routed through this check.
MAX_DECODE_DENSE_SPAN = 1 << 26

# Flag types (spec sketch.rs:26-31).
FLAG_TYPE_SKETCH_FEATURES = 0b00
FLAG_TYPE_POSITIVE_STORE = 0b01
FLAG_TYPE_INDEX_MAPPING = 0b10
FLAG_TYPE_NEGATIVE_STORE = 0b11

UNBOUNDED = "unbounded"
COLLAPSING_LOWEST = "collapsing_lowest"
COLLAPSING_HIGHEST = "collapsing_highest"


class DenseStore:
    """Dense bucket-count store.

    kind: one of UNBOUNDED / COLLAPSING_LOWEST / COLLAPSING_HIGHEST.
    max_num_bins: bucket cap for the collapsing kinds (ignored for unbounded).
    """

    __slots__ = ("kind", "max_num_bins", "counts", "min_index", "max_index", "is_collapsed")

    def __init__(self, kind: str = UNBOUNDED, max_num_bins: int = 0):
        if kind in (COLLAPSING_LOWEST, COLLAPSING_HIGHEST):
            if not (1 <= max_num_bins <= _I32_MAX):
                raise ValueError(
                    "Too large capacity: should be between 1 and 2147483648.")
        self.kind = kind
        self.max_num_bins = int(max_num_bins)
        self.counts = np.zeros(0, dtype=np.float64)
        self.min_index = _I32_MAX  # empty marker: min > max
        self.max_index = _I32_MIN
        self.is_collapsed = False

    # -- basic state ---------------------------------------------------------

    def is_empty(self) -> bool:
        return self.max_index < self.min_index

    def clear(self) -> None:
        self.counts = np.zeros(0, dtype=np.float64)
        self.min_index = _I32_MAX
        self.max_index = _I32_MIN
        self.is_collapsed = False

    def get_total_count(self) -> float:
        return float(self.counts.sum())

    def get_min_index(self) -> int:
        return self.min_index

    def get_max_index(self) -> int:
        return self.max_index

    def copy(self) -> "DenseStore":
        out = DenseStore.__new__(DenseStore)
        out.kind = self.kind
        out.max_num_bins = self.max_num_bins
        out.counts = self.counts.copy()
        out.min_index = self.min_index
        out.max_index = self.max_index
        out.is_collapsed = self.is_collapsed
        return out

    # -- range management ----------------------------------------------------

    def _reframe(self, new_min: int, new_max: int) -> None:
        """Re-allocate counts to span [new_min, new_max], preserving content."""
        length = new_max - new_min + 1
        new_counts = np.zeros(length, dtype=np.float64)
        if not self.is_empty():
            src_lo = self.min_index - new_min
            new_counts[src_lo:src_lo + self.counts.shape[0]] = self.counts
        self.counts = new_counts
        self.min_index = new_min
        self.max_index = new_max

    def _clamp_batch(self, idx: np.ndarray) -> tuple[np.ndarray, int, int]:
        """Apply collapse clamping to a non-empty batch of indexes and fold
        existing out-of-range buckets; returns the effective indexes and
        their min and max."""
        batch_min = int(idx.min())
        batch_max = int(idx.max())
        cur_min = batch_min if self.is_empty() else min(self.min_index, batch_min)
        cur_max = batch_max if self.is_empty() else max(self.max_index, batch_max)

        if self.kind == COLLAPSING_LOWEST:
            overflow = (cur_max - cur_min + 1) > self.max_num_bins
            if self.is_collapsed or overflow:
                floor = cur_max - self.max_num_bins + 1
                self.is_collapsed = True
                idx = np.maximum(idx, floor)
                batch_min, batch_max = max(batch_min, floor), max(batch_max, floor)
                if not self.is_empty() and self.min_index < floor:
                    if self.max_index < floor:
                        # everything folds into the single floor bucket
                        total = self.counts.sum()
                        self.counts = np.array([total], dtype=np.float64)
                        self.min_index = self.max_index = floor
                    else:
                        cut = floor - self.min_index
                        folded = self.counts[:cut].sum()
                        self.counts = self.counts[cut:].copy()
                        self.counts[0] += folded
                        self.min_index = floor
        elif self.kind == COLLAPSING_HIGHEST:
            overflow = (cur_max - cur_min + 1) > self.max_num_bins
            if self.is_collapsed or overflow:
                ceil = cur_min + self.max_num_bins - 1
                self.is_collapsed = True
                idx = np.minimum(idx, ceil)
                batch_min, batch_max = min(batch_min, ceil), min(batch_max, ceil)
                if not self.is_empty() and self.max_index > ceil:
                    if self.min_index > ceil:
                        total = self.counts.sum()
                        self.counts = np.array([total], dtype=np.float64)
                        self.min_index = self.max_index = ceil
                    else:
                        cut = ceil - self.min_index + 1
                        folded = self.counts[cut:].sum()
                        self.counts = self.counts[:cut].copy()
                        self.counts[-1] += folded
                        self.max_index = ceil
        return idx, batch_min, batch_max

    # -- inserts ---------------------------------------------------------------

    def add_many(self, indexes: np.ndarray, weights: np.ndarray | None = None) -> None:
        """Vectorized bucket increment: the Spark build hot path.

        ``weights`` of None means weight 1 per index. Non-positive weights are
        dropped, matching the reference's ``count <= 0.0`` guard
        (spec unbounded.rs:148-150).
        """
        idx = np.asarray(indexes, dtype=np.int64)
        if weights is None:
            w = np.ones(idx.shape[0], dtype=np.float64)
        else:
            w = np.asarray(weights, dtype=np.float64)
            keep = w > 0.0
            if not keep.all():
                idx = idx[keep]
                w = w[keep]
        if idx.size == 0:
            return
        idx, new_min, new_max = self._clamp_batch(idx)
        if not self.is_empty():
            new_min, new_max = min(new_min, self.min_index), max(new_max, self.max_index)
        if new_min != self.min_index or new_max != self.max_index:
            self._reframe(new_min, new_max)
        np.add.at(self.counts, idx - self.min_index, w)

    def add(self, index: int, count: float = 1.0) -> None:
        if count <= 0.0:
            return
        self.add_many(np.array([index], dtype=np.int64),
                      np.array([count], dtype=np.float64))

    # -- iteration / merge ------------------------------------------------------

    def nonzero_bins(self, descending: bool = False) -> tuple[np.ndarray, np.ndarray]:
        """(indexes, counts) of non-empty bins, ascending by default."""
        nz = np.nonzero(self.counts)[0]
        if descending:
            nz = nz[::-1]
        return nz + self.min_index, self.counts[nz]

    def merge_with(self, other: "DenseStore") -> None:
        if other.is_empty():
            return
        idx, cnt = other.nonzero_bins()
        self.add_many(idx, cnt)

    # -- sum (spec store/mod.rs:146-165) ----------------------------------------

    def get_sum(self, mapping) -> float:
        if self.is_empty():
            return 0.0
        idx, cnt = self.nonzero_bins()
        return float(np.dot(mapping.value_of(idx), cnt))

    # -- wire encode/decode -------------------------------------------------------

    def encode(self, buf: bytearray, store_flag_type: int) -> None:
        """Choose dense vs sparse block by exact encoded-size comparison
        (spec store/mod.rs:31-91); ties go dense (``<=``). The sparse block's
        tokens are written first, from the non-empty bins only; an empty
        bin's count is a one-byte token, so the dense size follows from
        them without walking the span."""
        if self.is_empty():
            return
        counts = self.counts
        num_bins = counts.shape[0]
        nz = np.flatnonzero(counts)
        sparse, lengths = serde.encode_tokens(np.stack([
            serde.zig_zag_array(np.diff(nz + self.min_index, prepend=0)),
            serde.var_double_bits_array(counts[nz])], axis=-1), _DELTAS_AND_COUNTS)
        dense_size = (serde.unsigned_var_long_encoded_length(num_bins)
                      + serde.signed_var_long_encoded_length(self.min_index)
                      + serde.signed_var_long_encoded_length(1)
                      + num_bins - nz.shape[0] + int(lengths[:, 1].sum()))
        if dense_size <= len(sparse):
            buf.append(store_flag_type | (CONTIGUOUS_COUNTS << 2))
            serde.encode_unsigned_var_long(buf, num_bins)
            serde.encode_signed_var_long(buf, self.min_index)
            serde.encode_signed_var_long(buf, 1)
            buf += serde.encode_tokens(
                serde.var_double_bits_array(counts)[:, None], _COUNTS)[0]
        else:
            buf.append(store_flag_type | (INDEX_DELTAS_AND_COUNTS << 2))
            serde.encode_unsigned_var_long(buf, nz.shape[0])
            buf += sparse

    def _check_decode_span(self, lo: int, hi: int) -> None:
        """Reject wire input whose bins would reframe this store beyond
        MAX_DECODE_DENSE_SPAN (hostile/corrupt blobs declare extreme
        indexes in a handful of bytes; see the constant's comment)."""
        if self.kind != UNBOUNDED:
            return  # collapsing stores clamp the span to max_num_bins
        if not self.is_empty():
            lo = min(lo, self.min_index)
            hi = max(hi, self.max_index)
        if hi - lo + 1 > MAX_DECODE_DENSE_SPAN:
            raise ValueError(
                f"corrupt blob: decoded bin span {hi - lo + 1} exceeds "
                f"{MAX_DECODE_DENSE_SPAN}")

    def decode_and_merge_with(self, inp: Input, mode: int) -> None:
        """Decode one bin block, adding straight into this store
        (spec store/mod.rs:92-141). Each of the three bin encodings reads
        its tokens in one ``serde.decode_tokens`` call and yields index
        steps and counts; one tail then drops non-positive counts exactly
        as the reference's ``add`` does, checks that the kept indexes fit
        i32 and MAX_DECODE_DENSE_SPAN, and adds them. A declared bin count
        is never trusted for allocation: it is checked against the bytes
        left before any token is read, and dense spans are bounded by
        MAX_DECODE_DENSE_SPAN."""
        if mode not in (INDEX_DELTAS_AND_COUNTS, INDEX_DELTAS, CONTIGUOUS_COUNTS):
            raise ValueError("Unknown BinEncodingMode.")
        num_bins = serde.decode_unsigned_var_long(inp)
        if num_bins < 0:
            raise ValueError("corrupt blob: negative bin count")
        if mode == CONTIGUOUS_COUNTS:
            first = serde.decode_signed_var_long(inp)
            step = serde.decode_signed_var_long(inp)
            counts = serde.var_bits_to_double_array(
                serde.decode_tokens(inp, num_bins, _COUNTS)[:, 0])
            steps = np.full(num_bins, step, dtype=np.int64)
            steps[:1] = first
        elif mode == INDEX_DELTAS_AND_COUNTS:
            tokens = serde.decode_tokens(inp, num_bins, _DELTAS_AND_COUNTS)
            steps = serde.zig_zag_decode_array(tokens[:, 0])
            counts = serde.var_bits_to_double_array(tokens[:, 1])
            del tokens
        else:
            steps = serde.zig_zag_decode_array(
                serde.decode_tokens(inp, num_bins, _DELTAS)[:, 0])
            counts = np.ones(num_bins)
        # A block has fewer bins than its blob has bytes (under 2^31), so
        # steps of at most 2^32 in magnitude cannot wrap an int64 running
        # sum; past that, Python ints keep a far index from wrapping back
        # into range.
        if num_bins and (steps.min() < -(1 << 32) or steps.max() > 1 << 32):
            steps = steps.astype(object)
        indexes = np.cumsum(steps, out=steps)
        keep = counts > 0.0
        if not keep.all():
            indexes, counts = indexes[keep], counts[keep]
        if not indexes.size:
            return
        lo, hi = int(indexes.min()), int(indexes.max())
        serde.i64_to_i32_exact(lo)
        serde.i64_to_i32_exact(hi)
        self._check_decode_span(lo, hi)
        self.add_many(indexes, counts)

def bin_encoding_mode_of_flag(marker: int) -> int:
    mode = (marker >> 2) - 1
    if mode not in (0, 1, 2):
        raise ValueError("Unknown BinEncodingMode.")
    return mode + 1
