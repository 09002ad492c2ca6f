"""DDSketch end-to-end kernel tests.

Mirrors the reference integration suite (/root/reference/tests/test_sketch.rs)
including the golden serialized sketches, plus merge associativity /
commutativity properties required for distributed aggregation.
"""

import numpy as np
import pytest

from sketches_rust_spark.kernel.sketch import DDSketch

# Golden blobs from /root/reference/tests/test_sketch.rs:158-204.
GOLDEN_BLOB_CUBIC_4538 = bytes([
    14, 100, 244, 7, 173, 131, 165, 240, 63, 0, 0, 0, 0, 0, 0, 0, 0, 5, 21, 0, 140, 48, 34,
    150, 241, 16, 20, 148, 191, 96, 14, 142, 62, 12, 139, 16, 10, 134, 96, 8, 3, 6, 2, 6, 2, 6,
    2, 4, 2, 42, 2, 26, 2, 6, 2, 20, 2, 6, 2, 2, 2, 10, 2, 20, 2, 14, 2, 10, 2,
])
GOLDEN_BLOB_CUBIC_100 = bytes([
    14, 100, 244, 7, 173, 131, 165, 240, 63, 0, 0, 0, 0, 0, 0, 0, 0, 5, 10, 7, 2, 18, 2, 38, 2,
    2, 4, 4, 2, 4, 2, 12, 3, 6, 2, 2, 2, 12, 140, 100,
])
GOLDEN_BLOB_LOG_100 = bytes([
    2, 42, 120, 57, 5, 47, 167, 240, 63, 0, 0, 0, 0, 0, 0, 0, 0, 13, 50, 130, 1, 2, 136, 32, 0,
    3, 0, 0, 0, 3, 0, 2, 0, 0, 3, 3, 2, 2, 3, 3, 2, 0, 0, 0, 0, 2, 0, 2, 2, 2, 4, 4, 132, 64,
    0, 4, 2, 0, 2, 2, 3, 132, 64, 4, 132, 64, 4, 2, 2, 0, 6, 4, 6, 132, 64, 2, 6,
])


def test_constructor_validation():
    with pytest.raises(ValueError):
        DDSketch.collapsing_lowest_dense(0.00, 100)
    with pytest.raises(ValueError):
        DDSketch.collapsing_lowest_dense(1.00, 100)
    with pytest.raises(ValueError):
        DDSketch.collapsing_lowest_dense(0.02, 2147483648)


@pytest.mark.parametrize("preset", [
    ("collapsing_lowest_dense", (0.02, 100)),
    ("collapsing_highest_dense", (0.02, 100)),
    ("unbounded_dense", (0.02,)),
    ("logarithmic_collapsing_lowest_dense", (0.02, 100)),
    ("logarithmic_collapsing_highest_dense", (0.02, 100)),
])
def test_quantile_accuracy_1_to_5(preset):
    name, args = preset
    sketch = getattr(DDSketch, name)(*args)
    for v in (1.0, 2.0, 3.0, 4.0, 5.0):
        sketch.accept(v)
    for q, exact in ((0.0, 1.0), (0.5, 3.0), (1.0, 5.0)):
        est = sketch.get_value_at_quantile(q)
        assert abs(est - exact) / exact < 0.021


def test_summary_stats_signed_range():
    accuracy = 2e-2
    sketch = DDSketch.collapsing_lowest_dense(accuracy, 50)
    sketch.accept_many(np.arange(-99, 101, dtype=np.float64))
    assert sketch.get_count() == 200.0
    assert abs(sketch.get_min() - -99.0) / 99.0 <= accuracy
    assert abs(sketch.get_max() - 100.0) / 100.0 <= accuracy
    assert abs(sketch.get_average() - 0.5) / 0.5 <= accuracy
    assert abs(sketch.get_sum() - 100.0) / 100.0 <= accuracy


def test_merge_same_store_type():
    s1 = DDSketch.collapsing_lowest_dense(2e-2, 50)
    s1.accept_many(np.arange(-99, 101, dtype=np.float64))
    s2 = DDSketch.collapsing_lowest_dense(2e-2, 50)
    s2.accept_many(np.arange(100, 200, dtype=np.float64))
    s1.merge_with(s2)
    assert s1.get_count() == 300.0


def test_merge_mixed_store_types():
    s1 = DDSketch.collapsing_lowest_dense(2e-2, 50)
    s1.accept_many(np.arange(-99, 101, dtype=np.float64))
    s2 = DDSketch.unbounded_dense(2e-2)
    s2.accept_many(np.arange(100, 200, dtype=np.float64))
    s1.merge_with(s2)
    assert s1.get_count() == 300.0


def test_merge_rejects_mismatched_accuracy():
    s1 = DDSketch.collapsing_lowest_dense(1e-2, 50)
    s1.accept(1.0)
    s2 = DDSketch.collapsing_lowest_dense(2e-2, 50)
    s2.accept(1.0)
    with pytest.raises(ValueError):
        s1.merge_with(s2)


def test_golden_decode_cubic_4538():
    sketch = DDSketch.collapsing_lowest_dense(2e-2, 50)
    sketch.decode_and_merge_with(GOLDEN_BLOB_CUBIC_4538)
    assert sketch.get_count() == 4538.0


def test_golden_decode_cubic_100_collapsing_highest():
    sketch = DDSketch.collapsing_highest_dense(2e-2, 50)
    sketch.decode_and_merge_with(GOLDEN_BLOB_CUBIC_100)
    assert sketch.get_count() == 100.0


def test_golden_decode_log_100():
    sketch = DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50)
    sketch.decode_and_merge_with(GOLDEN_BLOB_LOG_100)
    assert sketch.get_count() == 100.0


def test_golden_decode_standalone():
    sketch = DDSketch.decode(GOLDEN_BLOB_LOG_100)
    assert sketch.get_count() == 100.0


def test_golden_decode_rejects_wrong_mapping():
    with pytest.raises(ValueError):
        s = DDSketch.collapsing_lowest_dense(1e-2, 50)
        s.decode_and_merge_with(GOLDEN_BLOB_CUBIC_4538)
    with pytest.raises(ValueError):
        s = DDSketch.collapsing_highest_dense(2e-2, 50)
        s.decode_and_merge_with(GOLDEN_BLOB_LOG_100)


def test_encode_decode_roundtrip():
    s1 = DDSketch.unbounded_dense(2e-2)
    for v in (1.0, 2.0, 3.0, 4.0, 5.0):
        s1.accept(v)
    s2 = DDSketch.unbounded_dense(2e-2)
    s2.decode_and_merge_with(s1.encode())
    assert s2.get_count() == 5.0


def test_encode_byte_stable_roundtrip():
    """encode -> decode -> encode must be byte-identical for unbounded stores
    (the shuffle-safe intermediate representation property)."""
    s1 = DDSketch.logarithmic_unbounded_size_dense_store(2e-2)
    rng = np.random.default_rng(3)
    s1.accept_many(rng.lognormal(6, 1.2, size=5000))
    blob1 = s1.encode()
    s2 = DDSketch.logarithmic_unbounded_size_dense_store(2e-2)
    s2.decode_and_merge_with(blob1)
    assert s2.encode() == blob1


def test_all_factories_construct():
    for name in DDSketch.PRESETS:
        s = DDSketch.preset(name, 2e-2, 100)
        s.accept(1.0)
        assert s.get_count() == 1.0


def test_merge_associative_commutative():
    rng = np.random.default_rng(11)
    values = rng.lognormal(6, 1.2, size=9000)
    chunks = np.array_split(values, 7)

    def build(chunk):
        s = DDSketch.logarithmic_unbounded_size_dense_store(2e-2)
        s.accept_many(chunk)
        return s

    whole = build(values)
    # left fold in order
    a = build(chunks[0])
    for c in chunks[1:]:
        a.merge_with(build(c))
    # fold in reversed order
    b = build(chunks[-1])
    for c in reversed(chunks[:-1]):
        b.merge_with(build(c))
    # tree fold
    parts = [build(c) for c in chunks]
    while len(parts) > 1:
        nxt = []
        for i in range(0, len(parts) - 1, 2):
            parts[i].merge_with(parts[i + 1])
            nxt.append(parts[i])
        if len(parts) % 2:
            nxt.append(parts[-1])
        parts = nxt

    assert a.encode() == b.encode() == parts[0].encode() == whole.encode()


def test_quantile_error_bound_lognormal():
    """Every estimated quantile within the effective relative accuracy of the
    exact rank value (the DDSketch paper guarantee)."""
    rng = np.random.default_rng(5)
    values = rng.lognormal(6, 1.2, size=100_000)
    sketch = DDSketch.logarithmic_unbounded_size_dense_store(2e-2)
    sketch.accept_many(values)
    alpha = sketch.index_mapping.relative_accuracy
    srt = np.sort(values)
    for q in (0.01, 0.05, 0.25, 0.5, 0.75, 0.9, 0.95, 0.99, 0.999):
        est = sketch.get_value_at_quantile(q)
        exact = srt[int(q * (len(srt) - 1))]
        assert abs(est - exact) / exact <= alpha * 1.0000001


def test_quantile_edge_cases():
    s = DDSketch.unbounded_dense(2e-2)
    assert s.get_value_at_quantile(0.5) is None  # empty
    s.accept(42.0)
    assert abs(s.get_value_at_quantile(0.0) - 42.0) / 42.0 < 0.021
    assert abs(s.get_value_at_quantile(1.0) - 42.0) / 42.0 < 0.021
    assert s.get_value_at_quantile(-0.1) is None
    assert s.get_value_at_quantile(1.1) is None


def test_zero_and_negative_routing():
    s = DDSketch.unbounded_dense(2e-2)
    s.accept_many(np.array([0.0, 0.0, -5.0, 5.0]))
    assert s.zero_count == 2.0
    assert s.get_count() == 4.0
    assert abs(s.get_value_at_quantile(0.0) - -5.0) / 5.0 < 0.021
    assert s.get_value_at_quantile(0.5) == 0.0
    assert abs(s.get_value_at_quantile(1.0) - 5.0) / 5.0 < 0.021


def test_weighted_accept():
    s = DDSketch.unbounded_dense(2e-2)
    s.accept_many(np.array([10.0, 20.0]), np.array([3.0, 1.0]))
    assert s.get_count() == 4.0
    assert abs(s.get_value_at_quantile(0.5) - 10.0) / 10.0 < 0.021


def test_decode_rejects_contiguous_index_past_i32_by_int64_wrap():
    """A contiguous bin block whose index arithmetic passes int64 must not
    wrap back into range: 4 * (2^62 + 1) is far past i32, not bucket 4."""
    from sketches_rust_spark.kernel import serde
    from sketches_rust_spark.kernel.store import (
        CONTIGUOUS_COUNTS,
        FLAG_TYPE_POSITIVE_STORE,
    )

    block = bytearray([FLAG_TYPE_POSITIVE_STORE | (CONTIGUOUS_COUNTS << 2)])
    serde.encode_unsigned_var_long(block, 5)
    serde.encode_signed_var_long(block, 0)
    serde.encode_signed_var_long(block, (1 << 62) + 1)
    for c in (0.0, 0.0, 0.0, 0.0, 7.0):
        serde.encode_var_double(block, c)
    with pytest.raises(ValueError, match="i32"):
        DDSketch.decode(GOLDEN_BLOB_LOG_100 + bytes(block))
    with pytest.raises(ValueError, match="i32"):
        DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50).decode_and_merge_with(
            GOLDEN_BLOB_LOG_100 + bytes(block))


def _block(mode, num_bins, *tokens):
    """A positive-store bin block of ``mode`` appended to a golden blob;
    ``tokens`` are ("long", v) / ("double", v) pairs after the bin count."""
    from sketches_rust_spark.kernel import serde
    from sketches_rust_spark.kernel.store import FLAG_TYPE_POSITIVE_STORE

    block = bytearray([FLAG_TYPE_POSITIVE_STORE | (mode << 2)])
    serde.encode_unsigned_var_long(block, num_bins)
    for kind, v in tokens:
        if kind == "long":
            serde.encode_signed_var_long(block, v)
        else:
            serde.encode_var_double(block, v)
    return GOLDEN_BLOB_LOG_100 + bytes(block)


def test_decode_rejects_sparse_index_past_i32_by_int64_wrap():
    """Sparse index deltas whose running sum passes int64 must not wrap back
    into range: (2^63-1) + (2^63-1) + 7 is far past i32, not bucket 5."""
    from sketches_rust_spark.kernel.store import INDEX_DELTAS_AND_COUNTS

    big = (1 << 63) - 1
    blob = _block(INDEX_DELTAS_AND_COUNTS, 3, ("long", big), ("double", 0.0),
                  ("long", big), ("double", 0.0), ("long", 7), ("double", 1.0))
    with pytest.raises(ValueError, match="i32"):
        DDSketch.decode(blob)
    with pytest.raises(ValueError, match="i32"):
        DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50).decode_and_merge_with(blob)


def test_decode_keeps_in_range_bins_beside_wide_steps():
    """Steps past 2^32 that no kept bin lands on leave the kept bins adding
    as plain ones: a one-bin contiguous block with a 2^40 step, and a sparse
    block whose two far bins carry zero counts, each add 3.0 at bucket 5."""
    from sketches_rust_spark.kernel.store import CONTIGUOUS_COUNTS, INDEX_DELTAS_AND_COUNTS

    far = 1 << 40
    blobs = [_block(CONTIGUOUS_COUNTS, 1, ("long", 5), ("long", far), ("double", 3.0)),
             _block(INDEX_DELTAS_AND_COUNTS, 3, ("long", far), ("double", 0.0),
                    ("long", 5 - far), ("double", 3.0), ("long", far), ("double", 0.0))]
    want = DDSketch.decode(GOLDEN_BLOB_LOG_100)
    want.positive_value_store.add(5, 3.0)
    want_collapsing = DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50)
    want_collapsing.decode_and_merge_with(GOLDEN_BLOB_LOG_100)
    want_collapsing.positive_value_store.add(5, 3.0)
    for blob in blobs:
        assert DDSketch.decode(blob).encode() == want.encode()
        got = DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50)
        got.decode_and_merge_with(blob)
        assert got.encode() == want_collapsing.encode()


def test_decode_rejects_contiguous_block_cut_after_header():
    """A contiguous block that declares bins but ends right after its header
    is truncated, not empty."""
    from sketches_rust_spark.kernel.store import CONTIGUOUS_COUNTS

    blob = _block(CONTIGUOUS_COUNTS, 5, ("long", 0), ("long", 1))
    with pytest.raises(ValueError):
        DDSketch.decode(blob)
    with pytest.raises(ValueError):
        DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50).decode_and_merge_with(blob)
    with pytest.raises(ValueError):  # the last count token loses its final byte
        DDSketch.decode(_block(CONTIGUOUS_COUNTS, 1, ("long", 0), ("long", 1),
                               ("double", 4.0))[:-1])


def _reference_blob(s, modes):
    """The blob the scalar (golden-pinned) encoders write for ``s``: the
    reference's dense-vs-sparse choice by exact encoded size, ties dense.
    Adds the bin modes written to ``modes``."""
    from sketches_rust_spark.kernel import serde
    from sketches_rust_spark.kernel.sketch import FLAG_ZERO_COUNT
    from sketches_rust_spark.kernel.store import (
        CONTIGUOUS_COUNTS,
        FLAG_TYPE_NEGATIVE_STORE,
        FLAG_TYPE_POSITIVE_STORE,
        INDEX_DELTAS_AND_COUNTS,
    )

    buf = bytearray()
    s.index_mapping.encode(buf)
    if s.zero_count != 0.0:
        buf.append(FLAG_ZERO_COUNT)
        serde.encode_var_double(buf, s.zero_count)
    for store, flag in ((s.positive_value_store, FLAG_TYPE_POSITIVE_STORE),
                        (s.negative_value_store, FLAG_TYPE_NEGATIVE_STORE)):
        if store.is_empty():
            continue
        counts, lo = store.counts.tolist(), store.min_index
        bins = [(lo + i, c) for i, c in enumerate(counts) if c != 0.0]
        deltas = [i - p for (i, _), p in zip(bins, [0] + [i for i, _ in bins])]
        dense = (serde.unsigned_var_long_encoded_length(len(counts))
                 + serde.signed_var_long_encoded_length(lo)
                 + serde.signed_var_long_encoded_length(1)
                 + sum(serde.var_double_encoded_length(c) for c in counts))
        sparse = sum(serde.signed_var_long_encoded_length(d)
                     + serde.var_double_encoded_length(c)
                     for d, (_, c) in zip(deltas, bins))
        modes.add(CONTIGUOUS_COUNTS if dense <= sparse else INDEX_DELTAS_AND_COUNTS)
        if dense <= sparse:
            buf.append(flag | (CONTIGUOUS_COUNTS << 2))
            serde.encode_unsigned_var_long(buf, len(counts))
            serde.encode_signed_var_long(buf, lo)
            serde.encode_signed_var_long(buf, 1)
            for c in counts:
                serde.encode_var_double(buf, c)
        else:
            buf.append(flag | (INDEX_DELTAS_AND_COUNTS << 2))
            serde.encode_unsigned_var_long(buf, len(bins))
            for d, (_, c) in zip(deltas, bins):
                serde.encode_signed_var_long(buf, d)
                serde.encode_var_double(buf, c)
    return bytes(buf)


def test_blobs_equal_scalar_reference_bytes():
    """Every preset, weighted and unweighted, with negatives and zeros, both
    block kinds: the blob is the scalar encoders' bytes, and decoding it
    reads back the same bins."""
    rng = np.random.default_rng(11)
    modes = set()
    for name in DDSketch.PRESETS:
        for alpha, bins, n in ((0.01, 2048, 3000), (0.02, 64, 400), (0.05, 2048, 25)):
            for weighted in (False, True):
                v = rng.lognormal(rng.uniform(-2, 6), rng.uniform(0.2, 3), n)
                v[rng.random(n) < 0.3] *= -1
                v[rng.random(n) < 0.05] = 0.0
                s = DDSketch.preset(name, alpha, bins)
                s.accept_many(v, rng.uniform(0.01, 9.0, n) if weighted else None)
                blob = s.encode()
                assert blob == _reference_blob(s, modes), (name, alpha, weighted)
                assert DDSketch.decode(blob).encode() == blob
    assert len(modes) == 2  # both the dense and the sparse block were written


def test_sparse_block_with_glued_count_tokens_round_trips():
    """Fractional weights make 9-byte count tokens whose last byte has the
    MSB set inside a sparse block; decoding reads the scalar values."""
    from sketches_rust_spark.kernel import serde
    from sketches_rust_spark.kernel.serde import Input
    from sketches_rust_spark.kernel.store import INDEX_DELTAS_AND_COUNTS

    rng = np.random.default_rng(5)
    s = DDSketch.logarithmic_unbounded_size_dense_store(0.01)
    s.accept_many(rng.lognormal(0, 4, 60), rng.uniform(0.1, 3.0, 60))
    blob = s.encode()
    inp = Input(blob)
    inp.seek(17)  # after the mapping
    assert inp.read_byte() >> 2 == INDEX_DELTAS_AND_COUNTS
    index, bins, glued = 0, {}, 0
    for _ in range(serde.decode_unsigned_var_long(inp)):
        index += serde.decode_signed_var_long(inp)
        start = inp.tell()
        bins[index] = serde.decode_var_double(inp)
        glued += inp.tell() - start == 9 and blob[inp.tell() - 1] >= 0x80
    assert not inp.has_remaining()
    assert glued > 0
    idx, counts = DDSketch.decode(blob).positive_value_store.nonzero_bins()
    assert dict(zip(idx.tolist(), counts.tolist())) == bins
    assert DDSketch.decode(blob).encode() == blob


@pytest.mark.parametrize("fractional", [False, True])
def test_store_codec_peak_memory_per_bin(fractional):
    """tracemalloc peaks of encode and decode of a 2^20-bin dense store stay
    within a bound per bin of span (tokens go in fixed-size chunks)."""
    import tracemalloc

    from sketches_rust_spark.kernel.serde import Input
    from sketches_rust_spark.kernel.store import (
        FLAG_TYPE_POSITIVE_STORE,
        UNBOUNDED,
        DenseStore,
        bin_encoding_mode_of_flag,
    )

    n = 1 << 20
    rng = np.random.default_rng(5)
    store = DenseStore(UNBOUNDED)
    store.add_many(np.arange(n), rng.random(n) * 1000 + 1e-3 if fractional
                   else rng.integers(1, 1000, n).astype(np.float64))

    def peak(fn):
        tracemalloc.start()
        base = tracemalloc.get_traced_memory()[0]
        out = fn()
        top = tracemalloc.get_traced_memory()[1] - base
        tracemalloc.stop()
        return out, top / n

    buf = bytearray()
    _, encode_peak = peak(lambda: store.encode(buf, FLAG_TYPE_POSITIVE_STORE))
    inp = Input(bytes(buf))
    mode = bin_encoding_mode_of_flag(inp.read_byte())
    target = DenseStore(UNBOUNDED)
    _, decode_peak = peak(lambda: target.decode_and_merge_with(inp, mode))
    assert not inp.has_remaining()
    # counts travel as bits(count + 1.0), exact for integral counts
    np.testing.assert_array_equal(target.counts, (store.counts + 1.0) - 1.0)
    assert encode_peak <= 50 and decode_peak <= 36, (encode_peak, decode_peak)
