"""Property-based kernel tests (hypothesis): the DDSketch contracts hold for
ARBITRARY inputs, not just the fixture distributions.

Kernel-only (no Spark) so the whole file runs in seconds.
"""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from helpers import fingerprint_jaccard
from sketches_rust_spark.kernel.fingerprint import document_fingerprints
from sketches_rust_spark.kernel.sketch import DDSketch

finite_positive = st.floats(min_value=1e-100, max_value=1e100,
                            allow_nan=False, allow_infinity=False)


@settings(max_examples=50, deadline=None)
@given(st.lists(finite_positive, min_size=1, max_size=300),
       st.sampled_from([0.01, 0.02, 0.05]),
       st.sampled_from(["logarithmic_unbounded_size_dense_store",
                        "unbounded_dense"]))
def test_quantile_within_alpha_for_arbitrary_values(vals, alpha, preset):
    """The published contract: every estimated quantile within the effective
    relative accuracy of the exact rank value — for any input whatsoever."""
    sk = DDSketch.preset(preset, alpha, 0)
    arr = np.array(vals, dtype=np.float64)
    sk.accept_many(arr)
    srt = np.sort(arr)
    ra = sk.index_mapping.relative_accuracy
    for q in (0.0, 0.25, 0.5, 0.9, 1.0):
        exact = srt[int(q * (len(srt) - 1))]
        est = sk.get_value_at_quantile(q)
        assert abs(est - exact) <= ra * abs(exact) * (1 + 1e-9), (q, est, exact)


@settings(max_examples=50, deadline=None)
@given(st.lists(st.floats(min_value=-1e50, max_value=1e50,
                          allow_nan=False, allow_infinity=False),
                min_size=0, max_size=200))
def test_serde_round_trip_byte_stable(vals):
    """encode(decode(encode(x))) == encode(x) for arbitrary inserts,
    including negatives and zeros."""
    sk = DDSketch.logarithmic_unbounded_size_dense_store(0.01)
    sk.accept_many(np.array(vals, dtype=np.float64))
    blob = sk.encode()
    again = DDSketch.decode(blob).encode()
    assert blob == again
    assert DDSketch.decode(again).get_count() == sk.get_count()


@settings(max_examples=50, deadline=None)
@given(st.lists(finite_positive, min_size=2, max_size=200),
       st.integers(min_value=1, max_value=7))
def test_merge_order_invariance(vals, split):
    """Merging partial sketches gives the same bytes regardless of how the
    input was partitioned (the property that makes the two-level Spark
    aggregation exact)."""
    arr = np.array(vals, dtype=np.float64)
    whole = DDSketch.logarithmic_unbounded_size_dense_store(0.02)
    whole.accept_many(arr)

    merged = DDSketch.logarithmic_unbounded_size_dense_store(0.02)
    for chunk in np.array_split(arr, split):
        part = DDSketch.logarithmic_unbounded_size_dense_store(0.02)
        part.accept_many(chunk)
        merged.decode_and_merge_with(part.encode())
    assert merged.encode() == whole.encode()


@settings(max_examples=30, deadline=None)
@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               min_size=0, max_size=60),
       st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               min_size=0, max_size=60),
       st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126),
               min_size=30, max_size=120))
def test_winnowing_shared_substring_guarantee(prefix_a, prefix_b, shared):
    """SIGMOD'03 theorem: documents sharing any substring of length
    >= w + k - 1 share at least one fingerprint (k=8, w=16 -> 23 chars)."""
    k, w = 8, 16
    a = prefix_a + shared
    b = prefix_b + shared
    if len(shared) < w + k - 1:
        return
    fa = document_fingerprints(a, k=k, w=w)
    fb = document_fingerprints(b, k=k, w=w)
    assert fingerprint_jaccard(fa, fb) > 0


# ---------------------------------------------------------------------------
# wire-decoder robustness: arbitrary / truncated / mutated bytes must raise
# cleanly (never hang, never allocate from a hostile declared length)
# ---------------------------------------------------------------------------

def _all_decoders():
    from sketches_rust_spark.kernel.bloom import BloomFilter
    from sketches_rust_spark.kernel.cms import CountMinSketch
    from sketches_rust_spark.kernel.hll import HyperLogLog
    from sketches_rust_spark.kernel.kll import KLL
    from sketches_rust_spark.kernel.kmv import KMV
    from sketches_rust_spark.kernel.tdigest import TDigest
    return [DDSketch.decode, KMV.decode, HyperLogLog.decode,
            CountMinSketch.decode, BloomFilter.decode, TDigest.decode,
            KLL.decode]


import struct as _struct  # noqa: E402

# struct.error for fixed-layout headers cut mid-field; everything else is
# ValueError. Anything outside this set (MemoryError from a hostile length,
# ZeroDivisionError, IndexError, a hang) is the bug these tests hunt.
_CLEAN = (ValueError, _struct.error)


@settings(max_examples=200, deadline=None)
@given(st.binary(min_size=0, max_size=300))
def test_decoders_reject_arbitrary_bytes(data):
    for dec in _all_decoders():
        try:
            dec(data)
        except _CLEAN:
            pass


def _golden_valid_blobs():
    """Valid blobs for every wire format (DDSketch from the reference golden
    vectors, siblings from local encodes) as mutation seeds."""
    import math

    from sketches_rust_spark.kernel.bloom import BloomFilter
    from sketches_rust_spark.kernel.cms import CountMinSketch
    from sketches_rust_spark.kernel.hll import HyperLogLog
    from sketches_rust_spark.kernel.kll import KLL
    from sketches_rust_spark.kernel.kmv import KMV
    from sketches_rust_spark.kernel.tdigest import TDigest
    from test_sketch import GOLDEN_BLOB_CUBIC_4538, GOLDEN_BLOB_LOG_100

    rng = np.random.default_rng(5)
    vals = rng.lognormal(3, 1, 500)
    hll = HyperLogLog(10)
    hll.add_hashes(rng.integers(0, 2**63, 500))
    cms = CountMinSketch(3, 64)
    kmv = KMV(16)
    kmv.add_hashes(rng.integers(0, 2**63, 500).astype(np.uint64))
    td = TDigest(50.0)
    td.accept_many(vals)
    kll = KLL(64)
    kll.accept_many(vals)
    bloom = BloomFilter(1 << 10, 3)
    sk = DDSketch.logarithmic_unbounded_size_dense_store(0.02)
    sk.accept_many(vals)
    assert math.isfinite(td.quantile(0.5))
    return {
        DDSketch.decode: [bytes(GOLDEN_BLOB_LOG_100),
                          bytes(GOLDEN_BLOB_CUBIC_4538), sk.encode()],
        HyperLogLog.decode: [hll.encode()],
        CountMinSketch.decode: [cms.encode()],
        KMV.decode: [kmv.encode()],
        TDigest.decode: [td.encode()],
        KLL.decode: [kll.encode()],
        BloomFilter.decode: [bloom.encode()],
    }


_SEEDS = None


def _seeds():
    global _SEEDS
    if _SEEDS is None:
        _SEEDS = _golden_valid_blobs()
    return _SEEDS


@settings(max_examples=250, deadline=None)
@given(st.data())
def test_decoders_survive_mutations_of_valid_blobs(data):
    """Truncations, byte flips, and insertions of VALID blobs (the mutations
    a corrupt shuffle block / bit-rotted object store actually produces)
    either decode to something or raise cleanly — never crash differently,
    hang, or over-allocate."""
    seeds = _seeds()
    dec = data.draw(st.sampled_from(list(seeds)))
    blob = bytearray(data.draw(st.sampled_from(seeds[dec])))
    kind = data.draw(st.sampled_from(["truncate", "flip", "insert"]))
    if kind == "truncate" and len(blob) > 0:
        blob = blob[:data.draw(st.integers(0, len(blob) - 1))]
    elif kind == "flip" and len(blob) > 0:
        i = data.draw(st.integers(0, len(blob) - 1))
        blob[i] ^= data.draw(st.integers(1, 255))
    else:
        i = data.draw(st.integers(0, len(blob)))
        blob[i:i] = bytes([data.draw(st.integers(0, 255))])
    try:
        dec(bytes(blob))
    except _CLEAN:
        pass


def test_hostile_declared_lengths_raise_before_allocating():
    """Tiny blobs declaring astronomically large structures must raise
    ValueError via pure arithmetic checks — if any of these allocated from
    the header, the test box (and a 100-TB job's executor) would OOM."""
    import struct as _s

    from sketches_rust_spark.kernel.bloom import BloomFilter
    from sketches_rust_spark.kernel.cms import CountMinSketch
    from sketches_rust_spark.kernel.hll import HyperLogLog
    from sketches_rust_spark.kernel.tdigest import TDigest
    from test_sketch import GOLDEN_BLOB_LOG_100

    with pytest.raises(ValueError):
        CountMinSketch.decode(b"CMS1" + _s.pack("<II", 2**31, 2**31))
    with pytest.raises(ValueError):
        BloomFilter.decode(b"BLM1" + _s.pack("<QI", 2**60, 7))
    with pytest.raises(ValueError):
        HyperLogLog.decode(b"HLL1" + bytes([200]))
    with pytest.raises(ValueError):
        TDigest.decode(b"TDG1" + _s.pack("<dIdd", float("nan"), 0, 0.0, 1.0))

    # DDSketch: a ~15-byte sparse store block declaring bins at -2^30 and
    # +2^30 would reframe a 2^31-bin (16 GiB) dense array without the span
    # guard. Appended to a valid golden blob so the mapping decodes first.
    from sketches_rust_spark.kernel import serde as _serde
    from sketches_rust_spark.kernel.store import (
        FLAG_TYPE_POSITIVE_STORE,
        INDEX_DELTAS_AND_COUNTS,
    )
    evil = bytearray()
    evil.append(FLAG_TYPE_POSITIVE_STORE | (INDEX_DELTAS_AND_COUNTS << 2))
    _serde.encode_unsigned_var_long(evil, 2)
    _serde.encode_signed_var_long(evil, -(2**30))
    _serde.encode_var_double(evil, 1.0)
    _serde.encode_signed_var_long(evil, 2**31 - 2)  # delta to +2^30-2
    _serde.encode_var_double(evil, 1.0)
    with pytest.raises(ValueError, match="span"):
        DDSketch.decode(bytes(GOLDEN_BLOB_LOG_100) + bytes(evil))

    # DDSketch: a bin block declaring 2^40 bins in a few bytes, in each bin
    # mode, is checked against the bytes left before any token is read.
    import tracemalloc

    from sketches_rust_spark.kernel.store import CONTIGUOUS_COUNTS, INDEX_DELTAS
    for mode in (INDEX_DELTAS_AND_COUNTS, INDEX_DELTAS, CONTIGUOUS_COUNTS):
        evil = bytearray([FLAG_TYPE_POSITIVE_STORE | (mode << 2)])
        _serde.encode_unsigned_var_long(evil, 1 << 40)
        evil += bytes([2, 2, 2, 2])
        for receiver in (DDSketch.logarithmic_unbounded_size_dense_store(2e-2),
                         DDSketch.logarithmic_collapsing_lowest_dense(2e-2, 50)):
            tracemalloc.start()
            with pytest.raises(ValueError, match="exhausted"):
                receiver.decode_and_merge_with(bytes(GOLDEN_BLOB_LOG_100) + bytes(evil))
            peak = tracemalloc.get_traced_memory()[1]
            tracemalloc.stop()
            assert peak < 1 << 16, (mode, peak)
