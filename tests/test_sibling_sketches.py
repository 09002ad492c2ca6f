"""Kernel tests for the sibling sketches: HLL, CMS, Bloom, t-digest, KLL.

Each sketch is tested against its published error bound, for merge
associativity (partition-split == whole-build within bound), and for
serde round-trips. The merge contract runs every two-level adapter
(DDSketch included) through 1 to 512 partial merges.
"""

import numpy as np
import pandas as pd
import pytest

from sketches_rust_spark.functions.ddsketch_spark import DEFAULT_CONFIG, _ddsketch_adapter
from sketches_rust_spark.functions.sketch_udafs import (
    bloom_adapter,
    cms_adapter,
    hll_adapter,
    kll_adapter,
    kmv_adapter,
    tdigest_adapter,
)
from sketches_rust_spark.kernel.bits import clz64, popcount64, splitmix64
from sketches_rust_spark.kernel.bloom import BloomFilter
from sketches_rust_spark.kernel.cms import CountMinSketch
from sketches_rust_spark.kernel.hll import HyperLogLog
from sketches_rust_spark.kernel.kll import KLL
from sketches_rust_spark.kernel.tdigest import TDigest


# -- bit helpers ------------------------------------------------------------

def test_popcount_and_clz():
    x = np.array([0, 1, 2, 3, 0xFFFFFFFFFFFFFFFF, 1 << 63], dtype=np.uint64)
    assert popcount64(x).tolist() == [0, 1, 1, 2, 64, 1]
    assert clz64(x).tolist() == [64, 63, 62, 62, 0, 0]


def test_splitmix64_reference_vector():
    # published SplitMix64 output for state 1234567 (Vigna's reference impl)
    got = splitmix64(np.array([1234567], dtype=np.uint64))[0]
    assert got == 6457827717110365317
    # avalanche sanity: consecutive inputs decorrelate
    a = splitmix64(np.arange(1000, dtype=np.uint64))
    assert len(np.unique(a)) == 1000
    assert popcount64(a).mean() == pytest.approx(32, abs=1.0)


# -- HyperLogLog -------------------------------------------------------------

def test_hll_error_bound():
    rng = np.random.default_rng(1)
    for true_n in (100, 10_000, 1_000_000):
        h = HyperLogLog(p=14)
        ids = rng.integers(0, 1 << 62, size=true_n, dtype=np.uint64)
        h.add_hashes(splitmix64(ids))
        est = h.estimate()
        rse = h.relative_standard_error()
        assert abs(est - true_n) / true_n <= 4 * rse, (true_n, est)


def test_hll_merge_equals_whole():
    ids = splitmix64(np.arange(500_000, dtype=np.uint64))
    whole = HyperLogLog(12)
    whole.add_hashes(ids)
    parts = []
    for chunk in np.array_split(ids, 7):
        p = HyperLogLog(12)
        p.add_hashes(chunk)
        parts.append(p)
    merged = HyperLogLog(12)
    for p in parts:
        merged.decode_and_merge_with(p.encode())
    assert merged.encode() == whole.encode()  # register-max is exact


def test_hll_duplicates_dont_inflate():
    h = HyperLogLog(12)
    hashes = splitmix64(np.arange(1000, dtype=np.uint64))
    for _ in range(50):
        h.add_hashes(hashes)
    assert abs(h.estimate() - 1000) / 1000 <= 4 * h.relative_standard_error()


def test_hll_precision_mismatch_rejected():
    a, b = HyperLogLog(12), HyperLogLog(13)
    with pytest.raises(ValueError):
        a.merge_with(b)


# -- Count-Min ---------------------------------------------------------------

def test_cms_point_query_bound():
    rng = np.random.default_rng(2)
    cms = CountMinSketch.from_error_bounds(eps=0.005, delta=0.01)
    # zipfian stream of 200k events over 10k items
    items = rng.zipf(1.3, size=200_000) % 10_000
    hashes = splitmix64(items.astype(np.uint64))
    cms.add_hashes(hashes)
    n = cms.total()
    assert n == 200_000
    true_counts = np.bincount(items, minlength=10_000)
    probe = np.arange(10_000, dtype=np.uint64)
    est = cms.estimate_hashes(splitmix64(probe))
    over = est - true_counts
    assert (over >= 0).all()  # never undercounts
    # eps*N bound should hold for ~1-delta of items
    assert (over <= cms.epsilon() * n).mean() >= 1 - cms.delta()


def test_cms_merge_equals_whole():
    hashes = splitmix64(np.arange(100_000, dtype=np.uint64) % 997)
    whole = CountMinSketch(4, 1024)
    whole.add_hashes(hashes)
    merged = CountMinSketch(4, 1024)
    for chunk in np.array_split(hashes, 5):
        part = CountMinSketch(4, 1024)
        part.add_hashes(chunk)
        merged.decode_and_merge_with(part.encode())
    assert merged.encode() == whole.encode()


def test_cms_weighted_add():
    cms = CountMinSketch(4, 512)
    h = splitmix64(np.array([7], dtype=np.uint64))
    cms.add_hashes(h, np.array([42]))
    assert cms.estimate_hashes(h)[0] >= 42


# -- Bloom --------------------------------------------------------------------

def test_bloom_no_false_negatives_and_fpr():
    rng = np.random.default_rng(3)
    n = 50_000
    bf = BloomFilter.from_capacity(n, fpr=0.01)
    members = splitmix64(np.arange(n, dtype=np.uint64))
    bf.add_hashes(members)
    assert bf.might_contain_hashes(members).all()  # zero false negatives
    probes = splitmix64(rng.integers(1 << 40, 1 << 62, size=100_000, dtype=np.uint64))
    fpr = bf.might_contain_hashes(probes).mean()
    assert fpr <= 0.02, fpr


def test_bloom_merge_is_union():
    a, b = BloomFilter(1 << 16, 5), BloomFilter(1 << 16, 5)
    ha = splitmix64(np.arange(0, 1000, dtype=np.uint64))
    hb = splitmix64(np.arange(1000, 2000, dtype=np.uint64))
    a.add_hashes(ha)
    b.add_hashes(hb)
    a.decode_and_merge_with(b.encode())
    assert a.might_contain_hashes(ha).all()
    assert a.might_contain_hashes(hb).all()


# -- t-digest -------------------------------------------------------------------

def test_tdigest_quantile_accuracy():
    rng = np.random.default_rng(4)
    values = rng.lognormal(6, 1.2, size=200_000)
    td = TDigest(200)
    for chunk in np.array_split(values, 20):
        td.accept_many(chunk)
    srt = np.sort(values)
    assert td.quantile(0.0) == srt[0]
    assert td.quantile(1.0) == srt[-1]
    for q, tol in ((0.01, 0.005), (0.5, 0.01), (0.9, 0.005), (0.99, 0.002), (0.999, 0.001)):
        est = td.quantile(q)
        # rank error: fraction of data below the estimate vs q
        rank = np.searchsorted(srt, est) / len(srt)
        assert abs(rank - q) <= tol, (q, rank)


def test_tdigest_merge_bounded_error():
    rng = np.random.default_rng(5)
    values = rng.normal(100, 15, size=100_000)
    parts = []
    for chunk in np.array_split(values, 8):
        td = TDigest(200)
        td.accept_many(chunk)
        parts.append(td.encode())
    merged = TDigest(200)
    for blob in parts:
        merged.decode_and_merge_with(blob)
    assert merged.total_weight() == 100_000
    srt = np.sort(values)
    for q in (0.1, 0.5, 0.9, 0.99):
        rank = np.searchsorted(srt, merged.quantile(q)) / len(srt)
        assert abs(rank - q) <= 0.02


def test_tdigest_serde_roundtrip():
    td = TDigest(100)
    td.accept_many(np.arange(1000, dtype=np.float64))
    blob = td.encode()
    back = TDigest.decode(blob)
    assert back.encode() == blob
    assert back.quantile(0.5) == td.quantile(0.5)


def test_tdigest_compression_mismatch_rejected():
    a, b = TDigest(100), TDigest(200)
    a.accept_many(np.ones(10))
    b.accept_many(np.ones(10))
    with pytest.raises(ValueError):
        a.merge_with(b)


def _reference_merge_pass(td: TDigest, means, weights):
    """The scalar merge loop t-digest used before its vectorized pass: it
    pins the pass's clusters (same weights, means to rounding)."""
    total = weights.sum()
    out_means, out_weights = [], []
    cum = 0.0  # weight fully to the left of the current centroid
    cur_mean, cur_w = float(means[0]), float(weights[0])
    k_left = float(td._k(np.array([0.0]))[0])
    for i in range(1, means.shape[0]):
        proposed = cur_w + float(weights[i])
        q_right = (cum + proposed) / total
        if float(td._k(np.array([q_right]))[0]) - k_left <= 1.0:
            cur_mean += (float(means[i]) - cur_mean) * float(weights[i]) / proposed
            cur_w = proposed
        else:
            out_means.append(cur_mean)
            out_weights.append(cur_w)
            cum += cur_w
            k_left = float(td._k(np.array([cum / total]))[0])
            cur_mean, cur_w = float(means[i]), float(weights[i])
    out_means.append(cur_mean)
    out_weights.append(cur_w)
    return np.array(out_means), np.array(out_weights)


_PASS_INPUTS = {
    "lognormal": lambda rng, n: rng.lognormal(6, 1.2, n),
    "uniform": lambda rng, n: rng.uniform(0, 1000, n),
    "bimodal": lambda rng, n: np.r_[rng.normal(10, 1, n // 2),
                                    rng.normal(1000, 50, n - n // 2)],
    "heavy_tie": lambda rng, n: rng.integers(0, 7, n).astype(np.float64),
}


@pytest.mark.parametrize("n", [50, 2_000, 100_000])
@pytest.mark.parametrize("dist", sorted(_PASS_INPUTS))
@pytest.mark.parametrize("weighted", [False, True], ids=["values", "centroids"])
def test_tdigest_merge_pass_matches_scalar_loop(dist, n, weighted):
    """On the same sorted (means, weights) the vectorized pass gives the
    scalar loop's clusters: equal weights, means within 1e-12 relative.
    ``centroids``: the input is the centroid union of 8 partial digests,
    as a merge sees it."""
    rng = np.random.default_rng(n)
    values = _PASS_INPUTS[dist](rng, n)
    td = TDigest(200)
    if weighted:
        parts = [TDigest(200) for _ in range(8)]
        for part, chunk in zip(parts, np.array_split(values, 8)):
            part.accept_many(chunk)
            part.total_weight()  # flush
        means = np.concatenate([p.means for p in parts])
        weights = np.concatenate([p.weights for p in parts])
    else:
        means, weights = values, np.ones(n)
    order = np.argsort(means, kind="stable")
    means, weights = means[order], weights[order]
    td._compress(means, weights)
    want_means, want_weights = _reference_merge_pass(td, means, weights)
    assert np.array_equal(td.weights, want_weights)
    np.testing.assert_allclose(td.means, want_means, rtol=1e-12, atol=0)


# -- merge contract of the two-level adapters ----------------------------------------

PARTIAL_VALUES = 2_000
MERGE_ADAPTERS = {
    "hll": lambda: hll_adapter(hash_mode="splitmix"),
    "cms": lambda: cms_adapter(hash_mode="splitmix"),
    "kmv": lambda: kmv_adapter(hash_mode="splitmix"),
    "bloom": lambda: bloom_adapter(hash_mode="splitmix"),
    "ddsketch": lambda: _ddsketch_adapter(DEFAULT_CONFIG),
    "tdigest": lambda: tdigest_adapter(200.0),
    "kll": lambda: kll_adapter(200),
}


def _adapter_blob(adapter, column: np.ndarray) -> bytes:
    sk = adapter.new()
    adapter.insert(sk, [adapter.prepare(pd.Series(column))])
    return sk.encode()


def _rank_error(srt: np.ndarray, est: float, q: float) -> float:
    return abs(np.searchsorted(srt, est) / len(srt) - q)


@pytest.mark.parametrize("n_partials", [1, 8, 64, 256, 512])
@pytest.mark.parametrize("family", list(MERGE_ADAPTERS))
def test_adapter_merge_contract(family, n_partials):
    """Level 2 of the two-level core folds N partial blobs into a fresh
    sketch. Order-insensitive families must give the one-shot build's
    bytes; t-digest and KLL must stay within a size bound set by their
    parameters, and within their rank-error bound, whatever N is."""
    adapter = MERGE_ADAPTERS[family]()
    rng = np.random.default_rng(n_partials)
    n = n_partials * PARTIAL_VALUES
    column = (rng.lognormal(6, 1.2, n) if family in ("ddsketch", "tdigest", "kll")
              else rng.integers(0, n // 3 + 1, n))
    merged = adapter.new()
    for chunk in np.array_split(column, n_partials):
        merged.decode_and_merge_with(_adapter_blob(adapter, chunk))
    blob = merged.encode()
    if family not in ("tdigest", "kll"):
        assert blob == _adapter_blob(adapter, column)
        return
    srt = np.sort(column)
    back = type(merged).decode(blob)
    assert back.total_weight() == pytest.approx(n, rel=0.02 if family == "kll" else 0)
    if family == "tdigest":
        assert len(blob) < 4096, len(blob)
        bound = 0.01
    else:
        # each level holds at most its capacity: ceil(k (2/3)^depth), min 2
        assert sum(map(len, back.levels)) <= 3 * back.k + 2 * len(back.levels)
        bound = 0.03
    for q in (0.01, 0.5, 0.99):
        assert _rank_error(srt, back.quantile(q), q) <= bound, q


# -- KLL --------------------------------------------------------------------------

def test_kll_rank_error_bound():
    rng = np.random.default_rng(6)
    values = rng.lognormal(6, 1.2, size=100_000)
    k = KLL(200)
    for chunk in np.array_split(values, 16):
        k.accept_many(chunk)
    assert k.total_weight() == pytest.approx(100_000, rel=0.02)
    srt = np.sort(values)
    for q in (0.01, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = k.quantile(q)
        rank = np.searchsorted(srt, est) / len(srt)
        assert abs(rank - q) <= 0.025, (q, rank)


def test_kll_merge_bounded_error():
    rng = np.random.default_rng(7)
    values = rng.uniform(0, 1000, size=120_000)
    merged = KLL(200)
    for chunk in np.array_split(values, 10):
        part = KLL(200)
        part.accept_many(chunk)
        merged.decode_and_merge_with(part.encode())
    srt = np.sort(values)
    for q in (0.1, 0.5, 0.9):
        rank = np.searchsorted(srt, merged.quantile(q)) / len(srt)
        assert abs(rank - q) <= 0.03


def test_kll_serde_roundtrip():
    k = KLL(64)
    k.accept_many(np.arange(5000, dtype=np.float64))
    blob = k.encode()
    back = KLL.decode(blob)
    assert back.encode() == blob
    assert back.quantile(0.5) == k.quantile(0.5)


def test_kmv_exact_below_k_and_error_bound():
    import numpy as np
    from sketches_rust_spark.kernel.bits import splitmix64
    from sketches_rust_spark.kernel.kmv import KMV

    small = KMV(256)
    small.add_hashes(splitmix64(np.arange(100, dtype=np.uint64)))
    assert small.estimate() == 100.0  # exact below capacity

    big = KMV(256)
    big.add_hashes(splitmix64(np.arange(100_000, dtype=np.uint64)))
    est = big.estimate()
    # 5 sigma of the ~1/sqrt(k-2) relative standard error
    assert abs(est - 100_000) / 100_000 < 5 * big.relative_standard_error()


def test_kmv_merge_equals_whole_and_roundtrip():
    import numpy as np
    from sketches_rust_spark.kernel.bits import splitmix64
    from sketches_rust_spark.kernel.kmv import KMV

    h = splitmix64(np.arange(50_000, dtype=np.uint64))
    a, b, whole = KMV(64), KMV(64), KMV(64)
    a.add_hashes(h[:30_000])
    b.add_hashes(h[20_000:])  # overlapping halves
    whole.add_hashes(h)
    a.merge_with(b)
    assert a.encode() == whole.encode()  # bottom-k union is lossless
    assert KMV.decode(whole.encode()).encode() == whole.encode()
    import pytest
    with pytest.raises(ValueError, match="Unmatched"):
        KMV(64).merge_with(KMV(128))


def test_kmv_decode_rejects_malformed_blobs():
    import numpy as np
    import pytest
    from sketches_rust_spark.kernel.bits import splitmix64
    from sketches_rust_spark.kernel.kmv import KMV
    from sketches_rust_spark.kernel.serde import encode_unsigned_var_long

    def blob(k: int, hashes: np.ndarray) -> bytes:
        buf = bytearray(b"KMV1")
        encode_unsigned_var_long(buf, k)
        encode_unsigned_var_long(buf, int(hashes.shape[0]))
        buf += hashes.astype("<u8").tobytes()
        return bytes(buf)

    h = np.sort(splitmix64(np.arange(8, dtype=np.uint64)))
    # n > k: theta()/estimate() would index hashes[k-1] while extras stay
    # retained — silently inconsistent after decode_and_merge_with
    with pytest.raises(ValueError, match="exceed"):
        KMV.decode(blob(4, h))
    # non-ascending order breaks the bottom-k invariant
    with pytest.raises(ValueError, match="ascending"):
        KMV.decode(blob(16, h[::-1].copy()))
    # duplicate hashes break distinctness (strictly ascending required)
    dup = np.concatenate([h[:1], h[:1], h[1:7]])
    with pytest.raises(ValueError, match="ascending"):
        KMV.decode(blob(16, dup))
    # well-formed round-trip still works
    assert KMV.decode(blob(16, h)).encode() == blob(16, h)


def test_tdigest_decode_rejects_malformed_blobs():
    import struct

    import numpy as np
    import pytest
    from sketches_rust_spark.kernel.tdigest import TDigest

    td = TDigest(100)
    td.accept_many(np.arange(1.0, 11.0))
    good = td.encode()
    n = struct.unpack_from("<I", good, 12)[0]

    def with_centroid(i: int, mean: float, weight: float) -> bytes:
        buf = bytearray(good)
        struct.pack_into("<dd", buf, 32 + 16 * i, mean, weight)
        return bytes(buf)

    # a bad weight or mean would corrupt every total and quantile (weight
    # -5 in a 10-value digest makes total_weight 4.0)
    for bad_weight in (-5.0, 0.0, float("nan"), float("inf")):
        with pytest.raises(ValueError, match="weight"):
            TDigest.decode(with_centroid(0, 1.0, bad_weight))
    for bad_mean in (float("nan"), float("inf")):
        with pytest.raises(ValueError, match="mean"):
            TDigest.decode(with_centroid(n - 1, bad_mean, 1.0))
    other = TDigest(100)
    with pytest.raises(ValueError, match="mean"):
        other.decode_and_merge_with(with_centroid(0, float("nan"), 1.0))
    # the body must hold exactly the n centroids the header declares
    for blob in (good[:-8], good + bytes(16), good[:20]):
        with pytest.raises(ValueError, match="TDG1"):
            TDigest.decode(blob)
    assert TDigest.decode(good).encode() == good

    # the header's min/max: finite, min <= max, around every mean (a NaN
    # min would make quantile(0) NaN and vanish from min() in a merge)
    def with_min_max(blob: bytes, mn: float, mx: float) -> bytes:
        buf = bytearray(blob)
        struct.pack_into("<dd", buf, 16, mn, mx)
        return bytes(buf)

    inf, nan = float("inf"), float("nan")
    for mn, mx in ((50.0, -50.0), (nan, 10.0), (1.0, nan), (-inf, 10.0),
                   (1.0, inf), (5.0, 10.0), (1.0, 5.0), (10.0, 1.0)):
        with pytest.raises(ValueError, match="min/max"):
            TDigest.decode(with_min_max(good, mn, mx))
    # a wider [min, max] than the means is fine (min/max are exact values,
    # centroid means are averages)
    assert TDigest.decode(with_min_max(good, 0.0, 20.0)).quantile(0.0) == 0.0
    empty = TDigest(100).encode()
    assert TDigest.decode(empty).total_weight() == 0.0
    for mn, mx in ((0.0, 0.0), (inf, inf), (nan, nan), (-inf, inf)):
        with pytest.raises(ValueError, match="min/max"):
            TDigest.decode(with_min_max(empty, mn, mx))

    # means are NOT required sorted: merging tie-heavy digests leaves
    # equal-valued centroids whose weighted means differ in the last ulp
    rng = np.random.default_rng(0)
    a, b = TDigest(100), TDigest(100)
    a.accept_many(rng.integers(0, 5, 3000) * 0.1)
    b.accept_many(rng.integers(0, 5, 3000) * 0.1 + 0.3)
    a.merge_with(b)
    assert (np.diff(a.means) < 0).any()
    assert TDigest.decode(a.encode()).encode() == a.encode()


def test_kll_decode_rejects_malformed_blobs():
    import struct

    kll = KLL(200)
    kll.accept_many(np.arange(100.0))
    good = kll.encode()  # KLL1, k, n at byte 8, n_levels, level 0 len, items
    assert KLL.decode(good).encode() == good

    def patched(fmt: str, off: int, value) -> bytes:
        buf = bytearray(good)
        struct.pack_into(fmt, buf, off, value)
        return bytes(buf)

    # a NaN item used to decode, and quantile(1.0) answered nan
    with pytest.raises(ValueError, match="non-finite"):
        KLL.decode(patched("<d", 24 + 8 * 99, float("nan")))
    for blob in (good + b"\0", good[:-1], good[:22]):
        with pytest.raises(ValueError, match="corrupt KLL"):
            KLL.decode(blob)
    # n = 10^12 over levels that weigh 100 used to carry into a merge
    other = KLL(200)
    other.accept_many(np.arange(10.0))
    with pytest.raises(ValueError, match="n="):
        other.decode_and_merge_with(patched("<Q", 8, 10 ** 12))
    assert other.n == 10

    # the n check holds for every built and merged sketch: each compaction
    # turns 2j items of weight 2^h into j of weight 2^(h+1)
    rng = np.random.default_rng(3)
    for _ in range(50):
        acc = KLL(8 + int(rng.integers(0, 60)))
        for _ in range(int(rng.integers(1, 5))):
            part = KLL(acc.k)
            for _ in range(int(rng.integers(1, 4))):
                part.accept_many(rng.normal(size=int(rng.integers(0, 3000))))
            acc.decode_and_merge_with(part.encode())
        assert KLL.decode(acc.encode()).encode() == acc.encode()


def test_hll_decode_rejects_register_above_max_rank():
    hll = HyperLogLog(10)
    hll.add_hashes(splitmix64(np.arange(1000, dtype=np.uint64)))
    # the largest rank a register can hold: an all-zero 64-p bit window
    hll.add_hashes(np.array([5 << 54], dtype=np.uint64))
    assert hll.registers.max() == 64 - 10 + 1
    good = hll.encode()
    assert HyperLogLog.decode(good).encode() == good
    buf = bytearray(good)
    buf[5 + 3] = 200  # used to decode and survive every merge
    with pytest.raises(ValueError, match="register"):
        HyperLogLog.decode(bytes(buf))
    with pytest.raises(ValueError, match="register"):
        HyperLogLog(10).decode_and_merge_with(bytes(buf))


def test_kmv_difference_estimate():
    import numpy as np
    from sketches_rust_spark.kernel.bits import splitmix64
    from sketches_rust_spark.kernel.kmv import KMV

    # exact when both sides are below capacity
    a, b = KMV(512), KMV(512)
    a.add_hashes(splitmix64(np.arange(300, dtype=np.uint64)))
    b.add_hashes(splitmix64(np.arange(200, 500, dtype=np.uint64)))
    assert a.difference_estimate(b) == 200.0
    assert b.difference_estimate(a) == 200.0

    # sampled regime: |A|=60k, |B|=60k, |A ∖ B|=40k
    A, B = KMV(1024), KMV(1024)
    A.add_hashes(splitmix64(np.arange(60_000, dtype=np.uint64)))
    B.add_hashes(splitmix64(np.arange(40_000, 100_000, dtype=np.uint64)))
    est = A.difference_estimate(B)
    assert abs(est - 40_000) / 40_000 < 0.15
    # identity on the common-theta sample (in retained-hash counts, which
    # are exact): #(A∖B sample) + #(A∩B sample) == #(A sample)
    theta = min(A.theta(), B.theta())
    t = np.uint64(theta)
    a_s, b_s = A.hashes[A.hashes < t], B.hashes[B.hashes < t]
    scale = 2.0**64 / theta
    n_common = np.intersect1d(a_s, b_s).shape[0]
    assert est == (a_s.shape[0] - n_common) * scale
    assert A.intersection_estimate(B) == n_common * scale


def test_kmv_intersection_estimate():
    import numpy as np
    from sketches_rust_spark.kernel.bits import splitmix64
    from sketches_rust_spark.kernel.kmv import KMV

    # exact when both sides are below capacity
    a, b = KMV(512), KMV(512)
    a.add_hashes(splitmix64(np.arange(300, dtype=np.uint64)))
    b.add_hashes(splitmix64(np.arange(200, 500, dtype=np.uint64)))
    assert a.intersection_estimate(b) == 100.0

    # sampled regime: |A|=60k, |B|=60k, |A ∩ B|=20k
    A, B = KMV(1024), KMV(1024)
    A.add_hashes(splitmix64(np.arange(60_000, dtype=np.uint64)))
    B.add_hashes(splitmix64(np.arange(40_000, 100_000, dtype=np.uint64)))
    est = A.intersection_estimate(B)
    # theta-sketch intersection error grows with |union|/|intersection|
    # (=7x here); 25% is a loose determinism-free sanity band
    assert abs(est - 20_000) / 20_000 < 0.25
    # symmetric
    assert est == B.intersection_estimate(A)
