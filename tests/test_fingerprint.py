"""Winnowing rolling-hash fingerprint tests (SIGMOD'03 guarantees)."""

import numpy as np

from helpers import fingerprint_jaccard
from sketches_rust_spark.kernel.fingerprint import (
    document_fingerprints,
    kgram_hashes,
    winnow,
)


def test_kgram_rolling_equals_direct():
    data = b"the quick brown fox jumps over the lazy dog"
    k = 5
    rolled = kgram_hashes(data, k)
    BASE = 1000003
    M = 1 << 64
    direct = []
    for i in range(len(data) - k + 1):
        h = 0
        for byte in data[i:i + k]:
            h = (h * BASE + byte) % M
        direct.append(h)
    assert rolled.tolist() == direct


def test_shared_substring_guarantee():
    """Documents sharing a substring of length >= w + k - 1 share at least
    one fingerprint (the winnowing guarantee)."""
    k, w = 8, 16
    shared = "a very distinctive shared passage of considerable length here"
    a = "prefix junk one two three " + shared + " suffix alpha"
    b = "totally different beginning " + shared + " and another ending"
    fa = document_fingerprints(a, k, w)
    fb = document_fingerprints(b, k, w)
    assert len(np.intersect1d(fa, fb)) >= 1
    assert fingerprint_jaccard(fa, fb) > 0


def test_unrelated_documents_share_nothing():
    fa = document_fingerprints("abcdefgh" * 20, 8, 16)
    fb = document_fingerprints("zyxwvuts" * 20, 8, 16)
    assert fingerprint_jaccard(fa, fb) == 0.0


def test_fingerprint_determinism_and_compactness():
    text = "tokens " * 500
    f1 = document_fingerprints(text)
    f2 = document_fingerprints(text)
    np.testing.assert_array_equal(f1, f2)
    # winnowing keeps ~2/(w+1) of positions
    n_kgrams = len(text.encode()) - 8 + 1
    assert len(f1) < n_kgrams / 4


def test_short_inputs():
    assert len(kgram_hashes(b"abc", 8)) == 0
    assert len(winnow(np.zeros(0, dtype=np.uint64), 4)) == 0
    assert len(document_fingerprints("abcdefghij", 8, 16)) == 1
