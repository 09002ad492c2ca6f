"""Content-defined document fingerprinting: rolling hash + winnowing
(Schleimer, Wilkerson, Aiken — "Winnowing: Local Algorithms for Document
Fingerprinting", SIGMOD 2003).

A k-gram rolling (polynomial) hash slides over the byte stream; winnowing
keeps the minimum hash in each window of w consecutive k-gram hashes,
yielding a compact, position-robust fingerprint set: documents sharing any
substring of length >= w + k - 1 share at least one fingerprint. Fully
vectorized in numpy (one pass builds all k-gram hashes via prefix powers).

Used by the pandas-UDF fingerprint stage; small-scale only in tests — the
Spark-side oracled fingerprint is md5 (operators/text.py).
"""

from __future__ import annotations

import numpy as np

_BASE = np.uint64(1000003)
_MASK = np.uint64(0xFFFFFFFFFFFFFFFF)


def kgram_hashes(data: bytes, k: int) -> np.ndarray:
    """Rolling polynomial hashes of every k-byte window (mod 2^64)."""
    b = np.frombuffer(data, dtype=np.uint8).astype(np.uint64)
    n = b.shape[0]
    if n < k:
        return np.zeros(0, dtype=np.uint64)
    # prefix[i] = hash of b[:i] = sum_j b[j] * BASE^(i-1-j); windows differ
    # by prefix[i+k] - prefix[i] * BASE^k — all mod 2^64 (uint64 wraparound).
    # The linear recurrence is vectorized by factoring out BASE^i:
    # prefix[i] = BASE^i * cumsum(b[j] * BASE^(-(j+1))), using the modular
    # inverse of the (odd) base.
    powers = np.concatenate(([np.uint64(1)],
                             np.cumprod(np.full(n, _BASE, dtype=np.uint64))))
    inv = np.uint64(pow(int(_BASE), -1, 1 << 64))
    inv_powers = np.cumprod(np.full(n, inv, dtype=np.uint64))
    weighted = np.concatenate(([np.uint64(0)], np.cumsum(b * inv_powers)))
    prefix = powers * weighted
    return prefix[k:] - prefix[:-k] * powers[k]


def winnow(hashes: np.ndarray, w: int) -> np.ndarray:
    """Winnowing fingerprint selection: the minimum hash of every window of
    w consecutive k-gram hashes (rightmost minimum on ties), deduplicated by
    position. Output: sorted unique selected hashes."""
    n = hashes.shape[0]
    if n == 0:
        return hashes
    if n <= w:
        return np.unique(hashes.min(keepdims=True))
    # sliding-window minimum via stride tricks (test scale; O(n*w) is fine)
    windows = np.lib.stride_tricks.sliding_window_view(hashes, w)
    # rightmost minimum: reverse argmin on the flipped window
    flipped = windows[:, ::-1]
    right_arg = w - 1 - flipped.argmin(axis=1)
    pos = np.arange(windows.shape[0]) + right_arg
    sel = np.unique(pos)
    return np.unique(hashes[sel])


def document_fingerprints(text: str, k: int = 8, w: int = 16) -> np.ndarray:
    """Winnowed fingerprint set of a document (uint64 hashes)."""
    return winnow(kgram_hashes(text.encode("utf-8"), k), w)
