"""Kernel probe: single-threaded timings of the ``kernel/`` public functions
in the benchmark's own process, on the workload's seeded values, without
Spark. Inside the workloads these calls run in Spark's Python workers, so
this probe is the only outside view of them."""

from __future__ import annotations

import statistics
import time

import numpy as np

from sketches_rust_spark.kernel.bits import splitmix64
from sketches_rust_spark.kernel.bloom import BloomFilter
from sketches_rust_spark.kernel.cms import CountMinSketch
from sketches_rust_spark.kernel.hll import HyperLogLog
from sketches_rust_spark.kernel.kll import KLL
from sketches_rust_spark.kernel.kmv import KMV
from sketches_rust_spark.kernel.tdigest import TDigest

from workloads import CUBIC, LOG

INSERT_VALUES = 100_000
# t-digest inserts cost about 9 us a value; fewer values keep the probe short
SLOW_INSERT_VALUES = {"tdigest": 10_000}
VALUE_FAMILIES = {
    "ddsketch": LOG.new,
    "ddsketch_cubic": CUBIC.new,
    "kll": lambda: KLL(200),
    "tdigest": lambda: TDigest(200.0),
}
HASH_FAMILIES = {
    "hll": lambda: HyperLogLog(14),
    "cms": lambda: CountMinSketch(5, 2048),
    "kmv": lambda: KMV(256),
    "bloom": lambda: BloomFilter(1 << 20, 7),
}
SERDE_FAMILIES = ("ddsketch", "kll", "tdigest", "hll")
# Values behind the probed blobs: a small partial, as one (key, day) group
# of a high-cardinality build split over a few scan partitions holds, and a
# rolled-up sketch, as one key over a few hundred rows gives.
PARTIAL_VALUES = 20
ROLLED_VALUES = 360


def _seconds_per_call(fn, min_s: float = 0.01, reps: int = 5) -> float:
    """Median over ``reps`` of the mean time of a batch of calls lasting at
    least ``min_s``."""
    loops = 1
    while True:
        t0 = time.perf_counter()
        for _ in range(loops):
            fn()
        if time.perf_counter() - t0 >= min_s:
            break
        loops *= 4
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(loops):
            fn()
        times.append((time.perf_counter() - t0) / loops)
    return statistics.median(times)


def probe(values: np.ndarray, ids: np.ndarray) -> dict[str, float]:
    out = {}
    hashes = splitmix64(ids.astype(np.int64).view(np.uint64))
    for fam, new in VALUE_FAMILIES.items():
        n = min(SLOW_INSERT_VALUES.get(fam, INSERT_VALUES), values.shape[0])
        v = values[:n]
        out[f"kernel.{fam}.insert_ns"] = _seconds_per_call(
            lambda: new().accept_many(v), reps=3) / n * 1e9
    for fam, new in HASH_FAMILIES.items():
        h = hashes[:INSERT_VALUES]
        out[f"kernel.{fam}.insert_ns"] = _seconds_per_call(
            lambda: new().add_hashes(h), reps=3) / h.shape[0] * 1e9

    for fam in SERDE_FAMILIES:
        if fam == "hll":
            sk = HASH_FAMILIES[fam]()
            sk.add_hashes(hashes[:PARTIAL_VALUES])
        else:
            sk = VALUE_FAMILIES[fam]()
            sk.accept_many(values[:PARTIAL_VALUES])
        blob = sk.encode()
        target = (HASH_FAMILIES.get(fam) or VALUE_FAMILIES[fam])()
        out[f"kernel.{fam}.encode_us"] = _seconds_per_call(sk.encode) * 1e6
        out[f"kernel.{fam}.decode_merge_us"] = _seconds_per_call(
            lambda: target.decode_and_merge_with(blob)) * 1e6
        out[f"kernel.{fam}.blob_bytes"] = float(len(blob))

    rolled = LOG.new()
    rolled.accept_many(values[:ROLLED_VALUES])
    rolled_blob = rolled.encode()
    out["kernel.ddsketch.quantile_us"] = _seconds_per_call(
        lambda: type(rolled).decode(rolled_blob).get_value_at_quantile(0.99)) * 1e6
    return out
