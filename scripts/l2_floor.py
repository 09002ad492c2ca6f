"""Probe of the Arrow-boundary (L2) floor of a build call; prints two numbers.

1. ``first_batch_ms``: the median wait, inside a 3-row ``mapInPandas`` over
   3 cached partitions, from the UDF's entry to its first Arrow batch.
2. ``merge_s``: the median seconds of ``merge_partials`` over cached
   partial blobs of 120,000 rows, 16 zipf keys and 3 partitions (the size
   of perfbench's ``build_skew``: 48 partial blobs).

Run from the repo root: ``python scripts/l2_floor.py [--rounds 15]``. It
starts a ``local[3]`` session shaped like perfbench's.
"""

import argparse
import os
import sys
import time

import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

from pyspark.sql import SparkSession  # noqa: E402

from sketches_rust_spark.functions.ddsketch_spark import (  # noqa: E402
    SketchConfig, build_partials, merge_partials)

LOG = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048)


def first_batch_wait(batches):
    import sketches_rust_spark  # noqa: F401  (workers install the hooks)
    t0 = time.perf_counter()
    pdf = next(batches)
    yield pd.DataFrame({"ms": [1e3 * (time.perf_counter() - t0)] * len(pdf)})
    for _ in batches:
        pass


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--rounds", type=int, default=15)
    args = ap.parse_args()
    spark = (SparkSession.builder.master("local[3]")
             .config("spark.sql.shuffle.partitions", "6")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tiny = spark.range(3).repartition(3).cache()
    tiny.count()
    waits = []
    for r in range(args.rounds + 2):  # two warm-up rounds import the package
        got = tiny.mapInPandas(first_batch_wait, "ms double").toPandas()["ms"]
        waits += list(got) if r >= 2 else []

    rng = np.random.default_rng(7)
    p = 1.0 / np.arange(1, 17) ** 1.1
    codes = rng.choice(16, size=120_000, p=p / p.sum())
    pdf = pd.DataFrame({"key": [f"k{c:02d}" for c in codes],
                        "v": rng.lognormal(4.0, 1.0, size=120_000)})
    partials = build_partials(spark.createDataFrame(pdf).repartition(3), "v",
                              ["key"], LOG).cache()
    partials.count()
    merge_s = []
    for r in range(args.rounds + 2):
        t0 = time.perf_counter()
        merge_partials(partials, ["key"], LOG).collect()
        merge_s += [time.perf_counter() - t0] if r >= 2 else []
    print(f"first_batch_ms {np.median(waits):.1f} "
          f"(q1 {np.percentile(waits, 25):.1f}, q3 {np.percentile(waits, 75):.1f})")
    print(f"merge_s {np.median(merge_s):.3f} "
          f"(q1 {np.percentile(merge_s, 25):.3f}, q3 {np.percentile(merge_s, 75):.3f})")
    spark.stop()


if __name__ == "__main__":
    main()
