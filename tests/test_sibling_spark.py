"""Spark-level tests for sibling-sketch aggregation."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.sketch_udafs import (
    bloom_adapter,
    bloom_might_contain,
    cms_adapter,
    cms_point_estimate,
    hll_adapter,
    hll_estimate,
    kll_adapter,
    kll_quantile,
    register_sibling_sql,
    sketch_aggregate,
    tdigest_adapter,
    tdigest_quantile,
)
from sketches_rust_spark.kernel.hll import HyperLogLog
from sketches_rust_spark.kernel.kll import KLL
from sketches_rust_spark.kernel.tdigest import TDigest


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_hll_by_type_matches_exact_within_bound(spark, events):
    agg = sketch_aggregate(events, F.xxhash64("user_id"), ["event_type"],
                           hll_adapter(p=14))
    got = {r["event_type"]: r["est"] for r in
           agg.select("event_type", hll_estimate("sketch").alias("est")).collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    rse = HyperLogLog(14).relative_standard_error()
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 4 * rse, (k, got[k], n)


def test_hll_partition_invariance(spark, events):
    blobs = []
    for parts in (1, 5):
        agg = sketch_aggregate(events.repartition(parts), F.xxhash64("user_id"),
                               ["event_type"], hll_adapter(p=12))
        blobs.append({r["event_type"]: bytes(r["sketch"]) for r in agg.collect()})
    assert blobs[0] == blobs[1]  # register-max merge is exactly invariant


def test_cms_heavy_hitter_bound(spark, events):
    agg = sketch_aggregate(events, F.xxhash64("event_type"), [],
                           cms_adapter(depth=5, width=4096))
    row = agg.select("sketch", "rows_in").collect()[0]
    exact = dict(events.groupBy("event_type").count().collect())
    blob_df = spark.createDataFrame(
        [(row["sketch"], t) for t in exact], ["sketch", "t"]
    ).withColumn("h", F.xxhash64("t"))
    est = {r["t"]: r["est"] for r in blob_df.select(
        "t", cms_point_estimate("sketch", "h").alias("est")).collect()}
    n = row["rows_in"]
    for t, c in exact.items():
        assert c <= est[t] <= c + np.e / 4096 * n + 1


def test_bloom_membership(spark, events):
    agg = sketch_aggregate(events.where("event_type = 'purchase'"),
                           F.xxhash64("user_id"), [],
                           bloom_adapter(m_bits=1 << 18, k=7))
    blob = agg.collect()[0]["sketch"]
    probe = events.select("user_id", F.xxhash64("user_id").alias("h")).distinct() \
        .withColumn("member", F.lit(None).cast("boolean"))
    pdf = probe.select("user_id", "h").toPandas()
    purchasers = {r["user_id"] for r in
                  events.where("event_type = 'purchase'").select("user_id").distinct().collect()}
    checks = spark.createDataFrame(pdf).withColumn("blob", F.lit(bytes(blob)))
    got = {r["user_id"]: r["m"] for r in checks.select(
        "user_id", bloom_might_contain("blob", "h").alias("m")).collect()}
    # zero false negatives
    assert all(got[u] for u in purchasers)
    non = [u for u in got if u not in purchasers]
    if non:
        fpr = sum(got[u] for u in non) / len(non)
        assert fpr <= 0.05


@pytest.mark.parametrize("adapter,qudf", [
    (tdigest_adapter(200.0), tdigest_quantile),
    (kll_adapter(200), kll_quantile),
])
def test_quantile_sketches_rank_error(spark, events, adapter, qudf):
    agg = sketch_aggregate(events, F.col("value").cast("double"), ["event_type"],
                           adapter)
    got = agg.select("event_type", qudf("sketch", F.lit(0.9)).alias("p90")).collect()
    pdf = events.select("event_type", "value").toPandas()
    for r in got:
        vals = np.sort(pdf[pdf["event_type"] == r["event_type"]]["value"].to_numpy())
        rank = np.searchsorted(vals, r["p90"]) / len(vals)
        assert abs(rank - 0.9) <= 0.05, (r["event_type"], rank)


def test_sibling_sql_surface(spark, events):
    register_sibling_sql(spark, hll_p=14)
    agg = sketch_aggregate(events, F.xxhash64("user_id"), ["event_type"],
                           hll_adapter(p=14))
    agg.createOrReplaceTempView("hll_partials")
    out = spark.sql("""
        SELECT hll_estimate(hll_merge(sketch)) AS est FROM hll_partials
    """).collect()[0]["est"]
    exact = events.select("user_id").distinct().count()
    assert abs(out - exact) / exact <= 4 * HyperLogLog(14).relative_standard_error()


def test_kmv_distinct_and_intersection_vs_exact(spark, events):
    """KMV through the two-level Spark aggregation: per-type estimates
    within the error band, partition-invariant blobs, and the intersection
    estimate close to the exact overlap of two groups' user sets."""
    from sketches_rust_spark.functions.sketch_udafs import (
        kmv_adapter, kmv_estimate, kmv_intersection)
    from sketches_rust_spark.kernel.kmv import KMV

    agg = sketch_aggregate(events, F.col("user_id"), ["event_type"],
                           kmv_adapter(256, hash_mode="splitmix"))
    got = {r["event_type"]: r["est"] for r in
           agg.select("event_type", kmv_estimate("sketch").alias("est")).collect()}
    exact = {r["event_type"]: r["n"] for r in
             events.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("n")).collect()}
    rse = KMV(256).relative_standard_error()
    for k, n in exact.items():
        assert abs(got[k] - n) / n <= 5 * rse, (k, got[k], n)

    # partition invariance: the retained bottom-k set is a pure function of
    # the distinct hash set
    blobs = []
    for parts in (1, 5):
        a = sketch_aggregate(events.repartition(parts), F.col("user_id"),
                             ["event_type"], kmv_adapter(128, "splitmix"))
        blobs.append({r["event_type"]: bytes(r["sketch"]) for r in a.collect()})
    assert blobs[0] == blobs[1]

    # intersection of two types' user sets vs exact overlap
    types = sorted(exact)[:2]
    both = agg.where(F.col("event_type").isin(types)).agg(
        F.first(F.when(F.col("event_type") == types[0], F.col("sketch")),
                ignorenulls=True).alias("sa"),
        F.first(F.when(F.col("event_type") == types[1], F.col("sketch")),
                ignorenulls=True).alias("sb"))
    est = both.select(kmv_intersection("sa", "sb").alias("c")).collect()[0]["c"]
    true_common = (events.where(F.col("event_type") == types[0])
                   .select("user_id").distinct()
                   .join(events.where(F.col("event_type") == types[1])
                         .select("user_id").distinct(), "user_id")
                   .count())
    if true_common:
        assert abs(est - true_common) / true_common < 0.5  # loose: small k


def test_multi_family_aggregate_blobs_equal_single_family(spark, events):
    """The one-pass multi-family build (shared scan + shared Python partial
    stage) must produce byte-identical per-(family, group) blobs to the
    per-family sketch_aggregate builds it replaced (all four kernels are
    order-insensitive)."""
    from sketches_rust_spark.functions.sketch_udafs import (
        kmv_adapter, multi_family_aggregate)

    ev = events.select(F.col("event_type").alias("_g"),
                       F.col("user_id").cast("long").alias("_id"))
    restricted = F.col("_g").isin(["purchase", "click"])
    fams = {
        "hll": (hll_adapter(p=12, hash_mode="splitmix"), restricted),
        "kmv": (kmv_adapter(64, hash_mode="splitmix"), restricted),
        "cms": (cms_adapter(3, 512, "splitmix"), None),
        "bloom": (bloom_adapter(1 << 12, 3, "splitmix"), restricted),
    }
    multi = multi_family_aggregate(ev, "_id", ["_g"], fams)
    got = {(r["family"], r["_g"]): (bytes(r["sketch"]), r["rows_in"])
           for r in multi.collect()}

    singles = {
        "hll": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                hll_adapter(p=12, hash_mode="splitmix")),
        "kmv": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                kmv_adapter(64, hash_mode="splitmix")),
        "cms": sketch_aggregate(ev, "_id", ["_g"],
                                cms_adapter(3, 512, "splitmix")),
        "bloom": sketch_aggregate(ev.where(restricted), "_id", ["_g"],
                                  bloom_adapter(1 << 12, 3, "splitmix")),
    }
    want = {}
    for fam, agg in singles.items():
        for r in agg.collect():
            want[(fam, r["_g"])] = (bytes(r["sketch"]), r["rows_in"])
    assert got == want


@pytest.mark.parametrize("adapter,new", [
    (tdigest_adapter(100.0), lambda: TDigest(100.0)),
    (kll_adapter(64), lambda: KLL(64)),
])
def test_rank_sketch_blobs_equal_kernel_build(spark, adapter, new):
    """t-digest and KLL bytes depend on how values are batched into
    accept_many, so pin them: one partition that fits in one Arrow batch
    must give, per group, the blob of one kernel accept_many over the
    group's values in input order, passed through the plan's merge of that
    single partial into an empty sketch."""
    rng = np.random.default_rng(11)
    pdf = pd.DataFrame({"g": rng.choice(["x", "y", "z"], 3000),
                        "v": rng.lognormal(2.0, 1.5, 3000)})
    df = spark.createDataFrame(pdf).coalesce(1)
    got = {r["g"]: (bytes(r["sketch"]), r["rows_in"])
           for r in sketch_aggregate(df, "v", ["g"], adapter).collect()}
    want = {}
    for g, sub in pdf.groupby("g"):
        sk = new()
        sk.accept_many(sub["v"].to_numpy(dtype=np.float64))
        merged = new()
        merged.decode_and_merge_with(sk.encode())
        want[g] = (merged.encode(), len(sub))
    assert got == want
