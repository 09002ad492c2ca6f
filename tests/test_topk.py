"""Heavy-hitter / top-k operator tests."""

import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.operators.topk import topk_cms, topk_exact_pruned


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_topk_exact_matches_full_groupby(spark, documents):
    got = topk_exact_pruned(documents.repartition(7), "lang", k=5).collect()
    want = (documents.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("lang")).limit(5).collect())
    assert [(r["item"], r["cnt"]) for r in got] == \
        [(r["lang"], r["cnt"]) for r in want]
    assert [r["rank"] for r in got] == [1, 2, 3, 4, 5]


def test_topk_exact_high_cardinality(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(9)
    got = topk_exact_pruned(li, "l_partkey", k=10, fudge=8).collect()
    want = (li.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l_partkey")).limit(10).collect())
    assert [(r["item"], r["cnt"]) for r in got] == \
        [(r["l_partkey"], r["cnt"]) for r in want]


def test_topk_fewer_items_than_k(spark, documents):
    got = topk_exact_pruned(documents, "lang", k=50).collect()
    n_langs = documents.select("lang").distinct().count()
    assert len(got) == n_langs


def test_topk_cms_overestimates_within_bound(spark, documents):
    import numpy as np
    got = {r["item"]: r["est"] for r in
           topk_cms(documents.repartition(5), "lang", k=5, width=8192).collect()}
    exact = {r["lang"]: r["cnt"] for r in
             documents.groupBy("lang").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    n = documents.count()
    for item, est in got.items():
        assert exact[item] <= est <= exact[item] + np.e / 8192 * n + 1


def test_topk_exact_plan_has_no_global_window(spark, documents):
    """The round's computation plan must take the global top-k via
    TakeOrderedAndProject (per-task heaps), never an unpartitioned window
    over all candidates; any Window node must carry a partition spec
    (bounded, warning-free)."""
    from pyspark.sql import functions as F
    from sketches_rust_spark.operators.topk import _topk_round_plan

    from pyspark.sql import Window

    items = documents.repartition(7).select(F.col("lang").alias("item"))
    local = (items.withColumn("_p", F.spark_partition_id())
             .groupBy("_p", "item").agg(F.count(F.lit(1)).alias("c")))
    wr = Window.partitionBy("_p").orderBy(F.desc("c"), F.asc("item"))
    ranked = local.withColumn("_r", F.row_number().over(wr))
    # single-return contract: top-k rows with the scalar exactness bound
    # attached (one collect per pruning round instead of two); the recount
    # derives from the cached ranked-local aggregate, not a re-scan
    top = _topk_round_plan(ranked, k=5, limit=20)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    for line in plan.splitlines():
        if "Window" in line and "windowspecdefinition" in line:
            # partition spec present => not the move-everything-to-one-
            # unpartitioned-task shape WindowExec warns about
            assert "specifiedwindowframe" in line.lower() or ", [" in line


def test_topk_exact_result_is_materialized_verified_rows(spark, documents):
    """The returned result IS the verified execution (a local relation of
    the k collected rows) — re-collecting cannot re-derive candidates under
    a different partitioning than the proof covered."""
    top = topk_exact_pruned(documents.repartition(7), "lang", k=3)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in plan or "LocalTableScan" in plan
    first = top.collect()
    second = top.collect()
    assert first == second
    assert len(first) == 3


def _items(dist: str):
    import numpy as np

    rng = np.random.default_rng(0)
    if dist == "zipf":
        return np.minimum(rng.zipf(1.5, 4000), 10 ** 6)
    if dist == "uniform":
        return rng.integers(0, 3000, 6000)
    # bimodal: a dense block of 1,500 items next to a sparse one of 4,000
    return np.concatenate([rng.integers(0, 1500, 3000),
                           rng.integers(5000, 9000, 3000)])


# (distribution, max_rounds, the exit it must reach at some partition count)
_EXIT_CASES = [("zipf", 4, "certified in round 1"),
               ("uniform", 4, "futility break"),
               ("bimodal", 2, "rounds exhausted")]


@pytest.mark.parametrize("dist,max_rounds,exit_", _EXIT_CASES)
def test_topk_exact_pruned_equals_group_by_on_every_exit(
        spark, monkeypatch, dist, max_rounds, exit_):
    """topk_exact_pruned equals the exact GROUP BY top-k over several
    repartition counts, on each way out of the pruning loop: certified in
    round one (zipf), the futility break on a flat tail (uniform) and the
    full recount after the last round (bimodal). The exit is read from the
    calls: every round sums its candidates once, the recount once more."""
    import numpy as np
    import pandas as pd

    from sketches_rust_spark.operators import topk

    calls = {"rounds": 0, "sums": 0}
    round_plan, summed = topk._topk_round_plan, topk._summed

    def counted_round(*args):
        calls["rounds"] += 1
        return round_plan(*args)

    def counted_sum(df):
        calls["sums"] += 1
        return summed(df)

    monkeypatch.setattr(topk, "_topk_round_plan", counted_round)
    monkeypatch.setattr(topk, "_summed", counted_sum)
    base = spark.createDataFrame(pd.DataFrame({"x": _items(dist).astype(np.int64)}))
    exits = set()
    for parts in (2, 4, 8):
        df = base.repartition(parts)
        calls.update(rounds=0, sums=0)
        got = topk_exact_pruned(df, "x", k=5, max_rounds=max_rounds).collect()
        want = (df.groupBy("x").agg(F.count(F.lit(1)).alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("x")).limit(5).collect())
        assert [(r["item"], r["cnt"], r["rank"]) for r in got] == \
            [(r["x"], r["cnt"], i) for i, r in enumerate(want, 1)]
        if calls["sums"] == calls["rounds"]:
            exits.add(f"certified in round {calls['rounds']}")
        elif calls["rounds"] < max_rounds:
            exits.add("futility break")
        else:
            exits.add("rounds exhausted")
    assert exit_ in exits, exits
