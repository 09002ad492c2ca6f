"""The level-2 merge: one ``mapInArrow`` call per key-sorted partition.

Every caller of ``grouped_blobs`` must give the blobs and ``rows_in`` that
a per-group ``groupBy(keys).applyInPandas`` fold gives, on string, long,
null and two-column keys, on the global case (one row; none on empty
input), and when a group spans several Arrow batches. Keys that pandas
would change (longs past 2^53 beside a null, a null beside a NaN, arrays
and structs) must keep their groups apart. The pandas DDSketch path and the
hashed families must also equal a one-shot kernel build.
"""

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions import _two_level, ddsketch_spark, ddsketch_sql
from sketches_rust_spark.functions._two_level import blob_schema
from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    build_partials,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
    ddsketch_aggregate_weighted,
    merge_partials,
)
from sketches_rust_spark.functions.ddsketch_sql import ddsketch_aggregate_sql
from sketches_rust_spark.functions.sketch_udafs import (
    bloom_adapter,
    cms_adapter,
    hll_adapter,
    kll_adapter,
    kmv_adapter,
    multi_family_aggregate,
    sketch_aggregate,
    tdigest_adapter,
)
from sketches_rust_spark.kernel.bits import splitmix64
from sketches_rust_spark.streaming.sketch_stream import merged_stream_result

LOG = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048)
UNBOUNDED = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)
CUBIC = SketchConfig("collapsing_lowest_dense", 0.01, 64)
HASHED = {"hll": hll_adapter(10, "splitmix"), "cms": cms_adapter(3, 64, "splitmix"),
          "kmv": kmv_adapter(32, "splitmix"), "bloom": bloom_adapter(1 << 12, 3, "splitmix")}
KEYSETS = [["s"], ["n"], ["s", "n"], []]


@pytest.fixture(scope="module")
def rows(spark):
    """(s string, n long, v double, w double, id long) with null keys in
    both key columns, cached so that every plan reads the same row order."""
    rng = np.random.default_rng(13)
    size = 3000
    pdf = pd.DataFrame({
        "s": pd.Series(rng.choice(["a", "b", "c", "d"], size), dtype=object),
        "n": pd.array(rng.integers(0, 3, size), dtype="Int64"),
        "v": rng.lognormal(3.0, 1.5, size),
        "w": rng.random(size) + 0.05,
        "id": rng.integers(0, 900, size),
    })
    pdf.loc[rng.random(size) < 0.05, "s"] = None
    pdf.loc[rng.random(size) < 0.05, "n"] = pd.NA
    df = spark.createDataFrame(
        pdf, "s string, n long, v double, w double, id long").repartition(4).cache()
    df.count()
    yield df
    df.unpersist()


@pytest.fixture
def small_batches(spark):
    """Arrow batches of 7 rows, so groups span batches in every stage."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    yield
    spark.conf.set(key, old)


@pytest.fixture
def one_partition(spark):
    """One shuffle partition, so that every key of a merge sits side by
    side in one sorted partition."""
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    yield
    spark.conf.set(key, old)


def _apply_in_pandas(df, keys, fold):
    """The per-group merge as it was: one ``applyInPandas`` call a group."""
    keys = list(keys)

    def apply(pdf):
        blob, n = fold(tuple(pdf[k].iloc[0] for k in keys), pdf.drop(columns=keys))
        return pd.DataFrame([{k: pdf[k].iloc[0] for k in keys}
                             | {"sketch": blob, "rows_in": n}],
                            columns=keys + ["sketch", "rows_in"])

    return df.groupBy(*keys).applyInPandas(apply, schema=blob_schema(df, keys))


def _per_group(monkeypatch):
    for module in (_two_level, ddsketch_spark, ddsketch_sql):
        monkeypatch.setattr(module, "grouped_blobs", _apply_in_pandas)


def _rows(df, keys):
    return sorted((repr(tuple(r[k] for k in keys)), bytes(r["sketch"]), r["rows_in"])
                  for r in df.collect())


def _calls(df, keys, sink_dir):
    """Every caller of ``grouped_blobs``, as (name, thunk)."""
    calls = {
        "merge_partials": lambda: merge_partials(build_partials(df, "v", keys, LOG), keys, LOG),
        "ddsketch_aggregate_cubic": lambda: ddsketch_aggregate(df, "v", keys, CUBIC),
        "ddsketch_aggregate_sql": lambda: ddsketch_aggregate_sql(df, "v", keys, LOG),
        "weighted_cubic": lambda: ddsketch_aggregate_weighted(df, "v", "w", keys, CUBIC),
        "multi_family": lambda: multi_family_aggregate(
            df, F.col("id"), keys, {n: (a, None) for n, a in HASHED.items()}),
        "merged_stream_result": lambda: merged_stream_result(df.sparkSession, sink_dir, keys, LOG),
    }
    if keys:
        calls["salted"] = lambda: ddsketch_aggregate_salted(df, "v", keys, LOG, num_salts=4)
    return calls


def _stream_sink(df, keys, path):
    """Two appended 'micro-batch' partial files, as the partials sink holds."""
    for batch_id in (0, 1):
        (ddsketch_aggregate_sql(df.where(F.col("id") % 2 == batch_id), "v", keys, LOG)
         .withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(path))
    return path


@pytest.mark.parametrize("keys", KEYSETS, ids=lambda k: "_".join(k) or "global")
def test_every_caller_equals_the_per_group_merge(spark, rows, small_batches,
                                                 monkeypatch, tmp_path, keys):
    family_keys = ["family"] + keys
    sink = _stream_sink(rows, keys, str(tmp_path / "partials"))
    got = {name: _rows(call(), family_keys if name == "multi_family" else keys)
           for name, call in _calls(rows, keys, sink).items()}
    _per_group(monkeypatch)
    for name, call in _calls(rows, keys, sink).items():
        want = _rows(call(), family_keys if name == "multi_family" else keys)
        assert got[name] == want, name
        assert got[name], name


def test_merges_equal_one_shot_kernel_builds(spark, rows, small_batches):
    """The pandas DDSketch build and the hashed families equal one kernel
    build of each group's rows, grouped on (s, n) with null keys."""
    keys = ["s", "n"]
    pdf = rows.toPandas()
    groups = {repr((None if pd.isna(s) else s, None if pd.isna(n) else int(n))): sub
              for (s, n), sub in pdf.groupby(keys, dropna=False)}
    got = {r: blob for r, blob, _ in _rows(ddsketch_aggregate(rows, "v", keys, UNBOUNDED), keys)}
    for key, sub in groups.items():
        sk = UNBOUNDED.new()
        sk.accept_many(sub["v"].to_numpy())
        assert got[key] == sk.encode(), key
    multi = multi_family_aggregate(rows, F.col("id"), keys,
                                   {n: (a, None) for n, a in HASHED.items()})
    got = {(r["family"], repr((r["s"], r["n"]))): (bytes(r["sketch"]), r["rows_in"])
           for r in multi.collect()}
    assert len(got) == len(HASHED) * len(groups)
    for key, sub in groups.items():
        hashes = splitmix64(sub["id"].to_numpy(np.int64).view(np.uint64))
        for name, adapter in HASHED.items():
            sk = adapter.new()
            sk.add_hashes(hashes)
            assert got[(name, key)] == (sk.encode(), len(sub)), (name, key)


def test_rank_families_keep_their_contracts(spark, rows, small_batches):
    """KLL and t-digest bytes depend on merge order: check counts and
    ranks, not bytes."""
    vals = rows.select("s", "v").toPandas()
    for adapter in (kll_adapter(), tdigest_adapter()):
        for r in sketch_aggregate(rows, "v", ["s"], adapter).collect():
            sub = np.sort(vals["v"][vals["s"].isna() if r["s"] is None
                                    else vals["s"] == r["s"]].to_numpy())
            sk = type(adapter.new()).decode(bytes(r["sketch"]))
            assert r["rows_in"] == len(sub)
            est = sk.quantile(0.5)
            rank = np.searchsorted(sub, est) / len(sub)
            assert abs(rank - 0.5) < 0.05, (adapter.name, r["s"], rank)


def test_global_merge_of_empty_input_has_no_row(spark, rows):
    empty = rows.where(F.col("v") < 0)
    assert ddsketch_aggregate(empty, "v", [], LOG).collect() == []
    assert ddsketch_aggregate_sql(empty, "v", [], LOG).collect() == []
    assert ddsketch_aggregate_weighted(empty, "v", "w", [], CUBIC).collect() == []
    assert len(ddsketch_aggregate(rows, "v", [], LOG).collect()) == 1


def test_long_keys_past_2_53_beside_nulls_stay_apart(spark, small_batches,
                                                     one_partition, monkeypatch):
    """A batch with a null long key reaches pandas as float64, where
    2^60 + 1 and 2^60 + 2 are one value: the runs are cut on Arrow values."""
    big = 1 << 60
    df = spark.createDataFrame(
        [(None if i % 5 == 0 else big + i % 4, float(i + 1)) for i in range(60)],
        "n long, v double")
    got = _rows(ddsketch_aggregate_sql(df, "v", ["n"], LOG), ["n"])
    assert [k for k, _, _ in got] == sorted(
        repr((k,)) for k in [None, big, big + 1, big + 2, big + 3])
    _per_group(monkeypatch)
    assert got == _rows(ddsketch_aggregate_sql(df, "v", ["n"], LOG), ["n"])


@pytest.mark.parametrize("key, values", [
    ("d double", [None, float("nan"), 1.5]),
    ("a array<double>", [None, [1.0, float("nan")], [1.0, 2.0], [1.0]]),
    ("t struct<x: long, y: double>", [None, (1, float("nan")), (1, 2.0), (2, 2.0)]),
], ids=["double", "array", "struct"])
def test_null_nan_and_nested_keys_keep_their_groups(spark, small_batches, one_partition,
                                                     monkeypatch, key, values):
    """Null and NaN are two groups; arrays and structs group by value, NaN
    elements equal. Blobs and ``rows_in`` equal the per-group merge's."""
    name = key.split()[0]
    df = spark.createDataFrame([(values[i % len(values)], float(i + 1)) for i in range(60)],
                               f"{key}, v double")
    got = _rows(ddsketch_aggregate_sql(df, "v", [name], LOG), [name])
    assert len(got) == len(values)
    if name == "d":  # the per-group merge's pandas output turns NaN into null
        assert {k for k, _, _ in got} == {"(None,)", "(nan,)", "(1.5,)"}
    _per_group(monkeypatch)
    want = _rows(ddsketch_aggregate_sql(df, "v", [name], LOG), [name])
    assert sorted(g[1:] for g in got) == sorted(w[1:] for w in want)


@pytest.mark.parametrize("keys", [["s"], []], ids=["keyed", "global"])
def test_no_build_plan_groups_in_pandas(spark, rows, keys):
    """Every build merges through MapInArrow: no FlatMapGroupsInPandas."""
    builds = [ddsketch_aggregate(rows, "v", keys, LOG),
              ddsketch_aggregate(rows, "v", keys, CUBIC),
              ddsketch_aggregate_sql(rows, "v", keys, LOG),
              ddsketch_aggregate_weighted(rows, "v", "w", keys, CUBIC),
              sketch_aggregate(rows, "v", keys, kll_adapter()),
              multi_family_aggregate(rows, F.col("id"), keys,
                                     {n: (a, None) for n, a in HASHED.items()})]
    for df in builds:
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapGroupsInPandas" not in plan, plan
        assert re.search(r"\bMapInArrow\b", plan), plan
