"""Spark-level DDSketch aggregation tests.

End-to-end over driver-provided parquet (sf0.001): two-level partial+final
sketch aggregation, salted-vs-unsalted identity, partition-count invariance,
SQL UDF surface, and error bounds vs exact quantiles.
"""

import re

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    build_partials,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
    make_quantile_udf,
    register_sql_functions,
)
from sketches_rust_spark.functions.ddsketch_sql import ddsketch_aggregate_sql

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def exact_ddsketch_estimate(values: np.ndarray, q: float, cfg: SketchConfig = CFG) -> float:
    """Single-node kernel estimate: Spark must reproduce this exactly."""
    sk = cfg.new()
    sk.accept_many(values)
    return sk.get_value_at_quantile(q)


def test_grouped_aggregate_matches_kernel(spark, documents):
    """The distributed two-level plan must give byte-identical blobs to a
    single-threaded kernel build over the same rows (unbounded store)."""
    result = ddsketch_aggregate(
        documents.withColumn("text_len", F.length("text")),
        "text_len", ["lang"], CFG,
    )
    got = {r["lang"]: bytes(r["sketch"]) for r in result.collect()}

    pdf = documents.select("lang", F.length("text").alias("text_len")).toPandas()
    for lang, sub in pdf.groupby("lang"):
        sk = CFG.new()
        sk.accept_many(sub["text_len"].to_numpy(dtype=np.float64))
        assert got[lang] == sk.encode(), f"blob mismatch for lang={lang}"


def test_partition_count_invariance(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    blobs = []
    for parts in (1, 3, 7):
        r = ddsketch_aggregate(df.repartition(parts), "text_len", ["lang"], CFG)
        blobs.append({row["lang"]: bytes(row["sketch"]) for row in r.collect()})
    assert blobs[0] == blobs[1] == blobs[2]


def test_salted_equals_unsalted(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    plain = ddsketch_aggregate(df, "text_len", ["lang"], CFG)
    salted = ddsketch_aggregate_salted(df, "text_len", ["lang"], CFG,
                                       num_salts=8, salt_from="doc_id")
    a = {r["lang"]: bytes(r["sketch"]) for r in plain.collect()}
    b = {r["lang"]: bytes(r["sketch"]) for r in salted.collect()}
    assert a == b


@pytest.mark.parametrize("num_salts,salt_from", [(1, None), (4, None), (16, None),
                                                (4, "doc_id")])
def test_salted_blobs_and_rows_match_unsalted(spark, documents, num_salts, salt_from):
    """Salted blobs and rows_in equal ddsketch_aggregate's, including a null
    group key; a key whose every value is rejected (null, NaN, inf) gets no
    row. The plan has one Python partial stage and one Python merge stage,
    so no per-(key, salt) Python grouping is left."""
    docs = documents.select("doc_id", "lang", F.length("text").cast("double").alias("v"))
    extra = spark.createDataFrame(
        [(-1, None, 3.0), (-2, None, 40.0), (-3, "rejected", None),
         (-4, "rejected", float("nan")), (-5, "rejected", float("inf")),
         (-6, "rejected", float("-inf"))], docs.schema)
    df = docs.unionByName(extra)
    salted = ddsketch_aggregate_salted(df, "v", ["lang"], CFG,
                                       num_salts=num_salts, salt_from=salt_from)
    # the plan as planned: after a run, AQE prints the final plan too
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"\bMapInPandas\b", plan)) == 1, plan  # partial
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan  # merge
    assert "FlatMapGroupsInPandas" not in plan, plan
    plain = ddsketch_aggregate(df, "v", ["lang"], CFG)
    got = {r["lang"]: (bytes(r["sketch"]), r["rows_in"]) for r in salted.collect()}
    want = {r["lang"]: (bytes(r["sketch"]), r["rows_in"]) for r in plain.collect()}
    assert got == want
    assert got[None][1] == 2 and "rejected" not in got


def test_global_aggregate_and_quantile_udf(spark, documents):
    df = documents.withColumn("text_len", F.length("text"))
    agg = ddsketch_aggregate(df, "text_len", [], CFG)
    p99 = make_quantile_udf(0.99)
    row = agg.select(p99("sketch").alias("p99"), "rows_in").collect()[0]

    vals = df.select("text_len").toPandas()["text_len"].to_numpy(dtype=np.float64)
    assert row["rows_in"] == len(vals)
    assert row["p99"] == exact_ddsketch_estimate(vals, 0.99)
    srt = np.sort(vals)
    exact = srt[int(0.99 * (len(srt) - 1))]
    assert abs(row["p99"] - exact) / exact <= CFG.new().index_mapping.relative_accuracy * 1.0000001


def test_sql_surface(spark, documents):
    register_sql_functions(spark, CFG)
    df = documents.withColumn("text_len", F.length("text"))
    build_partials(df, "text_len", ["lang"], CFG).createOrReplaceTempView("partials")
    out = spark.sql(
        """
        SELECT lang,
               ddsketch_count(sk) AS cnt,
               ddsketch_quantile(sk, 0.5) AS p50,
               ddsketch_min(sk) AS mn,
               ddsketch_max(sk) AS mx,
               ddsketch_avg(sk) AS avg
        FROM (SELECT lang, ddsketch_merge(sketch) AS sk FROM partials GROUP BY lang)
        ORDER BY lang
        """
    ).toPandas()

    exact = (
        documents.select("lang", F.length("text").alias("v"))
        .groupBy("lang")
        .agg(F.count("v").alias("cnt"), F.min("v").alias("mn"),
             F.max("v").alias("mx"), F.avg("v").alias("avg"))
        .orderBy("lang")
        .toPandas()
    )
    alpha = CFG.new().index_mapping.relative_accuracy
    assert (out["cnt"].to_numpy() == exact["cnt"].to_numpy()).all()
    np.testing.assert_allclose(out["mn"], exact["mn"], rtol=alpha)
    np.testing.assert_allclose(out["mx"], exact["mx"], rtol=alpha)
    np.testing.assert_allclose(out["avg"], exact["avg"], rtol=alpha)


def test_sql_build_udaf(spark, documents):
    register_sql_functions(spark, CFG)
    documents.createOrReplaceTempView("docs")
    out = spark.sql(
        """
        SELECT lang, ddsketch_quantile(ddsketch_build(CAST(length(text) AS DOUBLE)), 0.9) AS p90
        FROM docs GROUP BY lang ORDER BY lang
        """
    ).toPandas()
    pdf = documents.select("lang", F.length("text").alias("v")).toPandas()
    for _, row in out.iterrows():
        vals = pdf[pdf["lang"] == row["lang"]]["v"].to_numpy(dtype=np.float64)
        assert row["p90"] == exact_ddsketch_estimate(vals, 0.9)


def test_null_values_ignored(spark):
    pdf = pd.DataFrame({"k": ["a", "a", "b"], "v": [1.0, None, 3.0]})
    df = spark.createDataFrame(pdf)
    agg = ddsketch_aggregate(df, "v", ["k"], CFG)
    rows = {r["k"]: r for r in agg.collect()}
    from sketches_rust_spark.kernel.sketch import DDSketch
    assert DDSketch.decode(bytes(rows["a"]["sketch"])).get_count() == 1.0
    assert DDSketch.decode(bytes(rows["b"]["sketch"])).get_count() == 1.0

    # rejected values never reach the sketch or rows_in, on every build
    # path: rows_in is the sketch count, and a group with no accepted value
    # gets no row
    pdf = pd.DataFrame({"k": ["a", "a", "b", "c", "d"],
                        "v": [1.0, np.nan, 3.0, np.nan, np.nan]})
    # the pandas conversion turns NaN into null: put real NaNs back
    df = spark.createDataFrame(pdf).withColumn(
        "v", F.coalesce("v", F.lit(float("nan"))))
    for agg in (ddsketch_aggregate(df, "v", ["k"], CFG),
                ddsketch_aggregate_salted(df, "v", ["k"], CFG, num_salts=4),
                ddsketch_aggregate_sql(df, "v", ["k"], CFG)):
        rows = {r["k"]: r for r in agg.collect()}
        assert {k: r["rows_in"] for k, r in rows.items()} == {"a": 1, "b": 1}
        for r in rows.values():
            assert DDSketch.decode(bytes(r["sketch"])).get_count() == r["rows_in"]


def test_register_sql_functions_no_udf_type_deprecation(spark):
    """The merge and build UDAFs declare GROUPED_AGG through their
    ``pd.Series -> bytes`` type hints, so registering them raises no
    pandas-UDF-type deprecation warning."""
    import warnings

    from sketches_rust_spark.functions.sketch_udafs import register_sibling_sql

    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        register_sql_functions(spark, CFG)
        register_sibling_sql(spark)
    assert not [w for w in caught
                if "preferred to specify type hints" in str(w.message)]
    got = spark.sql(
        "SELECT ddsketch_count(ddsketch_merge(s)) AS n FROM "
        "(SELECT ddsketch_build(CAST(id AS DOUBLE) + 1) AS s FROM range(10))"
    ).collect()
    assert got[0]["n"] == 10.0
