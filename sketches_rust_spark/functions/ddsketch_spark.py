"""Spark integration for DDSketch: mergeable aggregation as pandas/Arrow UDAFs.

Design (idiomatic Spark, SURVEY.md §1.5/§3):

* **two-level build** — ``build_partials`` + ``merge_partials`` run the
  shared core in ``_two_level.py``: a ``mapInPandas`` partial per
  (scan partition x group), then a key-sorted ``mapInArrow`` merge that
  folds each group's blobs, holding at most one group, one Arrow batch and
  that batch's output rows.
  DDSketch is one more adapter there: ``prepare`` routes each Arrow batch
  once (``route_batch``: one vectorized log pass), and ``insert`` applies a
  group's routed buckets with one ``apply_routed`` per partition. Values
  the sketch would reject (null, NaN, +-inf, beyond ``max_indexed_value``)
  are dropped JVM-side first (``value_guard``), so ``rows_in`` is the sketch
  count and a group with no accepted value gets no row — the same contract
  as ``ddsketch_aggregate_sql``.
* **salted variant** — raw rows are first shuffled on (keys..., salt), an
  explicit deterministic salt column that spreads a hot group over
  ``num_salts`` hash partitions; the same partial and merge levels then run
  over those partitions. Losslessness is guaranteed by sketch mergeability.
* **scalar extraction** — pandas UDFs over the blob column
  (``ddsketch_quantile/count/sum/min/max/avg``), registered for SQL.

The blob column is the reference wire format byte-for-byte
(/root/reference/src/sketch.rs:223-293), so sketches round-trip between this
engine, sketches-rust, and sketches-java.
"""

from __future__ import annotations

from dataclasses import dataclass
from operator import methodcaller
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import DoubleType

from ..kernel.mapping import LOG
from ..kernel.sketch import DDSketch
from ._two_level import (  # ROWS_COL, SKETCH_COL: part of this module's API
    ROWS_COL,
    SKETCH_COL,
    SketchAdapter,
    blob_udf,
    grouped_blobs,
    merge_blobs,
    partial_blobs,
)


@dataclass(frozen=True)
class SketchConfig:
    """Sketch parameters, fixed per aggregation (the 'schema' of the sketch).

    preset: one of DDSketch.PRESETS (factory names mirroring the reference's
    six constructors, spec sketch.rs:297-414).
    """

    preset: str = "logarithmic_collapsing_lowest_dense"
    relative_accuracy: float = 0.01
    max_num_bins: int = 2048

    def new(self) -> DDSketch:
        return DDSketch.preset(self.preset, self.relative_accuracy, self.max_num_bins)


DEFAULT_CONFIG = SketchConfig()


def value_guard(value: Column, config: SketchConfig) -> Column:
    """Rows the sketch accepts: non-null, finite, |v| <= max_indexed_value
    (the kernel's own rule, DDSketch.accept_many), for any preset."""
    v = value.cast("double")
    return (v.isNotNull() & ~F.isnan(v)
            & (F.abs(v) <= F.lit(config.new().max_indexed_value))
            & (F.abs(v) != F.lit(float("inf"))))


def _f64(values: pd.Series) -> np.ndarray:
    return values.to_numpy(dtype=np.float64, na_value=np.nan)


def _ddsketch_adapter(config: SketchConfig) -> SketchAdapter:
    def insert(sk, chunks):
        sk.apply_routed(*(np.concatenate(c) for c in zip(*chunks)))
    return SketchAdapter("ddsketch", config.new,
                         lambda v: config.new().route_batch(_f64(v)), insert)


def build_partials(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Level-1 partial aggregation: per-partition, per-group sketch blobs.

    Runs as ``mapInPandas`` so nothing is shuffled; the output has at most
    ``num_partitions * num_groups`` rows of (keys..., sketch, rows_in).
    Column pruning: only ``keys + [value_col]`` are selected, so the parquet
    scan never reads unrelated columns.
    """
    adapter = _ddsketch_adapter(config)
    return partial_blobs(df.where(value_guard(F.col(value_col), config)),
                         F.col(value_col).cast("double"), keys,
                         {adapter.name: (adapter, None)})


def merge_partials(
    partials: DataFrame,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Level-2 final merge: fold blob rows per group into one blob.

    ``decode_and_merge_with`` streams bins straight into the receiving store
    (decode *is* merge, spec store/mod.rs:92-141) — no intermediate sketches.
    """
    return merge_blobs(partials, keys, {"ddsketch": _ddsketch_adapter(config)})


def ddsketch_aggregate(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Two-level sketch aggregation: (keys..., sketch, rows_in), one row per
    group. The only shuffle moves serialized blobs, never raw rows."""
    return merge_partials(build_partials(df, value_col, keys, config), keys, config)


def ddsketch_aggregate_weighted(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    keys: Sequence[str] = (),
    config: SketchConfig = DEFAULT_CONFIG,
) -> DataFrame:
    """Weighted sketch build: each row contributes ``weight`` to its bucket.

    The reference's accept_with_count *ignores* its count argument (quirk Q1,
    spec sketch.rs:38-56); this implements the documented weighted semantics
    (non-positive/NaN weights dropped).

    LOG presets ride the native histogram path: bucket + sum(weight) as a
    Tungsten hash aggregate (map-side partial_sum, shuffle bounded by
    groups x buckets — no raw row ever crosses the shuffle or the Arrow
    boundary), then blob assembly over the tiny histogram. LogCubic presets
    (bucket math not SQL-expressible) shuffle the raw rows on the keys and
    build each group in the key-sorted merge stage; prefer LOG at scale.
    """
    from .ddsketch_sql import ddsketch_aggregate_sql

    keys = list(keys)
    if config.new().index_mapping.layout == LOG:
        return ddsketch_aggregate_sql(df, value_col, keys, config,
                                      weight_col=weight_col)
    narrow = df.select(*keys,
                       F.col(value_col).cast("double").alias("_v"),
                       F.col(weight_col).cast("double").alias("_w"))
    # same contract as the SQL path: invalid weights drop JVM-side, so a
    # group whose every row is dropped vanishes on BOTH branches, and
    # rows_in is the accepted weight sum (== sketch count) on both
    narrow = narrow.where(F.col("_w").isNotNull() & ~F.isnan("_w")
                          & (F.col("_w") > 0))

    def build(_key: tuple, pdf: pd.DataFrame) -> tuple[bytes, int]:
        sk = config.new()
        sk.accept_many(_f64(pdf["_v"]), _f64(pdf["_w"]))
        # round, don't truncate: fractional weight sums (weights are
        # doubles) would otherwise report up to 1 low per group
        return sk.encode(), int(round(sk.get_count()))

    return grouped_blobs(narrow, keys, build)


def ddsketch_aggregate_salted(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: SketchConfig = DEFAULT_CONFIG,
    num_salts: int = 16,
    salt_from: str | None = None,
) -> DataFrame:
    """Salted two-level aggregation: raw rows are shuffled on (keys..., salt)
    first, where salt = pmod(xxhash64(salt_from or the value), num_salts) —
    deterministic, so re-runs are reproducible. A zipfian hot key (e.g.
    lang='en' at ~45%) is spread over up to ``num_salts`` hash partitions;
    level 1 is then the shared partial build over those partitions, and
    level 2 merges the partials. Mergeability makes the split lossless:
    blobs and ``rows_in`` equal the unsalted plan's (tested).
    """
    salt_col = F.pmod(
        F.xxhash64(F.col(salt_from) if salt_from else F.col(value_col)),
        F.lit(num_salts),
    ).alias("_salt")
    salted = df.select(*keys, value_col, salt_col).repartition(*keys, "_salt")
    return ddsketch_aggregate(salted, value_col, keys, config)


# ---------------------------------------------------------------------------
# Scalar extraction UDFs (blob -> statistic), usable in DataFrame and SQL.
# ---------------------------------------------------------------------------

def make_quantile_udf(quantile: float):
    return blob_udf("ddsketch_quantile", DDSketch.decode,
                    lambda sk: sk.get_value_at_quantile(quantile), DoubleType())


def _stat_udf(stat: str):
    return blob_udf(f"ddsketch_{stat}", DDSketch.decode,
                    methodcaller(f"get_{stat}"), DoubleType())


ddsketch_count = _stat_udf("count")
ddsketch_sum = _stat_udf("sum")
ddsketch_min = _stat_udf("min")
ddsketch_max = _stat_udf("max")
ddsketch_avg = _stat_udf("average")
ddsketch_quantile = blob_udf(
    "ddsketch_quantile", DDSketch.decode,
    lambda sk, q: sk.get_value_at_quantile(float(q)), DoubleType())


def make_merge_udaf(config: SketchConfig = DEFAULT_CONFIG):
    """GROUPED_AGG pandas UDF: SQL-composable blob merge —
    ``SELECT lang, ddsketch_merge(sketch) FROM partials GROUP BY lang``.
    ``config``: a SketchConfig or any sketch adapter (anything whose
    ``new()`` makes an empty sketch of the blobs' family)."""
    def merge_blobs(blobs: pd.Series) -> bytes:
        sk = config.new()
        for b in blobs:
            if b is not None:
                sk.decode_and_merge_with(bytes(b))
        return sk.encode()
    return pandas_udf(merge_blobs, "binary")


def make_build_udaf(config: SketchConfig = DEFAULT_CONFIG):
    """GROUPED_AGG pandas UDF building a sketch from raw values in SQL.

    NOTE: unlike ddsketch_aggregate this shuffles raw rows (Spark cannot
    partial-aggregate a black-box UDAF); prefer ddsketch_aggregate at scale.
    Provided for SQL ergonomics on small/medium groups.
    """
    def build(values: pd.Series) -> bytes:
        sk = config.new()
        sk.accept_many(_f64(values))
        return sk.encode()
    return pandas_udf(build, "binary")


def register_sql_functions(spark: SparkSession, config: SketchConfig = DEFAULT_CONFIG) -> None:
    """Register the sketch function surface for ``spark.sql`` use."""
    for udf in [ddsketch_quantile, ddsketch_count, ddsketch_sum, ddsketch_min,
                ddsketch_max]:
        spark.udf.register(udf.__name__, udf)
    spark.udf.register("ddsketch_avg", ddsketch_avg)  # named ddsketch_average
    spark.udf.register("ddsketch_merge", make_merge_udaf(config))
    spark.udf.register("ddsketch_build", make_build_udaf(config))

