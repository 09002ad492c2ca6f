"""Spark aggregation layer for the sibling sketches (HLL, CMS, Bloom, KMV,
t-digest, KLL).

Every family runs the shared two-level core in ``_two_level.py``: a
``mapInPandas`` partial per (scan partition x group) — no raw-row shuffle —
then one ``applyInPandas`` blob merge per group. Hashing happens JVM-side
where possible (xxhash64) or as vectorized numpy (splitmix64, when the query
needs a cross-engine-reproducible hash for its DuckDB oracle).

Each kernel plugs in via a ``SketchAdapter``: ``new()`` (an empty sketch),
``prepare(values)`` (one vectorized step per Arrow batch — the 64-bit hash
column, or the float values) and ``insert(sketch, chunks)`` (a group's
per-batch slices of the prepared arrays). Blobs are the engines' own wire
formats (kernel/{hll,cms,bloom,kmv,tdigest,kll}.py) — mergeable in SQL via
``<name>_merge`` GROUPED_AGG UDFs registered by register_sibling_sql.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import BooleanType, DoubleType, LongType

from ..kernel.bits import splitmix64
from ..kernel.bloom import BloomFilter
from ..kernel.cms import CountMinSketch
from ..kernel.hll import HyperLogLog
from ..kernel.kll import KLL
from ..kernel.kmv import KMV
from ..kernel.tdigest import TDigest
from ._two_level import SketchAdapter, blob_udf, two_level
from .ddsketch_spark import _f64, make_merge_udaf


def _hashed_adapter(name: str, new, hash_mode: str) -> SketchAdapter:
    """hash_mode='pre': input column already holds 64-bit hashes (e.g. JVM
    xxhash64). 'splitmix': input is a numeric id, hashed with splitmix64 in
    numpy (cross-engine reproducible for oracles). All four hashed kernels
    are order-insensitive, so a group's hashes go in with one call."""
    def prepare(ids: pd.Series) -> tuple:
        h = ids.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        return (splitmix64(h) if hash_mode == "splitmix" else h,)
    return SketchAdapter(name, new, prepare, lambda sk, chunks: sk.add_hashes(
        np.concatenate([h for (h,) in chunks])))


def hll_adapter(p: int = 14, hash_mode: str = "pre") -> SketchAdapter:
    return _hashed_adapter("hll", lambda: HyperLogLog(p), hash_mode)


def cms_adapter(depth: int = 5, width: int = 2048, hash_mode: str = "pre") -> SketchAdapter:
    return _hashed_adapter("cms", lambda: CountMinSketch(depth, width), hash_mode)


def bloom_adapter(m_bits: int = 1 << 20, k: int = 7, hash_mode: str = "pre") -> SketchAdapter:
    return _hashed_adapter("bloom", lambda: BloomFilter(m_bits, k), hash_mode)


def kmv_adapter(k: int = 256, hash_mode: str = "pre") -> SketchAdapter:
    """KMV / bottom-k theta sketch: distinct counts that also support
    set-intersection estimates (kernel/kmv.py). 'splitmix' hashing keeps
    the retained hash set — and therefore every estimate — exactly
    reproducible in the DuckDB oracle (bottom-k = ORDER BY hash LIMIT k)."""
    return _hashed_adapter("kmv", lambda: KMV(k), hash_mode)


def _rank_adapter(name: str, new) -> SketchAdapter:
    """t-digest and KLL bytes depend on how values are batched, so a group
    gets one ``accept_many`` per Arrow batch, in input order."""
    def insert(sk, chunks):
        for (v,) in chunks:
            sk.accept_many(v)
    return SketchAdapter(name, new, lambda v: (_f64(v),), insert)


def tdigest_adapter(delta: float = 200.0) -> SketchAdapter:
    return _rank_adapter("tdigest", lambda: TDigest(delta))


def kll_adapter(k: int = 200) -> SketchAdapter:
    return _rank_adapter("kll", lambda: KLL(k))


def sketch_aggregate(
    df: DataFrame,
    input_col,
    keys: Sequence[str],
    adapter: SketchAdapter,
) -> DataFrame:
    """Generic two-level mergeable aggregation -> (keys..., sketch, rows_in).

    input_col: column name or Column expression fed to the kernel.
    """
    return two_level(df, input_col, keys, {adapter.name: (adapter, None)})


def multi_family_aggregate(
    df: DataFrame,
    input_col,
    keys: Sequence[str],
    families: dict,
) -> DataFrame:
    """One-pass build of SEVERAL sketch families over the SAME scan.

    ``families``: {name: (SketchAdapter, row_mask_Column_or_None)} — each
    family sketches the rows its mask selects (None = all rows). Output:
    (family, keys..., sketch, rows_in), one row per (family, group).

    Shape rationale: N separate ``sketch_aggregate`` calls over one table
    cost N scans and N Python partial stages; at 100 TB that is N passes
    over the corpus for sketches that could share every batch. Here the
    partial stage updates every family from each Arrow batch (masked
    per-family), and the single blob-merge stage dispatches on the family
    column. All supported kernels (HLL register-max, KMV bottom-k, CMS
    counter adds, Bloom bit-OR, histogram adds) are order-insensitive, so
    the per-family blobs equal the single-family build's byte-for-byte
    (tested in tests/test_sibling_spark.py)."""
    return two_level(df, input_col, keys, families, with_family=True)


# -- extraction UDFs ----------------------------------------------------------

def _one_hash(h) -> np.ndarray:
    return np.array([np.int64(h)]).view(np.uint64)


hll_estimate = blob_udf("hll_estimate", HyperLogLog.decode,
                        HyperLogLog.estimate, DoubleType())
kmv_estimate = blob_udf("kmv_estimate", KMV.decode, KMV.estimate, DoubleType())
kmv_intersection = blob_udf("kmv_intersection", KMV.decode,
                            KMV.intersection_estimate, DoubleType(), blobs=2)
# |A ∖ B| on the common-theta sample (kernel/kmv.py difference_estimate) —
# with estimate and intersection this completes the theta-sketch set algebra
kmv_difference = blob_udf("kmv_difference", KMV.decode,
                          KMV.difference_estimate, DoubleType(), blobs=2)
cms_total = blob_udf("cms_total", CountMinSketch.decode, CountMinSketch.total,
                     LongType())
cms_point_estimate = blob_udf(
    "cms_point_estimate", CountMinSketch.decode,
    lambda cms, h: int(cms.estimate_hashes(_one_hash(h))[0]), LongType())
bloom_might_contain = blob_udf(
    "bloom_might_contain", BloomFilter.decode,
    lambda bf, h: bool(bf.might_contain_hashes(_one_hash(h))[0]),
    BooleanType())
tdigest_quantile = blob_udf("tdigest_quantile", TDigest.decode,
                            lambda td, q: td.quantile(float(q)), DoubleType())
kll_quantile = blob_udf("kll_quantile", KLL.decode,
                        lambda kll, q: kll.quantile(float(q)), DoubleType())


def register_sibling_sql(spark: SparkSession,
                         hll_p: int = 14,
                         cms_depth: int = 5, cms_width: int = 2048,
                         bloom_m: int = 1 << 20, bloom_k: int = 7,
                         tdigest_delta: float = 200.0,
                         kll_k: int = 200,
                         kmv_k: int = 256) -> None:
    """Register extraction + merge functions for SQL composition, e.g.
    SELECT lang, hll_estimate(hll_merge(sketch)) FROM partials GROUP BY lang.
    """
    spark.udf.register("hll_estimate", hll_estimate)
    spark.udf.register("kmv_estimate", kmv_estimate)
    spark.udf.register("kmv_intersection", kmv_intersection)
    spark.udf.register("kmv_difference", kmv_difference)
    spark.udf.register("cms_total", cms_total)
    spark.udf.register("cms_point_estimate", cms_point_estimate)
    spark.udf.register("bloom_might_contain", bloom_might_contain)
    spark.udf.register("tdigest_quantile", tdigest_quantile)
    spark.udf.register("kll_quantile", kll_quantile)
    for adapter in [hll_adapter(hll_p), cms_adapter(cms_depth, cms_width),
                    bloom_adapter(bloom_m, bloom_k), kmv_adapter(kmv_k),
                    tdigest_adapter(tdigest_delta), kll_adapter(kll_k)]:
        spark.udf.register(f"{adapter.name}_merge", make_merge_udaf(adapter))
