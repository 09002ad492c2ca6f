"""sketches_rust_spark: PySpark-native distributed sketch engine.

Public surface:

    from sketches_rust_spark import (
        DDSketch, SketchConfig,
        ddsketch_aggregate, ddsketch_aggregate_sql, ddsketch_quantiles_sql,
        HyperLogLog, CountMinSketch, BloomFilter, TDigest, KLL,
    )
"""

from . import _task_hooks

_task_hooks.install()  # workers skip unchanged zips, ACK each task at once

from .kernel.bloom import BloomFilter
from .kernel.cms import CountMinSketch
from .kernel.hll import HyperLogLog
from .kernel.kll import KLL
from .kernel.kmv import KMV
from .kernel.sketch import DDSketch
from .kernel.tdigest import TDigest

__all__ = [
    "BloomFilter", "CountMinSketch", "DDSketch", "HyperLogLog", "KLL", "KMV",
    "TDigest", "SketchConfig", "ddsketch_aggregate", "ddsketch_aggregate_sql",
    "ddsketch_quantiles_sql", "histogram_quantiles",
    "register_all_sql_functions",
]


def __getattr__(name):  # lazy: keep kernel importable without pyspark
    if name in ("SketchConfig", "ddsketch_aggregate"):
        from .functions import ddsketch_spark
        return getattr(ddsketch_spark, name)
    if name in ("ddsketch_aggregate_sql", "ddsketch_quantiles_sql",
                "histogram_quantiles"):
        from .functions import ddsketch_sql
        return getattr(ddsketch_sql, name)
    if name == "register_all_sql_functions":
        def register_all_sql_functions(spark):
            from .functions.ddsketch_spark import register_sql_functions
            from .functions.sketch_udafs import register_sibling_sql
            register_sql_functions(spark)
            register_sibling_sql(spark)
        return register_all_sql_functions
    raise AttributeError(name)
