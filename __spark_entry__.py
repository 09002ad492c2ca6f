"""Correctness entry points (PySpark target).

``entry(spark)`` runs the flagship query (per-lang DDSketch text-length
quantiles) on sf0.001. ``queries()`` and ``oracle_sql()`` are the two halves
of one registry, ``operators/queries.py: PROOFS``: each proof name maps to a
(spark, sf_dir) -> DataFrame query over the operators of SURVEY.md §2 and the
DuckDB SQL that must return the same rows. Both halves of an entry are built
from one set of parameters, so every query has exactly its own oracle.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from sketches_rust_spark.operators.queries import PROOFS  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    query, _oracle = PROOFS["ddsketch_textlen_by_lang"]
    return query(spark, "/root/testdata/sf0.001")


# The driver's correctness artifact records at most 50 queries:
# CORRECTNESS_r03.json held exactly the first 50 of the 53 then-registered
# queries in registration order, silently dropping the last 3 (which were
# hash-green when run directly). Staying at or under the cap guarantees
# every registered query appears in the driver file; related proofs are
# consolidated into long-format union queries instead of dropped
# (see operators/queries.py: multimodal_all_query and friends).
MAX_DRIVER_QUERIES = 50


def _ensure_pages_fixture() -> None:
    """Materialize the input_hint pages parquet (idempotent, no Spark) so
    it exists whether the driver runs the Spark query or the DuckDB oracle
    first (the oracle reads it via read_parquet)."""
    from sketches_rust_spark.operators.queries import PAGES_ROWS
    from sketches_rust_spark.sources.pages import ensure_pages

    ensure_pages(PAGES_ROWS)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_pages_fixture()
    qs = {name: query for name, (query, _oracle) in PROOFS.items()}
    # RuntimeError, not assert: this guard must survive python -O (a
    # stripped assert would let queries past the cap go silently unverified)
    if len(qs) > MAX_DRIVER_QUERIES:
        raise RuntimeError(
            f"{len(qs)} queries registered but the driver records only "
            f"{MAX_DRIVER_QUERIES}; consolidate (queries beyond the cap "
            "would be silently unverified)")
    return qs


def oracle_sql() -> dict[str, str]:
    _ensure_pages_fixture()
    return {name: oracle for name, (_query, oracle) in PROOFS.items()}
