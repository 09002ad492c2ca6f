"""The LogCubic DuckDB oracle (oracle.py layout='cubic') vs the kernel.

The index side must match the kernel EXACTLY: every arithmetic step is
either an exact IEEE op (power-of-two division, the correction CASE) or
plain double arithmetic replicated in the kernel's operation order; the one
libm call (log2) is repaired by the correction, so no rounding can leak
into the bucket index. The inverse (bucket value) goes through cbrt, where
DuckDB and numpy may differ by ~1 ulp — same class as the documented LOG
ln() caveat — absorbed by the 5-digit output rounding and pinned against
the fixed test data by test_cubic_query_matches_oracle.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from sketches_rust_spark.kernel.mapping import LOG_CUBIC, IndexMapping
from sketches_rust_spark.functions.oracle import (
    _bucket_exprs,
    _bucket_value,
    mapping_params,
)

ALPHAS = [0.01, 0.02, 0.001]


@pytest.mark.parametrize("alpha", ALPHAS)
def test_cubic_index_sql_matches_kernel_exactly(alpha):
    m = IndexMapping.with_relative_accuracy(LOG_CUBIC, alpha)
    mult, _ra, mi = mapping_params(alpha, "cubic")
    rng = np.random.default_rng(7)
    vals = np.concatenate([
        np.arange(1, 5001, dtype=np.float64),              # textlen domain
        rng.lognormal(6, 3, 20000),                        # wide positive
        np.exp2(np.arange(-300, 300, dtype=np.float64)),   # exact 2^k
        np.nextafter(np.exp2(np.arange(-60.0, 60.0)), 0),  # just below 2^k
        np.nextafter(np.exp2(np.arange(-60.0, 60.0)), np.inf),
    ])
    vals = np.unique(vals[vals > mi])
    # negatives exercise the side expression through abs()
    both = np.concatenate([vals, -vals[:1000]])
    side_sql, idx_sql = _bucket_exprs(mult, mi, layout="cubic")
    con = duckdb.connect()
    con.register("vals_src", pd.DataFrame({"v": both}))
    got = con.execute(
        f"SELECT v, {side_sql} AS side, {idx_sql} AS idx FROM vals_src"
    ).df()
    want_idx = m.index_of(np.abs(got["v"].to_numpy()))
    assert (got["idx"].to_numpy() == want_idx).all()
    assert (got["side"].to_numpy() == np.sign(got["v"].to_numpy())).all()


@pytest.mark.parametrize("alpha", ALPHAS)
def test_cubic_bucket_value_sql_within_ulps(alpha):
    m = IndexMapping.with_relative_accuracy(LOG_CUBIC, alpha)
    mult, ra, _mi = mapping_params(alpha, "cubic")
    idxs = np.arange(-3000, 3001, dtype=np.int64)
    bv_sql = _bucket_value(mult, ra, layout="cubic")
    con = duckdb.connect()
    con.register("idxs_src", pd.DataFrame({"idx": idxs, "side": 1}))
    got = con.execute(
        f"SELECT idx, {bv_sql} AS bv FROM idxs_src ORDER BY idx").df()
    want = m.value_of(idxs)
    rel = np.abs(got["bv"].to_numpy() - want) / np.abs(want)
    assert rel.max() < 5e-15  # cbrt disagreement only: a few ulps


def test_cubic_query_matches_oracle(spark):
    """End-to-end: the LogCubic Spark query hash-matches its DuckDB oracle
    on the fixed sf0.001 table — the same comparison the driver runs."""
    from sketches_rust_spark.operators.queries import PROOFS

    query, oracle = PROOFS["ddsketch_cubic_textlen_by_lang"]
    got = (query(spark, "/root/testdata/sf0.001")
           .toPandas().sort_values("lang").reset_index(drop=True))
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                "'/root/testdata/sf0.001/documents.parquet'")
    want = (con.execute(oracle).df()
            .sort_values("lang").reset_index(drop=True))
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got, want, check_exact=True)
