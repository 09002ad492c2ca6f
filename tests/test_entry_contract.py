"""Local replica of the driver's correctness gate.

Runs every ``__spark_entry__.queries()`` entry at sf0.01 and compares it with
the matching ``oracle_sql()`` via DuckDB: row count, column names, and values
(order-insensitive, exact after the queries' own rounding).
"""

import hashlib
import json
import os
import sys

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.01"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# sha256 of json.dumps(oracle_sql(), sort_keys=True) after replacing the
# checkout root with "<ROOT>" (the pages oracles read their fixture by
# absolute path). A change here changes what every query is checked against.
ORACLE_TEXT_SHA256 = (
    "750d6e38890e06ff0d5bf7e2bc4e934b578b61ee8d586a2b918476bc52bc7437")


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) >= {"lang", "p50", "p90", "p99"}


def test_oracle_text_pinned():
    """Every oracle's SQL text is byte-identical to the pinned set: the
    registry or an oracle function cannot be refactored into a different
    proof unnoticed."""
    root = os.path.dirname(os.path.abspath(entry_mod.__file__))
    texts = {name: sql.replace(root, "<ROOT>")
             for name, sql in entry_mod.oracle_sql().items()}
    digest = hashlib.sha256(
        json.dumps(texts, sort_keys=True).encode()).hexdigest()
    assert digest == ORACLE_TEXT_SHA256


@pytest.mark.parametrize("name", sorted(entry_mod.queries().keys()))
def test_query_matches_oracle(spark, duck, name):
    q = entry_mod.queries()[name]
    got = q(spark, SF_DIR).toPandas()
    want = duck.execute(entry_mod.oracle_sql()[name]).df()
    _assert_matches(name, got, want)


@pytest.mark.parametrize("multi_probe", [0, 2])
@pytest.mark.parametrize("op", ["lsh_topk", "embedding_near_dup_pairs"])
def test_lsh_multi_probe_matches_oracle(spark, duck, op, multi_probe):
    """The driver proofs run multi_probe=1 only. The single-bucket join
    (0) and the distance-2 flip buckets (2) must equal their oracles too."""
    from sketches_rust_spark.operators import queries as Q

    if op == "lsh_topk":
        q, sql = Q.ann_query(Q.lsh_topk, Q.lsh_topk_oracle_sql,
                             Q._ANN_PROBES, nbits=6, dim=64,
                             multi_probe=multi_probe)
    else:
        q, sql = Q.table_proof(
            "embeddings", Q.embedding_near_dup_pairs,
            Q.embedding_near_dup_oracle_sql, 0.4, dim=64, nbits=6,
            multi_probe=multi_probe)
    want = duck.execute(sql).df()
    assert len(want) > 0
    _assert_matches(f"{op}[{multi_probe}]", q(spark, SF_DIR).toPandas(), want)


def _assert_matches(name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
    assert sorted(got.columns) == sorted(want.columns), (
        f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    assert len(got) == len(want), f"{name}: {len(got)} rows vs {len(want)}"

    g, w = _canon(got), _canon(want)
    for col in g.columns:
        gv, wv = g[col], w[col]
        if gv.dtype.kind in "fc" or wv.dtype.kind in "fc":
            pd.testing.assert_series_equal(
                gv.astype("float64"), wv.astype("float64"),
                check_names=False, check_exact=True, obj=f"{name}.{col}")
        else:
            assert gv.astype(str).tolist() == wv.astype(str).tolist(), f"{name}.{col}"
