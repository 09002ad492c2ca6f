#!/usr/bin/env python
"""Pre-flight correctness harness: run EVERY registered query against its
DuckDB oracle the same way the driver does (sf0.01 by default, columns
sorted by name, per-column compare with float rounding), print one status
line per query and, when an output path is given, write the results there
as JSON (the committed CORRECTNESS_LOCAL_r{N}.json records are written this
way). Catches a red query before the driver run and proves coverage for
queries the driver's 50-row artifact cap would drop.

The local master gets one core per CPU of the host (SPARK_GRAFT_CPUS when
set, else os.cpu_count()) and the 4 GB driver the test suite runs the same
queries with.

Usage: python scripts/correctness_local.py [out.json] [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"

    import duckdb
    import pandas as pd
    from pyspark.sql import SparkSession

    import __spark_entry__ as entry

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("correctness-local")
             .config("spark.sql.shuffle.partitions", "16")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "4g")
             .getOrCreate())

    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{sf_dir}/{t}.parquet'")
    results: dict[str, dict] = {}
    for name in qs:
        row: dict = {"rows_match": None, "schema_match": None,
                     "hash_match": None, "spark_rows": None,
                     "oracle_rows": None, "err": None}
        try:
            got = qs[name](spark, sf_dir).toPandas()
            row["spark_rows"] = len(got)
            sql = oracles.get(name)
            if sql is None:
                row["err"] = "no_oracle"
                results[name] = row
                continue
            want = con.execute(sql).df()
            row["oracle_rows"] = len(want)
            row["rows_match"] = len(got) == len(want)
            cols = sorted(got.columns)
            row["schema_match"] = cols == sorted(want.columns)
            if row["rows_match"] and row["schema_match"]:
                g = got[cols].sort_values(cols).reset_index(drop=True)
                w = want[cols].sort_values(cols).reset_index(drop=True)
                ok = True
                for c in cols:
                    gc = g[c]
                    wc = w[c]
                    if gc.dtype.kind == "f" or wc.dtype.kind == "f":
                        ok &= gc.astype(float).round(6).equals(
                            wc.astype(float).round(6))
                    else:
                        try:
                            ok &= gc.equals(wc.astype(gc.dtype))
                        except (TypeError, ValueError):
                            ok &= gc.astype(str).equals(wc.astype(str))
                    if not ok:
                        break
                row["hash_match"] = bool(ok)
            else:
                row["hash_match"] = False
        except Exception as e:  # noqa: BLE001 — record and continue
            row["err"] = f"{type(e).__name__}: {e}"[:200]
        results[name] = row
        status = ("green" if row["hash_match"]
                  else row["err"] or "MISMATCH")
        print(f"{name}: {status}", flush=True)

    if out_path is not None:
        with open(out_path, "w") as f:
            json.dump(results, f, indent=1)
    n_green = sum(1 for r in results.values() if r["hash_match"])
    print(f"\n{n_green}/{len(results)} hash-green"
          + (f" -> {out_path}" if out_path else ""))
    spark.stop()
    if n_green != len(results):
        sys.exit(1)


if __name__ == "__main__":
    main()
