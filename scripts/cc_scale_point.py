#!/usr/bin/env python
"""10x connected-components scale point: a ~5M-directed-edge near-dup graph
(scaled clique mix + two long chains), contracted and labeled by
operators/dedup.near_dup_clusters, with the O(log d) trajectory recorded.

Graph (all edges generated DECLARATIVELY — spark.range + arithmetic, no
driver-side materialization):
  - 1    clique of 1000   ->   999,000 directed edges
  - 50   cliques of 200   -> 1,990,000
  - 2000 cliques of 20    ->   760,000
  - 20k  cliques of 5     ->   400,000
  - 2    chains of 100,001 ->  400,000   (the adversarial-diameter arm:
    min-star contraction only SHIFTS a chain, so pointer jumping must close
    a ~100k-diameter component in ~ceil(log2 d) rounds)
  total: ~4.55M directed edges over ~1.43M nodes.

Expected shape (the claim this script pins): cliques vanish at the single
contraction step (their ~4.1M edges -> 0), the contracted graph is ~= the
two chains (~400k edges, a ~11x edge reduction), and the label loop runs
~ceil(log2 100k)+2 = 19 rounds with each round's shuffle bounded by the
CONTRACTED graph (|e2| + 2|labels| rows), not the input.

Usage: python scripts/cc_scale_point.py  (prints one JSON line; numbers go
into BENCH/BASELINE.md's CC table)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

CLIQUE_CLASSES = [  # (count, size)
    (1, 1000),
    (50, 200),
    (2000, 20),
    (20_000, 5),
]
CHAINS = [(2, 100_001)]  # (count, nodes per chain)


def build_pairs(spark):
    """Undirected pair list (id_a < id_b) for the clique mix + chains."""
    from pyspark.sql import functions as F

    parts = []
    base = 0
    for count, size in CLIQUE_CLASSES:
        # enumerate the size x size grid per clique, keep i < j: row
        # g = (clique c, i, j) with nodes base + c*size + {i, j}
        grid = size * size
        df = (spark.range(count * grid)
              .select(F.floor(F.col("id") / grid).alias("c"),
                      F.floor((F.col("id") % grid) / size).alias("i"),
                      (F.col("id") % size).alias("j"))
              .where(F.col("i") < F.col("j"))
              .select((F.lit(base) + F.col("c") * size + F.col("i")).alias("id_a"),
                      (F.lit(base) + F.col("c") * size + F.col("j")).alias("id_b")))
        parts.append(df)
        base += count * size
    for count, nodes in CHAINS:
        df = (spark.range(count * (nodes - 1))
              .select(F.floor(F.col("id") / (nodes - 1)).alias("c"),
                      (F.col("id") % (nodes - 1)).alias("i"))
              .select((F.lit(base) + F.col("c") * nodes + F.col("i")).alias("id_a"),
                      (F.lit(base) + F.col("c") * nodes + F.col("i") + 1).alias("id_b")))
        parts.append(df)
        base += count * nodes
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.repartition(64)


def main() -> None:
    from pyspark.sql import SparkSession

    from sketches_rust_spark.operators.dedup import near_dup_clusters

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (SparkSession.builder.master(f"local[{cpus}]")
             .appName("cc-scale-point")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.ui.enabled", "false")
             .config("spark.driver.memory", "24g")
             .getOrCreate())

    # this script measures the DISTRIBUTED contraction + pointer-jumping
    # trajectory — force the loop even if the contracted remainder would
    # fit the driver-side union-find gate
    pairs = build_pairs(spark)
    t0 = time.perf_counter()
    stats: dict = {}
    clusters = near_dup_clusters(pairs, max_iters=25, stats=stats,
                                 local_edge_cap=0)
    n_clusters = clusters.select("cluster").distinct().count()
    wall = round(time.perf_counter() - t0, 2)

    expect_clusters = sum(c for c, _ in CLIQUE_CLASSES) + sum(
        c for c, _ in CHAINS)
    out = {
        "input_edges_directed": stats["input_edges"],
        "contracted_edges_directed": stats["contracted_edges"],
        "edge_reduction_x": round(
            stats["input_edges"] / max(stats["contracted_edges"], 1), 1),
        "rounds": stats["rounds"],
        "changed_per_round": stats["changed_per_round"],
        "n_clusters": n_clusters,
        "n_clusters_expected": expect_clusters,
        "clusters_ok": n_clusters == expect_clusters,
        "wall_sec": wall,
        "cpus": int(cpus),
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
