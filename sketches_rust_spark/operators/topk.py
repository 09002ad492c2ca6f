"""Heavy hitters / top-k frequent items at scale.

Two operators:

* ``topk_exact_pruned`` — exact global top-k with candidate pruning
  (threshold-algorithm style): each partition emits its local
  top-(k*fudge) items, the candidate union is exactly recounted with a
  semi-join, and the result is VERIFIED: any non-candidate item's total
  count is bounded by the sum over partitions of each partition's cutoff
  (its (k*fudge)-th local count). If the k-th recounted candidate beats
  that bound the top-k is provably exact; otherwise the operator widens
  the fudge and retries. Zipfian data passes on the first round; at
  10^12 rows the recount semi-join touches only candidate rows.

* ``topk_cms`` — single-pass approximate: global CMS + per-partition
  candidate tracking; estimates are CMS point queries (eps*N overestimate
  bound). Useful when a second pass is impossible (streaming).

The exact variant carries a DuckDB oracle (plain GROUP BY + rank).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sibling_oracle import _ROWS, _km_cell
from .dedup import _base_hash, _duck_base_hash


def _local_ranks(df: DataFrame, cols: list[str]) -> DataFrame:
    """Count ``c`` per (scan partition ``_p``, *cols) and its rank ``_r``
    inside the partition (count desc, item asc)."""
    local = (df.withColumn("_p", F.spark_partition_id())
             .groupBy("_p", *cols).agg(F.count(F.lit(1)).alias("c")))
    w = Window.partitionBy("_p").orderBy(F.desc("c"), F.asc("item"))
    return local.withColumn("_r", F.row_number().over(w))


def _summed(local: DataFrame) -> DataFrame:
    """Exact global count ``cnt`` per item: the sum of its per-partition
    counts, so no recount ever re-scans the raw items."""
    return local.groupBy("item").agg(F.sum("c").cast("long").alias("cnt"))


def _top_k(df: DataFrame, score: str, k: int) -> DataFrame:
    """(item, score, rank) of the k best rows, score desc, item asc.

    orderBy+limit -> TakeOrderedAndProject (each task keeps its local k,
    the driver merges k-heaps) — never an unpartitioned window over all
    rows. The rank window then sees at most k rows; pmod(score, 1) is a
    constant-valued but non-foldable partition key (a bare literal gets
    folded away and WindowExec would warn "No Partition Defined")."""
    order = (F.desc(score), F.asc("item"))
    wk = Window.partitionBy(F.pmod(F.col(score), F.lit(1))).orderBy(*order)
    return (df.orderBy(*order).limit(k)
            .withColumn("rank", F.row_number().over(wk).cast("long"))
            .select("item", score, "rank"))


def _topk_round_plan(ranked_local: DataFrame, k: int, limit: int) -> DataFrame:
    """One pruning round's lazy plan: candidates' exact top-k with the
    cutoff-bound scalar attached to every row.

    ``ranked_local`` is the cached ``_local_ranks`` table — computed ONCE
    outside the loop (the rank does not depend on the round's limit;
    re-deriving the window per round cost a full shuffle+sort of the local
    table each widening). The candidate recount sums it too."""
    candidates = (ranked_local.where(F.col("_r") <= limit)
                  .select("item").distinct())
    # upper bound on any non-candidate item's global count: the sum of each
    # partition's cutoff count (0 if a partition ran out)
    bound = (ranked_local.where(F.col("_r") == limit)
             .agg(F.coalesce(F.sum("c"), F.lit(0)).alias("b")))
    recount = _summed(ranked_local.join(F.broadcast(candidates), "item",
                                        "leftsemi"))
    # one action per round instead of two: attach the scalar bound to every
    # candidate row (broadcast of a 1-row aggregate), so the k result rows
    # and the exactness bound arrive in a single collect
    return _top_k(recount, "cnt", k).crossJoin(F.broadcast(bound))


def topk_exact_pruned(df: DataFrame, item_col: str, k: int,
                      fudge: int = 4, max_rounds: int = 4) -> DataFrame:
    """Exact top-k items by count: (item, cnt, rank), ties broken by item.

    Phase 1 aggregates per (partition, item) locally — Catalyst's map-side
    partial aggregation makes the first groupBy shuffle carry only distinct
    (partition, item) combos; phase 2 recounts only candidate items; phase 3
    checks the threshold-algorithm exactness bound and widens the candidate
    set if it does not hold.

    NEAR-UNIFORM data cannot be certified by pruning at any sane limit: with
    flat counts the bound (sum of per-partition cutoff counts) stays above
    the k-th candidate until the limit covers nearly every distinct item —
    observed on sf1.0 lineitem.l_partkey (6M rows over ~200k near-uniform
    keys), where the pre-round-6 code exhausted max_rounds and RAISED,
    aborting the whole bench. Two fixes: (a) a futility check stops widening
    when doubling the limit moved the bound by <20% (a flat tail — more
    rounds cannot certify), and (b) the terminal fallback is the provably
    exact FULL recount over the cached local aggregate (one exchange of one
    row per distinct (partition, item) — skew-free, no raw-row re-scan),
    never an exception. Zipfian data still certifies on round one and never
    reaches either path. Every recount (pruning rounds AND fallback) sums
    the cached local counts rather than re-scanning the items — exact by
    construction (sum of per-partition counts == global count).
    """
    ranked_local = _local_ranks(df.select(F.col(item_col).alias("item")),
                                ["item"])
    ranked_local.cache()
    try:
        prev_cutoffs = None
        for round_ in range(max_rounds):
            limit = k * fudge * (2 ** round_)
            top_with_bound = _topk_round_plan(ranked_local, k, limit)
            # exactness proof: only the k result rows (each carrying the
            # scalar bound) cross to the driver — ONE action per round
            rows = top_with_bound.collect()
            cutoffs = rows[0]["b"] if rows else 0
            kth = min((r["cnt"] for r in rows), default=0)
            # exact iff no partition hit the candidate limit (every item is a
            # candidate) or the k-th candidate strictly beats the best
            # possible non-candidate total
            if cutoffs == 0 or (len(rows) == k and kth > cutoffs):
                # materialize the VERIFIED rows: returning the lazy plan
                # would re-derive candidates via spark_partition_id() on the
                # caller's action, and a re-execution under different
                # partitioning (AQE, changed parallelism) could produce a
                # candidate set the proof above never covered
                out_schema = top_with_bound.drop("b").schema
                return df.sparkSession.createDataFrame(
                    [r[:-1] for r in rows], out_schema)
            if prev_cutoffs is not None and cutoffs > 0.8 * prev_cutoffs:
                break  # flat tail: widening is futile, go recount exactly
            prev_cutoffs = cutoffs
        # exact fallback: full recount of every item from the cached local
        # aggregate (exchange carries one row per distinct (partition, item))
        top = _top_k(_summed(ranked_local), "cnt", k)
        rows = top.collect()
        return df.sparkSession.createDataFrame(rows, top.schema)
    finally:
        ranked_local.unpersist()


def topk_exact_oracle_sql(table: str, item_expr: str, k: int,
                          where: str = "") -> str:
    wh = f"WHERE ({where})" if where else ""
    return f"""
WITH counted AS (
  SELECT {item_expr} AS item, count(*) AS cnt FROM {table} {wh} GROUP BY 1
),
ranked AS (
  SELECT item, cnt,
         row_number() OVER (ORDER BY cnt DESC, item ASC) AS rank
  FROM counted
)
SELECT item, cnt, rank FROM ranked WHERE rank <= {k}
"""


def topk_cms(df: DataFrame, item_col: str, k: int,
             depth: int = 5, width: int = 8192) -> DataFrame:
    """Single-pass approximate top-k: per-partition candidate top items with
    CMS-estimated global counts (overestimate-bounded by eps*N).

    Items hash through the portable md5 base hash (dedup._base_hash), so the
    CMS counters — and therefore the estimates — are exactly reproducible in
    the DuckDB oracle (``topk_cms_oracle_sql``). The result is deterministic
    (partitioning-independent) whenever every partition holds at most 2k
    distinct items, since then every present item is a candidate everywhere;
    the oracled driver query satisfies this by construction (5 langs, k>=3).
    """
    from ..functions.sketch_udafs import (
        cms_adapter, cms_point_estimate, sketch_aggregate)

    hashed = df.select(F.col(item_col).cast("string").alias("item"))
    hashed = hashed.withColumn("_h", _base_hash(F.col("item")))
    cms = sketch_aggregate(hashed, "_h", [], cms_adapter(depth, width, "pre"))
    candidates = (_local_ranks(hashed, ["item", "_h"])
                  .where(F.col("_r") <= k * 2)
                  .select("item", "_h").distinct())
    est = (candidates.crossJoin(F.broadcast(cms.select("sketch")))
           .select("item", cms_point_estimate("sketch", "_h").alias("est")))
    return _top_k(est, "est", k)


def topk_cms_oracle_sql(table: str, item_expr: str, k: int,
                        depth: int, width: int) -> str:
    """Exact DuckDB replica of topk_cms: same md5 base hash, same
    Kirsch-Mitzenmacher cells, same min-over-rows point estimate — assumes
    every distinct item is a candidate (see topk_cms determinism note)."""
    idx, rows = _km_cell(width), _ROWS.format(n=depth)
    return f"""
WITH hashed AS (
  SELECT CAST({item_expr} AS VARCHAR) AS item,
         {_duck_base_hash(f'CAST({item_expr} AS VARCHAR)')} AS h
  FROM {table}
),
cells AS (
  SELECT r.i AS row_i, {idx} AS idx, count(*) AS c
  FROM hashed, {rows}
  GROUP BY 1, 2
),
items AS (SELECT DISTINCT item, h FROM hashed),
probe_cells AS (
  SELECT item, r.i AS row_i, {idx} AS idx
  FROM items, {rows}
),
ests AS (
  SELECT item, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
  FROM probe_cells p LEFT JOIN cells c USING (row_i, idx)
  GROUP BY item
),
ranked AS (
  SELECT item, est, row_number() OVER (ORDER BY est DESC, item ASC) AS rank
  FROM ests
)
SELECT item, est, rank FROM ranked WHERE rank <= {k}
"""
