"""Similarity search and near-duplicate detection over an embedding column
(array<float>).

* brute-force cosine top-k — baseline; broadcast the (small) probe set and
  score every row with built-in array functions (F.zip_with / F.aggregate,
  JVM-side, no UDF). Plan: one scan, no shuffle except the final top-k.
* random-hyperplane LSH (SimHash-for-vectors) — the scale path: bucket rows
  by an nbits-bit sign signature against fixed pseudo-random hyperplanes,
  search only the probe's bucket (plus optional multi-probe neighbors).
  Hyperplane coefficients derive from SplitMix64, so signatures are
  deterministic and oracle-reproducible.
* IVF (inverted file) — md5-seeded centroids; each row is assigned to its
  nearest centroid and each probe scores only its n_probe nearest clusters.
* embedding near-duplicates — pairs whose LSH signatures lie within a
  Hamming ball, scored with exact cosine (embedding_near_dup_pairs), and
  the daily-ingest filter that checks a new shard against a persisted,
  signature-partitioned corpus (incremental_near_dup_filter).

Every operator scores candidate pairs with ONE cosine (`_scored`: the
sequential-fold dot product over precomputed norms, rounded to 6 digits),
and every top-k operator ends in ONE per-probe rank (`_top_k`). The DuckDB
oracles likewise share the signature CTEs (`_sql_sigs`) and the rank tail
(`_SQL_RANKED`).

Float caveat: cosine sums are order-sensitive at the last ulp; scores are
rounded to 6 digits and ties broken by vec_id, which makes top-k stable and
exactly cross-engine comparable on the fixed test data.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..kernel.bits import splitmix64
from .dedup import _base_hash, _duck_base_hash


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _seq_dot_np(mat_a: np.ndarray, mat_b: np.ndarray) -> np.ndarray:
    """Row-wise dot product with the SAME floating-point result as the
    JVM fold `aggregate(zip_with(a, b, *), 0.0, +)` / DuckDB list_reduce:
    cumsum accumulates strictly left-to-right, so every partial sum matches
    the sequential fold bit-for-bit (numpy's pairwise `sum`/`dot` would
    not). Used by the vectorized candidate scorers; equality with the
    expression path is pinned in tests."""
    return np.cumsum(mat_a * mat_b, axis=1, dtype=np.float64)[:, -1]


def _f64(col: str) -> Column:
    return F.col(col).cast("array<double>")


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


# Higher-order array functions (zip_with/aggregate) evaluate interpreted,
# not codegen'd, so per-PAIR work dominates scoring cost. Every operator
# below therefore precomputes each side's norm ONCE PER VECTOR (numerically
# identical to folding it per pair — same fold over the same array) and
# spends only the dot-product fold per pair: measured ~30% faster at sf0.1
# and 3x less lambda work per candidate at scale. (A fully unrolled
# element_at dot was measured SLOWER — the 64-term expression tree defeats
# codegen.)
def _scored(cand: DataFrame, id_col: str, vec_col: str, probe_id_col: str,
            probe_vec_col: str, *keep: str) -> DataFrame:
    """(*keep, probe_id, vec_id, score) per candidate pair. The pair must
    carry the row's norm as `_nv` and the probe's as `_np`; the score is
    their cosine rounded to 6 digits."""
    dot = _dot(_f64(vec_col), _f64(probe_vec_col))
    return cand.select(*keep, F.col(probe_id_col).alias("probe_id"),
                       F.col(id_col).alias("vec_id"),
                       F.round(dot / (F.col("_nv") * F.col("_np")), 6)
                       .alias("score"))


def _top_k(scored: DataFrame, k: int, by: tuple = ("probe_id",)) -> DataFrame:
    """The k best rows per ``by`` key, ranked 1..k by (score desc, vec_id
    asc) in a long ``rank`` column."""
    w = Window.partitionBy(*by).orderBy(F.desc("score"), F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .where(F.col("rank") <= k))


def brute_force_topk(df: DataFrame, probes: DataFrame, k: int,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     probe_id_col: str = "probe_id",
                     probe_vec_col: str = "probe_vec") -> DataFrame:
    """Exact cosine top-k per probe: (probe_id, vec_id, score, rank).

    The probe set is broadcast (it is small by construction); scoring is a
    single pass over df with whole-stage-codegen array arithmetic. The top-k
    then runs in TWO bounded window stages:

    1. local top-k per (input partition, probe): the window's exchange
       spreads the n x p scored rows over partitions x probes keys, so no
       reducer ever sorts more than one partition's rows. (A single window
       partitioned by probe_id would funnel the entire scored set into p
       reducer partitions — the thing that falls over at 100x.)
    2. global per-probe rank over the survivors — the only per-probe
       shuffle, bounded at partitions x probes x k rows.

    The result is partition-layout-invariant: every true global top-k row is
    by definition inside its own partition's local top-k, for ANY layout.

    This is still the exact scorer — O(n x p) dot products by definition.
    For sublinear per-query cost use lsh_topk / ivf_topk (the scale paths).
    """
    d = df.select(F.col(id_col), _f64(vec_col).alias("_v"),
                  _norm(_f64(vec_col)).alias("_nv"),
                  F.spark_partition_id().alias("_part"))
    p = probes.select(F.col(probe_id_col), _f64(probe_vec_col).alias("_p"),
                      _norm(_f64(probe_vec_col)).alias("_np"))
    cand = (d.crossJoin(F.broadcast(p))
            .where(F.col(id_col) != F.col(probe_id_col)))
    scored = _scored(cand, id_col, "_v", probe_id_col, "_p", "_part")
    survivors = _top_k(scored, k, ("_part", "probe_id")).drop("rank", "_part")
    return _top_k(survivors, k)


def hyperplanes(dim: int, nbits: int) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes in {-1,+1}^dim derived from
    SplitMix64 — reproducible in SQL (sign of splitmix64(b*dim+j) top bit)."""
    idx = np.arange(nbits * dim, dtype=np.uint64)
    bits = (splitmix64(idx) >> np.uint64(63)).astype(np.int64)
    return (2 * bits - 1).reshape(nbits, dim).astype(np.float64)


def lsh_signature_col(vec: Column, planes: np.ndarray) -> Column:
    """nbits-bit signature as a long: bit b = 1 iff dot(vec, plane_b) > 0.
    Pure expression (sum of +-vec components), JVM-side.

    Plan size: the coefficients travel as ONE array literal per bit
    (F.lit(list) -> a single Literal node), so the expression tree is
    O(nbits) nodes regardless of dim — no nbits x dim literal blowup at
    real embedding widths (768-dim x 16 bits is 16 nodes, not 12k)."""
    nbits, dim = planes.shape
    flat = F.lit([float(c) for c in planes.reshape(-1)])
    vd = vec.cast("array<double>")
    sig = F.lit(0).cast("long")
    for b in range(nbits):
        coeffs = F.slice(flat, b * dim + 1, dim)
        dot = F.aggregate(F.zip_with(vd, coeffs, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, v: acc + v)
        sig = sig + F.when(dot > 0, F.shiftleft(F.lit(1).cast("long"), b)
                           ).otherwise(F.lit(0).cast("long"))
    return sig


def probe_masks(nbits: int, multi_probe: int) -> list[int]:
    """XOR masks for every bucket within Hamming distance ``multi_probe`` of
    a signature (including the signature itself, mask 0)."""
    import itertools
    masks = [0]
    for d in range(1, multi_probe + 1):
        for combo in itertools.combinations(range(nbits), d):
            masks.append(sum(1 << b for b in combo))
    return masks


def _flip_buckets(sig: str, nbits: int, multi_probe: int) -> Column:
    """Explode a signature into every bucket within Hamming distance
    ``multi_probe`` of it (itself included): one output row per bucket."""
    return F.explode(F.array(*[F.col(sig).bitwiseXOR(F.lit(m).cast("long"))
                               for m in probe_masks(nbits, multi_probe)]))


def with_lsh_signature(df: DataFrame, vec_col: str, dim: int, nbits: int,
                       sig_col: str = "_sig") -> DataFrame:
    """Attach the deterministic LSH signature column. Precompute this once
    and persist (see write_bucketed_signatures) so each ANN query becomes a
    few single-bucket lookups instead of a full-table signature pass."""
    planes = hyperplanes(dim, nbits)
    return df.withColumn(sig_col, lsh_signature_col(F.col(vec_col), planes))


def _with_sig(df: DataFrame, vec_col: str, dim: int, nbits: int,
              sig_col: str | None) -> DataFrame:
    """df with its signature as `_sig`: computed here, or copied from the
    precomputed column ``sig_col``."""
    if sig_col is None:
        return with_lsh_signature(df, vec_col, dim, nbits)
    return df.withColumn("_sig", F.col(sig_col))


def write_bucketed_signatures(df: DataFrame, path: str, table: str,
                              vec_col: str, dim: int, nbits: int,
                              num_buckets: int = 256) -> None:
    """Persist the corpus with precomputed signatures, bucketed+sorted by
    signature: probe joins against the saved table are co-located by bucket
    (no shuffle of the corpus side), which is the 10^12-row query shape."""
    (with_lsh_signature(df, vec_col, dim, nbits)
     .write.mode("overwrite").format("parquet")
     .bucketBy(num_buckets, "_sig").sortBy("_sig")
     .option("path", path).saveAsTable(table))


def lsh_topk(df: DataFrame, probes: DataFrame, k: int, nbits: int = 12,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_id_col: str = "probe_id", probe_vec_col: str = "probe_vec",
             dim: int | None = None, multi_probe: int = 1,
             sig_col: str | None = None) -> DataFrame:
    """Approximate top-k: score only rows whose LSH bucket matches the
    probe's bucket, plus every bucket within Hamming distance
    ``multi_probe`` of it (near neighbors most often differ by a few
    hyperplane signs; probing the flip buckets recovers recall lost to
    quantization at the cost of sum_d C(nbits, d) extra bucket lookups).

    dim must be given explicitly (array columns carry no length in the
    schema, and inferring it would run a driver-side job inside query
    construction). sig_col: name of a precomputed signature column on df
    (see with_lsh_signature / write_bucketed_signatures) — pass it at scale
    so the corpus-side signature pass happens once, not per query."""
    if dim is None:
        raise ValueError(
            "lsh_topk requires dim= (the embedding width); array schemas "
            "carry no length and inferring it would run a driver-side job")
    data = (_with_sig(df, vec_col, dim, nbits, sig_col)
            .withColumn("_nv", _norm(_f64(vec_col))))
    probe_sig = (with_lsh_signature(probes, probe_vec_col, dim, nbits, "_psig")
                 .withColumn("_psig", _flip_buckets("_psig", nbits, multi_probe))
                 .withColumn("_np", _norm(_f64(probe_vec_col))))
    cand = (data.join(F.broadcast(probe_sig), F.col("_sig") == F.col("_psig"))
            .where(F.col(id_col) != F.col(probe_id_col))
            .dropDuplicates([probe_id_col, id_col]))
    return _top_k(_scored(cand, id_col, vec_col, probe_id_col, probe_vec_col), k)


# -- IVF (inverted-file) ANN ------------------------------------------------------

def ivf_centroids(df: DataFrame, n_centroids: int,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding") -> DataFrame:
    """Deterministic pseudo-random centroid sample: the n_centroids vectors
    whose portable md5 base hash of the id is smallest (reproducible in the
    DuckDB oracle; no RNG state, no driver-side job). Output:
    (c, cvec) with c = dense centroid index in hash order.

    At real scale you would k-means-refine these seeds; the seed selection
    itself is already the deterministic, shuffle-light part (TakeOrdered of
    n_centroids rows)."""
    hashed = df.select(F.col(id_col).alias("_cid"),
                       F.col(vec_col).alias("cvec"),
                       _base_hash(F.col(id_col).cast("string")).alias("_h"))
    top = hashed.orderBy("_h", "_cid").limit(n_centroids)
    w = Window.partitionBy(F.pmod(F.col("_h"), F.lit(1))).orderBy("_h", "_cid")
    return (top.withColumn("c", (F.row_number().over(w) - 1).cast("long"))
            .select("c", "cvec"))


def ivf_assign(df: DataFrame, centroids: DataFrame,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, cluster): nearest centroid by cosine, ties broken by smaller
    centroid index. Scoring is a broadcast cross-join with JVM array
    arithmetic — the standard IVF build cost of n_rows x n_centroids dot
    products, with no Python and no shuffle of the corpus."""
    vd = _f64(vec_col)
    cd = _f64("cvec")
    d = df.select(F.col(id_col).alias("_id"), F.col(vec_col),
                  _norm(vd).alias("_nv"))
    cents = centroids.withColumn("_nc", _norm(cd))
    scored = (d.crossJoin(F.broadcast(cents))
              .select("_id", "c", (_dot(vd, cd)
                                   / (F.col("_nv") * F.col("_nc"))).alias("_s")))
    # argmax by (score desc, centroid asc): max of struct(s, -c)
    best = (scored.groupBy("_id")
            .agg(F.max(F.struct(F.col("_s"), (-F.col("c")).alias("_negc"))).alias("_m"))
            .select("_id", (-F.col("_m._negc")).alias("cluster")))
    return best


def ivf_topk(df: DataFrame, probes: DataFrame, k: int,
             n_centroids: int = 16, n_probe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             probe_id_col: str = "probe_id",
             probe_vec_col: str = "probe_vec") -> DataFrame:
    """IVF approximate top-k: (probe_id, vec_id, score, rank).

    The scale path: corpus rows are assigned once to their nearest centroid
    (persist the assignment / partition the table by cluster in production);
    each query scores only the rows in its n_probe nearest clusters —
    n_probe/n_centroids of the corpus instead of all of it. Everything is
    deterministic (md5-hash centroid seeds, sequential-fold cosine), so the
    whole pipeline has an exact DuckDB oracle."""
    cents = ivf_centroids(df, n_centroids, id_col, vec_col)
    pv = _f64(probe_vec_col)
    assigned = (df.join(ivf_assign(df, cents, id_col, vec_col),
                        F.col(id_col) == F.col("_id"))
                .drop("_id")
                .withColumn("_nv", _norm(_f64(vec_col))))
    # probe-side: top n_probe clusters per probe by centroid cosine
    # (probes x centroids is tiny — the plain per-pair cosine is fine here)
    pscore = (probes.crossJoin(F.broadcast(cents))
              .select(probe_id_col, probe_vec_col, "c",
                      cosine(pv, _f64("cvec")).alias("_s")))
    wp = Window.partitionBy(probe_id_col).orderBy(F.desc("_s"), F.asc("c"))
    probed = (pscore.withColumn("_r", F.row_number().over(wp))
              .where(F.col("_r") <= n_probe)
              .select(probe_id_col, probe_vec_col,
                      F.col("c").alias("cluster"))
              .withColumn("_np", _norm(pv)))
    cand = (assigned.join(F.broadcast(probed), "cluster")
            .where(F.col(id_col) != F.col(probe_id_col)))
    return _top_k(_scored(cand, id_col, vec_col, probe_id_col, probe_vec_col), k)


def ivf_topk_oracle_sql(table: str, probe_ids: list[int], k: int,
                        n_centroids: int = 16, n_probe: int = 4,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> str:
    """Exact replica of ivf_topk: same centroid seeds (md5 base hash order),
    same sequential-fold cosine, same argmax/rank tie-breaks."""

    def dot(a_vec: str, b_vec: str) -> str:
        return (f"list_reduce(list_transform(range(1, len({a_vec}) + 1), "
                f"i -> CAST({a_vec}[i] AS DOUBLE) * {b_vec}[i]), (a, b) -> a + b)")

    def norm(vec: str) -> str:
        return (f"sqrt(list_reduce(list_transform(CAST({vec} AS DOUBLE[]), "
                f"x -> x * x), (a, b) -> a + b))")

    cos_dc = (f"{dot(f'd.{vec_col}', 'ct.cv')} / "
              f"({norm(f'd.{vec_col}')} * {norm('ct.cv')})")
    cos_pc = (f"{dot('p.pv', 'ct.cv')} / ({norm('p.pv')} * {norm('ct.cv')})")
    seed_order = _duck_base_hash(f"CAST({id_col} AS VARCHAR)")
    cos_dp = (f"round({dot(f'd.{vec_col}', 'p.pv')} / "
              f"({norm(f'd.{vec_col}')} * {norm('p.pv')}), 6)")
    return f"""
WITH cents AS (
  SELECT row_number() OVER (
           ORDER BY {seed_order},
                    {id_col}) - 1 AS c,
         CAST({vec_col} AS DOUBLE[]) AS cv
  FROM {table}
  ORDER BY {seed_order}, {id_col}
  LIMIT {n_centroids}
),
assigned AS (
  SELECT vid, cluster FROM (
    SELECT d.{id_col} AS vid, ct.c AS cluster,
           row_number() OVER (PARTITION BY d.{id_col}
                              ORDER BY {cos_dc} DESC, ct.c ASC) AS rr
    FROM {table} d, cents ct
  ) WHERE rr = 1
),
{_sql_probes(table, probe_ids, id_col, vec_col)},
probed AS (
  SELECT probe_id, pv, cluster FROM (
    SELECT p.probe_id, p.pv, ct.c AS cluster,
           row_number() OVER (PARTITION BY p.probe_id
                              ORDER BY {cos_pc} DESC, ct.c ASC) AS rr
    FROM p, cents ct
  ) WHERE rr <= {n_probe}
),
scored AS (
  SELECT p.probe_id, d.{id_col} AS vec_id, {cos_dp} AS score
  FROM probed p
  JOIN assigned a ON a.cluster = p.cluster
  JOIN {table} d ON d.{id_col} = a.vid
  WHERE d.{id_col} <> p.probe_id
),
{_SQL_RANKED.format(k=k)}"""


def embedding_near_dup_pairs(df: DataFrame, threshold: float, dim: int,
                             nbits: int = 8, multi_probe: int = 1,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             sig_col: str | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a, id_b, cosine) for every
    candidate pair with cosine >= threshold.

    The scale shape: candidates are generated by a BUCKETED self-join —
    pairs whose LSH signatures lie within Hamming distance ``multi_probe``
    (one side explodes its signature into the flip buckets; the join is
    keyed on the exact bucket value, so cost is bucket-local quadratic, not
    all-pairs). Exact cosine is then computed only for candidates. A pair
    (a, b) matches exactly one mask (the mask is sa XOR sb), so the join
    produces no duplicates. Recall is the LSH recall at the chosen
    nbits/multi_probe — this is the approximate operator; the exact verifier
    at test scale is the brute-force oracle with the same Hamming-ball
    candidate rule.

    sig_col: name of a precomputed signature column (with_lsh_signature /
    write_bucketed_signatures, same dim/nbits) — pass it at scale so the
    signature pass happens once, not per dedup run.

    Scoring is BUCKET-LOCAL vectorized numpy (guide §4.2): the two sides
    are cogrouped by bucket and each group's chunked pairwise cosine matrix
    is computed in one numpy pass. Two measured alternatives lose badly on
    a near-dup-dense corpus (sf1.0: 20k vectors -> ~22M candidate pairs):
    the interpreted higher-order fold costs ~8 us/pair (172 s, pure
    expression evaluation), and a per-candidate-row numpy scorer ships BOTH
    64-dim vectors on every candidate row (~1 KB/row, ~22 GB through
    Arrow; 122 s). The cogroup ships each vector once per bucket membership
    (1 + |masks| copies total) and emits only (id_a, id_b, cos) rows. The
    numpy dot accumulates strictly left-to-right (`_seq_dot_np` cumsum), so
    the raw cosine is bit-identical to the expression fold (pinned in
    tests/test_sibling_spark.py); rounding and thresholding stay
    Spark-side, unchanged."""
    sigs = _with_sig(df, vec_col, dim, nbits, sig_col)
    a = sigs.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("_va"),
                    _flip_buckets("_sig", nbits, multi_probe).alias("_sb"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("_vb"),
                    F.col("_sig").alias("_sb"))
    id_type = df.schema[id_col].dataType.simpleString()

    def score_bucket(left, right):
        import pandas as pd
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64"),
                              "_cos": pd.Series(dtype="float64")})
        if not len(left) or not len(right):
            return empty
        ids_a = left["id_a"].to_numpy()
        ids_b = right["id_b"].to_numpy()
        ma = np.vstack(left["_va"].to_numpy()).astype(np.float64)
        mb = np.vstack(right["_vb"].to_numpy()).astype(np.float64)
        # norms via the same sequential fold as the JVM _norm expression
        na = np.sqrt(_seq_dot_np(ma, ma))
        nb = np.sqrt(_seq_dot_np(mb, mb))
        out_a, out_b, out_c = [], [], []
        # chunk the a-side so the (chunk x nb x dim) product tensor stays
        # ~tens of MB even for a hot bucket
        chunk = max(1, 4_000_000 // max(1, len(ids_b) * ma.shape[1]))
        for s in range(0, len(ids_a), chunk):
            ca, cna, cid = ma[s:s + chunk], na[s:s + chunk], ids_a[s:s + chunk]
            prods = ca[:, None, :] * mb[None, :, :]
            dots = np.cumsum(prods, axis=2, dtype=np.float64)[:, :, -1]
            cos = dots / (cna[:, None] * nb[None, :])
            keep = cid[:, None] < ids_b[None, :]
            ai, bi = np.nonzero(keep)
            out_a.append(cid[ai]); out_b.append(ids_b[bi])
            out_c.append(cos[ai, bi])
        return pd.DataFrame({"id_a": np.concatenate(out_a),
                             "id_b": np.concatenate(out_b),
                             "_cos": np.concatenate(out_c)})

    scored = (a.groupby("_sb").cogroup(b.groupby("_sb"))
              .applyInPandas(score_bucket,
                             schema=f"id_a {id_type}, id_b {id_type}, "
                                    "_cos double"))
    return (scored.select("id_a", "id_b",
                          F.round(F.col("_cos"), 6).alias("cosine"))
            .where(F.col("cosine") >= threshold))


def embedding_near_dup_oracle_sql(table: str, threshold: float, dim: int,
                                  nbits: int = 8, multi_probe: int = 1,
                                  id_col: str = "vec_id",
                                  vec_col: str = "embedding") -> str:
    """Exact replica: a pair is a candidate iff its signatures are within
    Hamming distance multi_probe (equivalent to the exploded-bucket join),
    scored with the same sequential-fold cosine."""
    return f"""{_sql_sigs(table, dim, nbits, id_col, vec_col)}
cand AS (
  SELECT a.vid AS id_a, b.vid AS id_b
  FROM sigs a JOIN sigs b
    ON a.vid < b.vid AND bit_count(xor(a.sig, b.sig)) <= {multi_probe}
),
scored AS (
  SELECT c.id_a, c.id_b,
         round(
           list_reduce(list_transform(range(1, {dim} + 1),
                       i -> CAST(da.{vec_col}[i] AS DOUBLE) * CAST(db.{vec_col}[i] AS DOUBLE)), (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(CAST(da.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(CAST(db.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))), 6) AS cosine
  FROM cand c
  JOIN {table} da ON da.{id_col} = c.id_a
  JOIN {table} db ON db.{id_col} = c.id_b
)
SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold!r}
"""


def write_partitioned_signatures(df: DataFrame, path: str, table: str,
                                 vec_col: str, dim: int, nbits: int) -> None:
    """Persist the corpus with precomputed signatures, PARTITIONED by the
    signature value (2^nbits directories; nbits is small for dedup buckets,
    so this is 64-256 partitions each holding a large slice — the layout
    that lets an incremental run read only the buckets a new shard
    touches, via partition pruning, instead of rescanning the corpus)."""
    (with_lsh_signature(df, vec_col, dim, nbits)
     .write.mode("overwrite").format("parquet")
     .partitionBy("_sig")
     .option("path", path).saveAsTable(table))


def incremental_near_dup_filter(new_shard: DataFrame, corpus: DataFrame,
                                threshold: float, dim: int,
                                nbits: int = 6, multi_probe: int = 1,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> DataFrame:
    """Daily-ingest dedup: keep only new-shard rows with NO near-duplicate
    (same Hamming-ball bucket rule + cosine >= threshold as
    embedding_near_dup_pairs) in the PERSISTED corpus. Returns the
    surviving (vec_id) rows.

    ``corpus`` should be a table written by write_partitioned_signatures —
    it already carries ``_sig`` and is partitioned by it, so the join on
    the signature prunes corpus partitions to exactly the buckets the new
    shard probes (the corpus text/vectors outside those buckets are never
    read). The new shard (small side) computes its signatures fresh and is
    broadcast after exploding its probe masks."""
    probe = (with_lsh_signature(new_shard, vec_col, dim, nbits)
             .select(F.col(id_col).alias("_nid"), F.col(vec_col).alias("_vn"),
                     _norm(_f64(vec_col)).alias("_np"),
                     _flip_buckets("_sig", nbits, multi_probe).alias("_sig")))
    # broadcast the exploded new shard; the corpus scan joins on its
    # partition column -> dynamic partition pruning limits the scan to
    # the probed buckets (plan-asserted in tests). Corpus norm is computed
    # once per corpus ROW before the join (not per candidate pair — the
    # interpreted fold is the expensive part; see module header).
    cand = (corpus.withColumn("_nv", _norm(_f64(vec_col)))
            .join(F.broadcast(probe), "_sig")
            .where(F.col(id_col) != F.col("_nid")))
    dup_ids = (_scored(cand, id_col, vec_col, "_nid", "_vn")
               .where(F.col("score") >= threshold)
               .select(F.col("probe_id").alias(id_col)).distinct())
    return (new_shard.select(id_col)
            .join(dup_ids, id_col, "left_anti")
            .select(F.col(id_col).cast("long").alias(id_col)))


def incremental_near_dup_oracle_sql(table: str, new_pred: str,
                                    threshold: float, dim: int,
                                    nbits: int = 6, multi_probe: int = 1,
                                    id_col: str = "vec_id",
                                    vec_col: str = "embedding") -> str:
    """Exact replica of incremental_near_dup_filter over one base table
    split by ``new_pred`` (rows satisfying it = the new shard, the rest =
    the persisted corpus): a new row survives iff no corpus row lies within
    Hamming distance multi_probe of its signature with cosine >= threshold."""
    return f"""{_sql_sigs(table, dim, nbits, id_col, vec_col, new_pred)}
dups AS (
  SELECT DISTINCT n.vid
  FROM sigs n
  JOIN sigs c ON NOT c.is_new AND n.is_new AND n.vid != c.vid
             AND bit_count(xor(n.sig, c.sig)) <= {multi_probe}
  JOIN {table} dn ON dn.{id_col} = n.vid
  JOIN {table} dc ON dc.{id_col} = c.vid
  WHERE round(
          list_reduce(list_transform(range(1, {dim} + 1),
            i -> CAST(dc.{vec_col}[i] AS DOUBLE) * CAST(dn.{vec_col}[i] AS DOUBLE)), (a, b) -> a + b)
          / (sqrt(list_reduce(list_transform(CAST(dc.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))
             * sqrt(list_reduce(list_transform(CAST(dn.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))), 6)
        >= {threshold!r}
)
SELECT s.vid AS {id_col}
FROM sigs s
WHERE s.is_new AND s.vid NOT IN (SELECT vid FROM dups)
"""


def make_probes(spark: SparkSession, df: DataFrame, probe_ids: list[int],
                id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    return (df.where(F.col(id_col).isin(probe_ids))
            .select(F.col(id_col).alias("probe_id"),
                    F.col(vec_col).alias("probe_vec")))


# -- DuckDB oracle ----------------------------------------------------------------

# The per-probe rank every top-k oracle ends with; `scored` holds
# (probe_id, vec_id, score). Format with k.
_SQL_RANKED = """ranked AS (
  SELECT probe_id, vec_id, score,
         row_number() OVER (PARTITION BY probe_id ORDER BY score DESC, vec_id ASC) AS rank
  FROM scored
)
SELECT probe_id, vec_id, score, rank FROM ranked WHERE rank <= {k}
"""


def _sql_sigs(table: str, dim: int, nbits: int, id_col: str, vec_col: str,
              new_pred: str | None = None) -> str:
    """The WITH clause's `planes`, `planes_list` and `sigs` CTEs: sigs is
    (vid, sig) per row of ``table``, plus ``is_new`` = new_pred when given.
    The hyperplanes are rebuilt from SplitMix64 (sign = top bit of
    splitmix64(b*dim + j), see hyperplanes()) via the HUGEINT-limb SQL
    port, and each per-bit dot product folds in the same sequential order
    as F.aggregate."""
    from ..functions.sibling_oracle import splitmix64_sql

    sm = splitmix64_sql("CAST(bj AS UBIGINT)")
    is_new = "" if new_pred is None else f", ({new_pred}) AS is_new"
    group_new = "" if new_pred is None else f", ({new_pred})"
    return f"""
WITH planes AS (
  SELECT bj // {dim} AS b, bj % {dim} AS j,
         CASE WHEN ({sm}) >= 9223372036854775808 THEN 1.0 ELSE -1.0 END AS w
  FROM (SELECT unnest(range(0, {nbits * dim})) AS bj)
),
planes_list AS (SELECT b, list(w ORDER BY j) AS ws FROM planes GROUP BY b),
sigs AS (
  SELECT d.{id_col} AS vid{is_new},
         CAST(sum(CASE WHEN list_reduce(
                 list_transform(range(1, {dim} + 1),
                                i -> CAST(d.{vec_col}[i] AS DOUBLE) * p.ws[i]),
                 (a, b) -> a + b) > 0
               THEN 1 << p.b ELSE 0 END) AS BIGINT) AS sig
  FROM {table} d, planes_list p
  GROUP BY d.{id_col}{group_new}
),"""


def _sql_probes(table: str, probe_ids: list[int], id_col: str,
                vec_col: str) -> str:
    """The `p` CTE: (probe_id, pv) for each probe row of ``table``."""
    probes = ", ".join(str(int(p)) for p in probe_ids)
    return f"""p AS (
  SELECT {id_col} AS probe_id, CAST({vec_col} AS DOUBLE[]) AS pv
  FROM {table} WHERE {id_col} IN ({probes})
)"""


def lsh_topk_oracle_sql(table: str, probe_ids: list[int], k: int,
                        nbits: int, dim: int, multi_probe: int = 1,
                        id_col: str = "vec_id",
                        vec_col: str = "embedding") -> str:
    """Exact oracle for lsh_topk: rebuilds the signatures (`_sql_sigs`),
    reproduces the multi-probe bucket set, and scores candidates with the
    brute-force cosine CTE."""
    probes = ", ".join(str(int(p)) for p in probe_ids)
    masks = ", ".join(str(m) for m in probe_masks(nbits, multi_probe))
    return f"""{_sql_sigs(table, dim, nbits, id_col, vec_col)}
probe_buckets AS (
  SELECT s.vid AS probe_id, xor(s.sig, m.mask) AS bsig
  FROM sigs s, (SELECT unnest([{masks}]) AS mask) m
  WHERE s.vid IN ({probes})
),
cand AS (
  SELECT DISTINCT pb.probe_id, s.vid AS vec_id
  FROM probe_buckets pb JOIN sigs s ON s.sig = pb.bsig
  WHERE s.vid <> pb.probe_id
),
pv AS (
  SELECT {id_col} AS pid, CAST({vec_col} AS DOUBLE[]) AS v
  FROM {table} WHERE {id_col} IN ({probes})
),
scored AS (
  SELECT c.probe_id, c.vec_id,
         round(
           list_reduce(list_transform(range(1, len(d.{vec_col}) + 1),
                       i -> CAST(d.{vec_col}[i] AS DOUBLE) * pv.v[i]), (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(CAST(d.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(pv.v, x -> x * x), (a, b) -> a + b))), 6) AS score
  FROM cand c
  JOIN {table} d ON d.{id_col} = c.vec_id
  JOIN pv ON pv.pid = c.probe_id
),
{_SQL_RANKED.format(k=k)}"""


def brute_force_topk_oracle_sql(table: str, probe_ids: list[int], k: int,
                                id_col: str = "vec_id",
                                vec_col: str = "embedding") -> str:
    """Exact oracle: sequential-fold dot product via list_transform+unnest
    ordered sum would not pin order, so we use the same fold shape —
    list_reduce is sequential in DuckDB, matching Spark's F.aggregate fold.
    """
    return f"""
WITH {_sql_probes(table, probe_ids, id_col, vec_col)},
scored AS (
  SELECT p.probe_id, d.{id_col} AS vec_id,
         round(
           list_reduce(list_transform(range(1, len(d.{vec_col}) + 1),
                       i -> CAST(d.{vec_col}[i] AS DOUBLE) * pv[i]), (a, b) -> a + b)
           / (sqrt(list_reduce(list_transform(CAST(d.{vec_col} AS DOUBLE[]), x -> x * x), (a, b) -> a + b))
              * sqrt(list_reduce(list_transform(pv, x -> x * x), (a, b) -> a + b))), 6) AS score
  FROM {table} d, p
  WHERE d.{id_col} <> p.probe_id
),
{_SQL_RANKED.format(k=k)}"""
