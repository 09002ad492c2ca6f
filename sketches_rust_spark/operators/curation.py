"""Corpus-curation operators for training-data pipelines: deterministic
rebalancing, context-window packing, vocabulary statistics, and
overlapping-window chunking.

All are pure-declarative (no Python operators) and driver-oracled
(rebalance/vocab via `curation_stats_surface`; packing + overlapping-window
chunking via `curation_windows_surface`; the sampling hash is the portable
60-bit md5 base hash, dedup._base_hash). split_overlapping_chunks is
additionally pinned by its reconstruction-invariant property test
(tests/test_chunking.py); `chunk_stats` is its exact-content driver proof
(per-chunk text hashes recomputed from scratch in DuckDB).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _base_hash, _duck_base_hash

_HASH_SPACE = float(1 << 60)  # _base_hash is uniform on [0, 2^60)


# -- deterministic per-group rebalancing -------------------------------------------------------

def threshold_sample(df: DataFrame, fracs: dict[str, float],
                     default_frac: float = 1.0,
                     id_col: str = "doc_id",
                     group_col: str = "lang") -> DataFrame:
    """Deterministic per-group Bernoulli downsampling: keep a row iff
    base_hash(id) < frac(group) * 2^60.

    The training-data rebalancing shape (cap the dominant language, keep
    the tail): a pure scan-side FILTER — no shuffle, no sort, no state —
    so it runs at scan speed on 10^12 rows and composes with every other
    operator. Deterministic in the id (re-runs, retries, and different
    partitionings keep exactly the same rows), unlike df.sample() whose
    result depends on the partition layout. Kept fraction is frac in
    expectation; the exact kept SET is reproducible and oracle-checkable.
    """
    return df.where(_base_hash(F.col(id_col).cast("string"))
                    < _threshold_expr(fracs, default_frac, group_col))


def _threshold_expr(fracs: dict[str, float], default_frac: float,
                    group_col: str) -> Column:
    thresh = F.lit(default_frac * _HASH_SPACE)
    for g, frac in fracs.items():
        thresh = F.when(F.col(group_col) == g,
                        F.lit(float(frac) * _HASH_SPACE)).otherwise(thresh)
    return thresh


def rebalance_stats(df: DataFrame, fracs: dict[str, float],
                    default_frac: float = 1.0,
                    id_col: str = "doc_id",
                    group_col: str = "lang") -> DataFrame:
    """(group, n_total, n_kept) under threshold_sample — the rebalancing
    dashboard numbers, one scan."""
    h = _base_hash(F.col(id_col).cast("string"))
    thresh = _threshold_expr(fracs, default_frac, group_col)
    return (df.groupBy(F.col(group_col))
            .agg(F.count(F.lit(1)).alias("n_total"),
                 F.sum((h < thresh).cast("long")).alias("n_kept")))


def rebalance_stats_oracle_sql(table: str, fracs: dict[str, float],
                               default_frac: float = 1.0,
                               id_col: str = "doc_id",
                               group_col: str = "lang") -> str:
    # group values are interpolated as SQL string literals: double any
    # embedded single quote so a value like "pt'BR" cannot break (or
    # inject into) the oracle query
    arms = " ".join(
        f"WHEN {group_col} = '{g.replace(chr(39), chr(39) * 2)}' "
        f"THEN {float(frac) * _HASH_SPACE!r}"
        for g, frac in fracs.items())
    thresh = f"(CASE {arms} ELSE {default_frac * _HASH_SPACE!r} END)"
    h = f"CAST({_duck_base_hash(f'CAST({id_col} AS VARCHAR)')} AS DOUBLE)"
    return f"""
SELECT {group_col}, CAST(count(*) AS BIGINT) AS n_total,
       CAST(sum(CASE WHEN {h} < {thresh} THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM {table}
GROUP BY {group_col}
"""


# -- context-window packing ---------------------------------------------------------------------

def pack_context_windows(df: DataFrame, budget: int,
                         token_expr: str = "size(split(text, ' '))",
                         id_col: str = "doc_id",
                         part_col: str = "lang") -> DataFrame:
    """Budget-quantized sequence packing: assign docs (in id order within
    each partition group) to context windows of ~``budget`` tokens.

    chunk = floor(exclusive-prefix-sum(tokens) / budget) — the
    parallel-friendly variant of greedy packing: one window cumsum per
    group instead of a sequential first-fit scan, each chunk's total
    bounded by budget + max_doc_tokens. Packing runs PER part_col group
    (lang here; (lang, day) in a real pipeline), so the required ordering
    is group-local — no global sort at scale, and a skewed group costs one
    reducer's cumsum, not a cluster-wide barrier.

    Output: (part_col, chunk, n_docs, sum_tokens)."""
    toks = F.expr(token_expr).cast("long")
    w = Window.partitionBy(part_col).orderBy(id_col)
    cum_excl = F.sum(toks).over(w) - toks
    chunk = F.floor(cum_excl / F.lit(budget))
    return (df.select(F.col(part_col), F.col(id_col), toks.alias("_t"),
                      chunk.alias("chunk"))
            .groupBy(part_col, "chunk")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_t").alias("sum_tokens")))


def pack_context_windows_oracle_sql(table: str, budget: int,
                                    token_expr: str =
                                    "len(string_split(text, ' '))",
                                    id_col: str = "doc_id",
                                    part_col: str = "lang") -> str:
    return f"""
WITH toks AS (
  SELECT {part_col}, {id_col}, CAST({token_expr} AS BIGINT) AS t
  FROM {table}
),
cum AS (
  SELECT {part_col}, t,
         sum(t) OVER (PARTITION BY {part_col} ORDER BY {id_col}) - t AS ce
  FROM toks
)
SELECT {part_col}, CAST(floor(ce / {budget}) AS BIGINT) AS chunk,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS sum_tokens
FROM cum
GROUP BY 1, 2
"""


# -- corpus vocabulary statistics -----------------------------------------------------------------

def vocab_stats(df: DataFrame, text_col: str = "text",
                group_col: str = "lang") -> DataFrame:
    """Per-group corpus vocabulary statistics: total token count, distinct
    token count (vocabulary size), and the count of hapax legomena (tokens
    occurring exactly once — the long-tail mass quality signal).

    One explode + one (group, token) aggregate — the aggregation is
    map-side partial on the (group, token) key, so a hot token combines
    per-task before shuffling."""
    tok = (df.select(F.col(group_col),
                     F.explode(F.split(F.col(text_col), " ")).alias("t")))
    per_tok = (tok.groupBy(group_col, "t")
               .agg(F.count(F.lit(1)).alias("c")))
    return (per_tok.groupBy(group_col)
            .agg(F.sum("c").alias("n_tokens"),
                 F.count(F.lit(1)).alias("n_vocab"),
                 F.sum((F.col("c") == 1).cast("long")).alias("n_hapax")))


def vocab_stats_oracle_sql(table: str, text_col: str = "text",
                           group_col: str = "lang") -> str:
    return f"""
WITH tok AS (
  SELECT {group_col}, unnest(string_split({text_col}, ' ')) AS t FROM {table}
),
per_tok AS (
  SELECT {group_col}, t, count(*) AS c FROM tok GROUP BY 1, 2
)
SELECT {group_col},
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_vocab,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
FROM per_tok
GROUP BY {group_col}
"""


# -- overlapping-window chunking ----------------------------------------------------------------

def split_overlapping_chunks(df: DataFrame, chunk_tokens: int = 256,
                             overlap_tokens: int = 32,
                             id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """Long documents -> overlapping token windows for training: chunk i
    starts at ``i * (chunk_tokens - overlap_tokens)`` and spans up to
    ``chunk_tokens`` whitespace tokens, so consecutive chunks share exactly
    ``overlap_tokens`` tokens (the context carry-over). A trailing start
    whose NEW content would be empty (start + overlap_tokens >= n_tokens,
    i.e. the chunk is fully contained in its predecessor) is dropped —
    except start 0, so every non-empty doc yields at least one chunk.
    NULL-text docs yield NO chunks (they vanish from the exploded output;
    count them upstream if missing-doc accounting matters).

    Reconstruction invariant (property-tested): chunk 0 plus each later
    chunk minus its first ``overlap_tokens`` tokens concatenates back to
    the exact original text.

    Pure per-row explode — no shuffle; chunk_id is deterministic, so the
    operation is safely re-runnable (idempotent output keys) in a
    checkpointed pipeline. Output: (id_col, chunk_id, chunk_text,
    n_chunk_tokens).
    """
    if not 0 <= overlap_tokens < chunk_tokens:
        raise ValueError(
            f"need 0 <= overlap_tokens < chunk_tokens, got "
            f"{overlap_tokens} / {chunk_tokens}")
    stride = chunk_tokens - overlap_tokens
    toks = F.when(F.col(text_col).isNull(),
                  F.array().cast("array<string>")
                  ).otherwise(F.split(F.col(text_col), " "))
    n = F.size(toks)
    starts = F.when(n > 0, F.filter(
        F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(stride)),
        lambda s: (s == 0) | (s + overlap_tokens < n))
    ).otherwise(F.array().cast("array<int>"))
    chunks = F.transform(
        starts,
        lambda s, i: F.struct(
            i.alias("chunk_id"),
            F.array_join(F.slice(toks, s + 1, chunk_tokens), " ")
             .alias("chunk_text"),
            F.least(F.lit(chunk_tokens), n - s).alias("n_chunk_tokens")))
    return (df.select(F.col(id_col), F.explode(chunks).alias("_c"))
            .select(id_col, "_c.chunk_id", "_c.chunk_text",
                    "_c.n_chunk_tokens"))


_CHUNK_HASH_MOD = 1 << 40  # sum of 2^40 hashes stays in int64 to ~2^23 chunks/group


def chunk_stats(df: DataFrame, chunk_tokens: int = 24,
                overlap_tokens: int = 8,
                id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Driver-oracle proof surface for split_overlapping_chunks: group docs
    by their chunk COUNT and pin, per group, the doc count, total chunk
    tokens, and a content hash-sum over every (doc, chunk_id, chunk_text)
    triple. The hash (60-bit md5 base hash mod 2^40, summed) pins the EXACT
    text of every chunk — boundaries, the shared ``overlap_tokens`` prefix,
    and the zero-new-content trailing-drop rule all diverge the hash if the
    engine and the from-scratch SQL recomputation disagree on any chunk.

    Output: (n_chunks, n_docs, sum_chunk_tokens, sum_chunk_hash); NULL-text
    docs yield no chunks and so appear in neither side."""
    ch = split_overlapping_chunks(df, chunk_tokens, overlap_tokens,
                                  id_col, text_col)
    h = _base_hash(F.concat_ws(
        ":", F.col(id_col).cast("string"), F.col("chunk_id").cast("string"),
        F.col("chunk_text"))) % F.lit(_CHUNK_HASH_MOD)
    per_doc = (ch.groupBy(id_col)
               .agg(F.count(F.lit(1)).alias("n_chunks"),
                    F.sum("n_chunk_tokens").cast("long").alias("_t"),
                    F.sum(h).alias("_h")))
    return (per_doc.groupBy("n_chunks")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("_t").alias("sum_chunk_tokens"),
                 F.sum("_h").alias("sum_chunk_hash")))


def chunk_stats_oracle_sql(table: str, chunk_tokens: int = 24,
                           overlap_tokens: int = 8,
                           id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    """From-scratch DuckDB recomputation of split_overlapping_chunks +
    chunk_stats: starts = range(0, n, stride) filtered by the drop rule,
    chunk text via 1-based inclusive list slicing (matches F.slice), same
    md5 base hash as the Spark side."""
    stride = chunk_tokens - overlap_tokens
    chunk_key = ("\n               CAST(did AS VARCHAR) || ':' || CAST(cid AS VARCHAR)"
                 "\n               || ':' || ctext")
    return f"""
WITH toks AS (
  SELECT {id_col} AS did, string_split({text_col}, ' ') AS tk,
         len(string_split({text_col}, ' ')) AS n
  FROM {table} WHERE {text_col} IS NOT NULL
),
starts AS (
  SELECT did, tk, n,
         unnest(list_filter(range(0, n, {stride}),
                            s -> s = 0 OR s + {overlap_tokens} < n)) AS s
  FROM toks WHERE n > 0
),
chunks AS (
  SELECT did,
         row_number() OVER (PARTITION BY did ORDER BY s) - 1 AS cid,
         array_to_string(tk[s + 1 : s + {chunk_tokens}], ' ') AS ctext,
         least({chunk_tokens}, n - s) AS nt
  FROM starts
),
per_doc AS (
  SELECT did, count(*) AS n_chunks, sum(nt) AS t,
         sum({_duck_base_hash(chunk_key)}
             % {_CHUNK_HASH_MOD}) AS h
  FROM chunks GROUP BY did
)
SELECT CAST(n_chunks AS BIGINT) AS n_chunks,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(t) AS BIGINT) AS sum_chunk_tokens,
       CAST(sum(h) AS BIGINT) AS sum_chunk_hash
FROM per_doc
GROUP BY n_chunks
"""
