"""Correctness proofs: each engine query declared once, with its oracle.

``PROOFS`` maps a proof name to ``(query, oracle_sql)``. The query is a
(spark, sf_dir) -> DataFrame callable, surfaced through
``__spark_entry__.queries()``; the oracle is the equivalent DuckDB SQL over
the same parquet tables, surfaced through ``__spark_entry__.oracle_sql()``.
Each proof function below returns that pair from one set of parameters
(table, expression, keys, quantiles, probes, sketch sizes), so a query and
its oracle cannot drift apart. Column names and rounding are identical on
both sides, so an order-insensitive value-hash comparison of the two
matches.

DDSketch quantile proofs are pinned by ``ddsketch_quantile_oracle_sql``,
which replays the bucket math in SQL: the LOG mapping directly, LogCubic
through exact exponent/significand extraction (``layout='cubic'``), and the
collapsing store's bucket cap (``collapse=``). Order-dependent sketches
(t-digest, KLL) and the LogCubic alpha bound are pinned through exact counts
and rank-bound booleans instead of their estimates.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from concurrent.futures import ThreadPoolExecutor
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ddsketch_spark import (
    SketchConfig,
    build_partials,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
    make_quantile_udf,
    register_sql_functions,
)
from ..functions.ddsketch_sql import (
    ddsketch_aggregate_multi,
    ddsketch_quantiles_sql,
    ddsketch_stats_sql,
    histogram_quantiles,
)
from ..functions.oracle import (
    ROUND_DIGITS,
    ddsketch_quantile_oracle_sql,
    ddsketch_stats_oracle_sql,
)
from ..functions.sibling_oracle import (
    bloom_oracle_sql,
    cms_oracle_sql,
    hll_oracle_sql,
    kmv_difference_oracle_sql,
    kmv_intersection_oracle_sql,
    kmv_oracle_sql,
)
from ..functions.sketch_udafs import (
    bloom_adapter,
    bloom_might_contain,
    cms_adapter,
    cms_point_estimate,
    hll_adapter,
    hll_estimate,
    kll_adapter,
    kll_quantile,
    kmv_adapter,
    kmv_difference,
    kmv_estimate,
    kmv_intersection,
    multi_family_aggregate,
    register_sibling_sql,
    sketch_aggregate,
    tdigest_adapter,
    tdigest_quantile,
)
from ..kernel.bits import splitmix64
from ..sources.pages import pages_parquet_path, pages_table
from ..streaming.sketch_stream import (
    merged_stream_result,
    scoped_shuffle_partitions,
    stateful_sketch_stream,
    stream_sketch_partials,
    stream_state_partitions,
    windowed_sketch_histogram,
)
from .curation import (
    chunk_stats,
    chunk_stats_oracle_sql,
    pack_context_windows,
    pack_context_windows_oracle_sql,
    rebalance_stats,
    rebalance_stats_oracle_sql,
    vocab_stats,
    vocab_stats_oracle_sql,
)
from .dedup import (
    contamination_oracle_sql,
    contamination_pairs,
    dedup_keep_canonical_simhash,
    exact_dedup,
    exact_dup_stats,
    exact_dup_stats_oracle_sql,
    incremental_simhash_filter,
    incremental_simhash_oracle_sql,
    keep_canonical_oracle_sql,
    lsh_candidate_pairs,
    minhash_jaccard_estimate,
    minhash_lsh_oracle_sql,
    minhash_signatures,
    ngram_jaccard_oracle_sql,
    ngram_jaccard_pairs,
    shingle_hashes,
    simhash_near_pairs,
    simhash_pairs_oracle_sql,
    simhash_signatures,
)
from .extraction import page_features
from .multimodal import (
    _WAV_PCM8_HEADER_BYTES,
    audio_features_oracle_sql,
    decode_audio_features,
    decode_image_features,
    encode_ppm_rgb,
    encode_wav_pcm8,
    frame_sample_oracle_sql,
    media_from_documents,
    ppm_image_features_oracle_sql,
    resize_images,
    resize_images_oracle_sql,
    sample_video_frames,
)
from .pii import redact_pii
from .similarity import (
    brute_force_topk,
    brute_force_topk_oracle_sql,
    embedding_near_dup_oracle_sql,
    embedding_near_dup_pairs,
    incremental_near_dup_filter,
    incremental_near_dup_oracle_sql,
    ivf_topk,
    ivf_topk_oracle_sql,
    lsh_topk,
    lsh_topk_oracle_sql,
    make_probes,
    write_partitioned_signatures,
)
from .text import (
    quality_score,
    remove_boilerplate_lines,
    repetition_stats,
    text_features,
    text_features_oracle_sql,
    winnow_fingerprints,
    winnow_fingerprints_oracle_sql,
)
from .topk import (
    topk_cms,
    topk_cms_oracle_sql,
    topk_exact_oracle_sql,
    topk_exact_pruned,
)
from .urls import canonicalize_url

ALPHA = 0.01

Query = Callable[[SparkSession, str], DataFrame]
Proof = tuple[Query, str]  # (query, DuckDB oracle SQL)


_LOG = SketchConfig("logarithmic_unbounded_size_dense_store", ALPHA, 0)

# staged files = micro-batches per streaming replay
_REPLAY_FILES = 4


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _narrow(spark: SparkSession, sf_dir: str, table: str, groups: list[str],
            value_expr: str) -> DataFrame:
    """(groups..., _v): the sketched value as a double, nothing else read."""
    return load(spark, sf_dir, table).select(
        *groups, F.expr(value_expr).cast("double").alias("_v"))


def _quantile_cols(quantiles: dict[str, float]) -> list[Column]:
    return [F.round(make_quantile_udf(q)("sketch"), ROUND_DIGITS).alias(name)
            for name, q in quantiles.items()]


def table_proof(table: str, op, oracle, *args, **kw) -> Proof:
    """``op(<table>, *args, **kw)`` pinned by ``oracle(table, *args, **kw)``:
    an operator whose oracle takes the operator's own arguments."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return op(load(spark, sf_dir, table), *args, **kw)
    return run, oracle(table, *args, **kw)


# -- DDSketch quantile proofs ------------------------------------------------
# A build turns the narrow (groups..., _v) frame into the quantile columns;
# quantile_proof pins every build with the same bucket-walk oracle.

def _jvm_walk(spark, df, groups, quantiles, cfg):
    """Fully-JVM histogram + window walk — the scalable plan."""
    return ddsketch_quantiles_sql(df, "_v", groups, quantiles, cfg,
                                  round_digits=ROUND_DIGITS)


def _blob_walk(spark, df, groups, quantiles, cfg):
    """Blob UDAF pipeline + quantile UDF: kept under test for parity with
    the JVM walk, and the only build for LogCubic presets."""
    agg = ddsketch_aggregate(df, "_v", groups, cfg)
    return agg.select(*groups, *_quantile_cols(quantiles))


def _salted_walk(spark, df, groups, quantiles, cfg):
    """Skew-safe grouped build via explicit deterministic salting
    (ddsketch_aggregate_salted): level 1 groups on (keys..., salt) so a
    zipfian hot group spreads over 16 reducers; level 2 merges the per-salt
    blobs. Mergeability makes the split lossless, so the SAME unsalted
    quantile oracle pins it — the hard proof that salting does not change
    results."""
    agg = ddsketch_aggregate_salted(df, "_v", groups, cfg, num_salts=16)
    return agg.select(*groups, *_quantile_cols(quantiles))


def _sql_surface_walk(spark, df, groups, quantiles, cfg):
    """End-to-end SQL composition: partial blobs as a temp view, final
    merge + quantile extraction written in plain spark.sql with the
    registered ddsketch_merge / ddsketch_quantile functions."""
    register_sql_functions(spark, cfg)
    build_partials(df, "_v", groups, cfg).createOrReplaceTempView(
        "ddsketch_sql_parts")
    gsel = ", ".join(groups)
    qcols = ", ".join(
        f"round(ddsketch_quantile(ddsketch_merge(sketch), {q!r}), "
        f"{ROUND_DIGITS}) AS {name}" for name, q in quantiles.items())
    return spark.sql(
        f"SELECT {gsel}, {qcols} FROM ddsketch_sql_parts GROUP BY {gsel}")


def _replay(spark: SparkSession, df: DataFrame, tag: str, start) -> str:
    """Replay ``df`` as a stream: stage it as ``_REPLAY_FILES`` parquet
    files in a fresh temp dir ``base`` and read one file per micro-batch
    (availableNow, so several real micro-batches). ``start(stream, base)``
    starts the query, checkpointing under ``base/ckpt``; it drains under a
    micro-batch-sized shuffle partition count (the session value is
    scan-sized; see stream_state_partitions — every replay here is
    partition-count invariant). The staged input and the checkpoint are
    removed afterwards; returns ``base``."""
    base = tempfile.mkdtemp(prefix=f"sketch_{tag}_q_")
    in_dir = f"{base}/in"
    df.repartition(_REPLAY_FILES).write.mode("overwrite").parquet(in_dir)
    stream = (spark.readStream.schema(df.schema)
              .option("maxFilesPerTrigger", 1).parquet(in_dir))
    with scoped_shuffle_partitions(
            spark, stream_state_partitions(in_dir, _REPLAY_FILES)):
        start(stream, base).awaitTermination()
    shutil.rmtree(in_dir, ignore_errors=True)
    shutil.rmtree(f"{base}/ckpt", ignore_errors=True)
    return base


def _replay_to_memory(spark: SparkSession, df: DataFrame, tag: str,
                      build) -> DataFrame:
    """``_replay`` of the streaming frame ``build(stream)`` into an
    update-mode memory sink; returns the sink table."""
    sink = f"sketch_{tag}_{uuid.uuid4().hex}"

    def start(stream, base):
        return (build(stream).writeStream.format("memory").queryName(sink)
                .outputMode("update")
                .option("checkpointLocation", f"{base}/ckpt")
                .trigger(availableNow=True).start())

    shutil.rmtree(_replay(spark, df, tag, start), ignore_errors=True)
    return spark.table(sink)


def _stream_walk(spark, df, groups, quantiles, cfg):
    """Structured Streaming under the hard oracle: replays the table through
    ``stream_sketch_partials`` (several real micro-batches appending partial
    blobs), then INJECTS a duplicate copy of one batch's partial rows into
    the sink — simulating the retry a foreachBatch sink can see
    (at-least-once) — and merges with ``merged_stream_result``. The
    (keys, batch_id) dedup is what makes the final quantiles equal the batch
    oracle; without it the duplicated batch would double-count and flip the
    hash red. The sink outlives the call: the returned DataFrame reads it
    lazily on the caller's action."""
    def start(stream, base):
        return stream_sketch_partials(stream, "_v", groups, cfg,
                                      f"{base}/sink", f"{base}/ckpt")

    sink = _replay(spark, df, "stream", start) + "/sink"
    # duplicate-batch injection (retry simulation): re-append the first
    # micro-batch's partial rows verbatim
    parts = spark.read.parquet(sink)
    min_b = parts.agg(F.min("batch_id")).collect()[0][0]
    (parts.where(F.col("batch_id") == min_b)
     .write.mode("append").parquet(sink))
    merged = merged_stream_result(spark, sink, groups, cfg)
    return merged.select(*groups, *_quantile_cols(quantiles))


def _oracle_preset(cfg: SketchConfig) -> dict:
    """ddsketch_quantile_oracle_sql options that replay ``cfg``'s preset."""
    if cfg.preset == "unbounded_dense":  # LogCubic mapping
        return {"layout": "cubic"}
    if cfg.preset == "logarithmic_collapsing_lowest_dense":
        return {"collapse": "lowest", "max_bins": cfg.max_num_bins}
    return {}


def quantile_proof(table: str, value_expr: str, groups: list[str],
                   quantiles: dict[str, float], build=_jvm_walk,
                   cfg: SketchConfig = _LOG) -> Proof:
    """DDSketch quantiles of ``value_expr`` per ``groups`` over ``table``:
    ``build`` sketches the narrow frame with ``cfg``; the oracle replays the
    same preset's bucket walk in DuckDB."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = _narrow(spark, sf_dir, table, groups, value_expr)
        return build(spark, df, groups, quantiles, cfg)
    return run, ddsketch_quantile_oracle_sql(
        table, value_expr, groups, quantiles, cfg.relative_accuracy,
        **_oracle_preset(cfg))


def weighted_quantile_query(table: str, value_expr: str, weight_expr: str,
                            groups: list[str],
                            quantiles: dict[str, float]) -> Proof:
    """Weighted insert (documented semantics of the reference's
    accept_with_count, which itself ignores the weight — quirk Q1).
    Fully-JVM plan: bucket + sum(weight) Tungsten hash aggregate, then the
    window quantile walk over cumulative weight — no Python operator."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(value_expr).alias("_v"), F.expr(weight_expr).alias("_w"))
        return ddsketch_quantiles_sql(df, "_v", groups, quantiles, _LOG,
                                      round_digits=ROUND_DIGITS, weight_col="_w")
    return run, ddsketch_quantile_oracle_sql(
        table, value_expr, groups, quantiles, ALPHA, weight_expr=weight_expr)


def _by_day(table: str, ts_col: str, cols: str) -> str:
    return (f"(SELECT strftime(date_trunc('day', {ts_col}), '%Y-%m-%d') "
            f"AS day, {cols} FROM {table})")


def per_day_quantile_query(table: str, ts_col: str, value_expr: str,
                           quantiles: dict[str, float]) -> Proof:
    """Per-day grouped sketching (the north star's date_trunc('day', warc_ts)
    capability) over the events stream table."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            F.date_format(F.date_trunc("day", ts_col), "yyyy-MM-dd").alias("day"),
            F.expr(value_expr).cast("double").alias("_v"))
        return _jvm_walk(spark, df, ["day"], quantiles, _LOG)
    return run, ddsketch_quantile_oracle_sql(
        _by_day(table, ts_col, value_expr), value_expr, ["day"], quantiles,
        ALPHA)


def stateful_streaming_query(table: str, value_expr: str, key: str,
                             quantile: float = 0.99) -> Proof:
    """The custom stateful operator (applyInPandasWithState; per-key state =
    the serialized sketch blob) under the hard oracle: replay the table in
    several availableNow micro-batches through stateful_sketch_stream into a
    memory sink (update mode emits the running (key, count, estimate) each
    batch), then keep each key's final state — the row with the maximum
    count. DDSketch is order-insensitive (a histogram), so the final
    estimate equals the batch build no matter how the stream was batched,
    and the plain batch quantile oracle pins it exactly; cnt is exact."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        running = _replay_to_memory(
            spark, _narrow(spark, sf_dir, table, [key], value_expr),
            "stateful", lambda stream: stateful_sketch_stream(
                stream, "_v", key, _LOG, quantile=quantile))
        # final state per key = the update row with the maximum count
        # (counts grow monotonically batch over batch)
        return (running.groupBy(F.col("key").alias(key))
                .agg(F.max("count").cast("bigint").alias("cnt"),
                     F.round(F.max_by("estimate", "count"),
                             ROUND_DIGITS).alias("est")))

    q = ddsketch_quantile_oracle_sql(table, value_expr, [key],
                                     {"est": quantile}, ALPHA)
    return run, f"""
WITH q AS ({q}),
c AS (
  SELECT {key}, CAST(count(*) AS BIGINT) AS cnt
  FROM {table}
  WHERE {value_expr} IS NOT NULL AND isfinite(CAST({value_expr} AS DOUBLE))
  GROUP BY {key}
)
SELECT q.{key}, c.cnt, q.est FROM q JOIN c USING ({key})
"""


def windowed_streaming_query(table: str, value_expr: str, key: str,
                             ts_col: str, quantiles: dict[str, float],
                             watermark: str = "90 days") -> Proof:
    """The watermarked tumbling-window streaming aggregation under the hard
    oracle: replay the table through windowed_sketch_histogram (state-store
    groupBy(window, key, side, idx)) in availableNow micro-batches, take the
    final (max) count per histogram cell from the update-mode sink, and walk
    quantiles per (day, key) with histogram_quantiles — the SAME walk the
    batch path uses, so the per-day batch oracle pins it.

    The staged replay splits files randomly in time, so the watermark is set
    wider than the table's time span (nothing drops and the result is
    deterministic = the batch answer); watermark *lateness* semantics are
    exercised in tests/test_streaming.py, where arrival order is controlled."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # watermarks require TIMESTAMP (with zone); the fixture stores NTZ.
        # The cast reinterprets in the session timezone — UTC here, so day
        # windows line up with the oracle's timezone-naive date_trunc.
        df = load(spark, sf_dir, table).select(
            F.col(ts_col).cast("timestamp").alias(ts_col),
            key, F.expr(value_expr).cast("double").alias("_v"))
        hist = _replay_to_memory(
            spark, df, "windowed",
            lambda stream: windowed_sketch_histogram(
                stream, "_v", [key], _LOG, ts_col=ts_col,
                window_duration="1 day", watermark=watermark))
        # final histogram = max count per cell (streaming counts only grow)
        final = (hist.groupBy(F.date_format(F.col("window.start"),
                                            "yyyy-MM-dd").alias("day"),
                              F.col(key), "side", "idx")
                 .agg(F.max("c").alias("c")))
        return histogram_quantiles(final, ["day", key], quantiles, _LOG,
                                   ROUND_DIGITS)
    return run, ddsketch_quantile_oracle_sql(
        _by_day(table, ts_col, f"{key}, {value_expr}"), value_expr,
        ["day", key], quantiles, ALPHA)


def _pipeline_quality_dedup_subquery(threshold: float) -> str:
    """DuckDB subquery replicating quality filter + exact dedup exactly
    (same unrounded double arithmetic as text.quality_score)."""
    return f"""(
WITH feat AS (
  SELECT doc_id, lang, text,
         length(text) AS n,
         (length(text) - length(regexp_replace(text, '[.,!?;:]', '', 'g')))::DOUBLE
           / greatest(length(text), 1) AS pr,
         length(replace(text, ' ', ''))::DOUBLE
           / greatest(len(string_split(text, ' ')), 1) AS mtl
  FROM documents
),
good AS (
  SELECT doc_id, lang, text FROM feat
  WHERE ((CASE WHEN n BETWEEN 100 AND 20000 THEN 1.0
               WHEN n >= 20 THEN 0.5 ELSE 0.0 END)
       + (CASE WHEN pr <= 0.1 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN mtl >= 2.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END))
      / 3.0 >= {threshold!r}
),
keep AS (SELECT min(doc_id) AS doc_id FROM good GROUP BY md5(text))
SELECT g.lang, g.text FROM good g JOIN keep USING (doc_id))"""


def pipeline_quality_dedup_sketch_query(quantiles: dict[str, float],
                                        threshold: float = 0.9) -> Proof:
    """End-to-end training-data pipeline composition under ONE oracle:
    quality-score every document (scan-speed built-ins), keep docs above
    threshold, exact-dedup the survivors (min doc_id per distinct text),
    then per-lang DDSketch length quantiles on the JVM walk. Demonstrates
    the engine's stages composing into the shape a real corpus-curation
    pipeline runs — filter and dedup feed the sketch without ever leaving
    the declarative plan."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        good = docs.where(quality_score(F.col("text")) >= threshold)
        kept = exact_dedup(good)
        df = kept.select("lang", F.length("text").cast("double").alias("_v"))
        return _jvm_walk(spark, df, ["lang"], quantiles, _LOG)
    return run, ddsketch_quantile_oracle_sql(
        _pipeline_quality_dedup_subquery(threshold), "length(text)", ["lang"],
        quantiles, ALPHA)


def multi_feature_query(quantiles: dict[str, float]) -> Proof:
    """One-pass multi-feature sketching (ddsketch_aggregate_multi): N
    features unpivot via stack() inside the same whole-stage-codegen
    pipeline, so 3 features cost ONE scan of documents, not 3 jobs —
    the call a real feature pipeline makes most. Output: per (feature,
    lang) quantiles from the resulting blobs."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, "documents").select(
            "lang",
            F.length("text").cast("double").alias("text_len"),
            F.size(F.split("text", " ")).cast("double").alias("n_tokens"),
            F.col("n_chars").cast("double").alias("n_chars"))
        agg = ddsketch_aggregate_multi(
            df, ["text_len", "n_tokens", "n_chars"], ["lang"], _LOG)
        return agg.select("feature", "lang", *_quantile_cols(quantiles))

    exprs = {"text_len": "length(text)",
             "n_tokens": "len(string_split(text, ' '))",
             "n_chars": "n_chars"}
    return run, " UNION ALL ".join(
        f"SELECT '{feat}' AS feature, * FROM ("
        + ddsketch_quantile_oracle_sql("documents", expr, ["lang"],
                                       quantiles, ALPHA)
        + ")"
        for feat, expr in exprs.items())


# sf-independent row count for the input_hint pages table: the driver's
# oracle SQL is a fixed string, so the table it reads must not depend on
# sf_dir. Scale coverage for this pipeline lives in scripts/scaling_worker.py
# (extract_pages job) and BENCH/BASELINE.md, not in the correctness fixture.
PAGES_ROWS = 20_000

_PAGE_FEATURES = ["text_len", "token_count", "html_bytes"]


def pages_features_query(quantiles: dict[str, float]) -> Proof:
    """The north-star pipeline on the EXACT input_hint table shape
    (url, warc_ts, html binary, text, lang): extract text FROM THE RAW HTML
    (operators/extraction.py), compute the three flagship features
    (extracted text length, whitespace token count, html byte size), and
    sketch them per lang in one scan (stack unpivot + JVM histogram path).

    Both extraction engines run (long format, `engine` column): the DuckDB
    oracle computes the same features from the fixture's STORED ``text``
    column, so a value-hash match proves the input_hint per-row invariant —
    byte-identical extracted text per url — end-to-end through the sketch,
    for the whole-stage-codegen chain AND the Arrow pandas-UDF parser seam."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        pages = pages_table(spark, PAGES_ROWS)
        cols = _quantile_cols(quantiles)
        parts = []
        for eng in ("jvm", "pandas"):
            feats = page_features(pages, engine=eng, keep_cols=("lang",))
            agg = ddsketch_aggregate_multi(
                feats, _PAGE_FEATURES, ["lang"], _LOG)
            parts.append(agg.select(F.lit(eng).alias("engine"),
                                    "feature", "lang", *cols))
        return parts[0].unionByName(parts[1])

    src = f"read_parquet('{pages_parquet_path(PAGES_ROWS)}')"
    exprs = {"text_len": "length(text)",
             "token_count": "len(string_split(text, ' '))",
             "html_bytes": "octet_length(html)"}
    return run, " UNION ALL ".join(
        f"SELECT '{eng}' AS engine, '{feat}' AS feature, * FROM ("
        + ddsketch_quantile_oracle_sql(src, expr, ["lang"], quantiles, ALPHA)
        + ")"
        for eng in ("jvm", "pandas") for feat, expr in exprs.items())


def pages_host_quantile_query(quantiles: dict[str, float]) -> Proof:
    """The north-star skew story on the input_hint shape: per-URL-HOST
    grouped sketching over ``pages`` (hosts are zipfian — the hottest host
    holds a few % of the corpus) on the JVM histogram path.

    Skew handling here is the histogram path's NATIVE map-side combine:
    partial_count aggregates on (host, side, idx) inside each task, so the
    hot host's rows collapse to at most ~max_bins histogram rows per task
    BEFORE the exchange — no reducer ever sees the hot host's raw rows.
    Explicit salting (ddsketch_aggregate_salted, proven lossless on this
    exact table in tests/test_pages.py and hash-pinned by
    ddsketch_salted_textlen_by_lang) is the tool for the BLOB-UDAF path,
    whose per-(group, partition) partials don't map-side-combine; salting
    all ~1000 hosts through the pandas path costs ~14k tiny Python groups
    and was measured 12x slower than this plan at sf-test scale. The oracle
    is the plain bucket walk over the same parquet."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        pages = pages_table(spark, PAGES_ROWS)
        feats = pages.select(
            F.split("url", "/").getItem(2).alias("host"),
            F.length("text").cast("double").alias("_v"))
        return _jvm_walk(spark, feats, ["host"], quantiles, _LOG)

    src = (f"(SELECT split_part(url, '/', 3) AS host, text "
           f"FROM read_parquet('{pages_parquet_path(PAGES_ROWS)}')) AS pages_src")
    return run, ddsketch_quantile_oracle_sql(src, "length(text)", ["host"],
                                             quantiles, ALPHA)


def sketch_stats_query(table: str, value_expr: str,
                       groups: list[str]) -> Proof:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return ddsketch_stats_sql(_narrow(spark, sf_dir, table, groups, value_expr),
                                  "_v", groups, _LOG,
                                  round_digits=ROUND_DIGITS)
    return run, ddsketch_stats_oracle_sql(table, value_expr, groups, ALPHA)


def sketch_stats_surface_query(docs: Proof, events: Proof) -> Proof:
    """Both get_count/sum/avg/min/max stats proofs (documents text length;
    events centered two-sided values) in one long-format result —
    consolidation for the driver's 50-row correctness cap (see
    multimodal_all_query); each sub-proof is unchanged."""
    (docs_q, a), (events_q, b) = docs, events

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = docs_q(spark, sf_dir).select(
            F.lit("docs_textlen").alias("src"), F.col("lang").alias("key"),
            "cnt", "sum_est", "avg_est", "min_est", "max_est")
        b = events_q(spark, sf_dir).select(
            F.lit("events_centered").alias("src"),
            F.col("event_type").alias("key"),
            "cnt", "sum_est", "avg_est", "min_est", "max_est")
        return a.unionByName(b)
    return run, f"""
WITH sub_a AS ({a}), sub_b AS ({b})
SELECT 'docs_textlen' AS src, lang AS key, cnt, sum_est, avg_est, min_est, max_est FROM sub_a
UNION ALL
SELECT 'events_centered' AS src, event_type AS key, cnt, sum_est, avg_est, min_est, max_est FROM sub_b
"""


# -- bound checks: exact counts + booleans the oracle asserts TRUE -----------

def _bound_check(df: DataFrame, ests: DataFrame, groups: list[str],
                 quantiles: dict[str, float], ok) -> DataFrame:
    """One estimate row per group (``_e_<name>``), broadcast-joined back
    onto the raw rows: the exact per-group count plus, per quantile, the
    boolean ``ok(est, q, n)`` over exact counts of the raw values."""
    joined = df.join(F.broadcast(ests), on=groups)
    n = F.count(F.lit(1))
    return joined.groupBy(*groups).agg(
        n.cast("bigint").alias("cnt"),
        *[ok(F.col(f"_e_{name}"), q, n).alias(f"{name}_ok")
          for name, q in quantiles.items()])


def _bound_check_oracle_sql(table: str, where: str, groups: list[str],
                            quantiles: dict[str, float]) -> str:
    gsel = ", ".join(groups)
    oks = ", ".join(f"TRUE AS {name}_ok" for name in quantiles)
    return f"""
SELECT {gsel}, CAST(count(*) AS BIGINT) AS cnt, {oks}
FROM {table}
WHERE {where}
GROUP BY {gsel}
"""


def quantile_rank_check_query(kind: str, table: str, value_expr: str,
                              groups: list[str], quantiles: dict[str, float],
                              bound: float,
                              sql_merge_splits: int = 0) -> Proof:
    """Hard driver signal for order-dependent quantile sketches (t-digest /
    KLL): the estimates themselves cannot be reproduced in SQL (centroid
    merging / compaction depends on input order), so the query emits
    *provably deterministic* derived columns instead — the exact per-group
    row count and, per quantile, a rank-containment boolean computed against
    the raw data in the same plan:

        #(v < est)/n <= q + bound  AND  #(v <= est)/n >= q - bound

    The DuckDB oracle asserts cnt exactly and the booleans as TRUE, so a
    sketch whose rank error exceeds ``bound`` flips the hash red. Estimate
    accuracy at tighter tolerances is covered by pytest (0.02/0.025).

    ``sql_merge_splits`` > 0 puts the LAST merge surface under the same
    signal: each group's sketch is first split that many ways (salt on the
    value hash, so the merge folds real partials, not one blob), then the
    blobs are merged THROUGH spark.sql (the registered <kind>_merge
    GROUPED_AGG UDF). A merge that corrupted state (dropped centroids,
    mis-folded compactors) would push the rank error past ``bound``."""
    def ok(est, q, n):
        lt = F.sum((F.col("_v") < est).cast("double"))
        leq = F.sum((F.col("_v") <= est).cast("double"))
        return (leq / n >= F.lit(q - bound)) & (lt / n <= F.lit(q + bound))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        adapter = tdigest_adapter() if kind == "tdigest" else kll_adapter()
        # the narrow input feeds BOTH the sketch build and the exact rank
        # recount — two scans by design, NOT cached: measured at sf0.1, the
        # column-pruned parquet re-scan is ~free while .cache() costs more
        # (kll 1.06s uncached vs 1.23-6.1s cached; the InMemoryRelation
        # write + storage reads lose to the vectorized parquet reader)
        df = (_narrow(spark, sf_dir, table, groups, value_expr)
              .where(F.col("_v").isNotNull()))
        if not sql_merge_splits:
            qudf = tdigest_quantile if kind == "tdigest" else kll_quantile
            ests = sketch_aggregate(df, "_v", groups, adapter).select(
                *groups, *[qudf("sketch", F.lit(q)).alias(f"_e_{name}")
                           for name, q in quantiles.items()])
        else:
            register_sibling_sql(spark)
            salted = df.withColumn(
                "_split", F.pmod(F.xxhash64("_v"), F.lit(sql_merge_splits)))
            view = f"{kind}_sql_merge_parts"
            sketch_aggregate(salted, "_v", [*groups, "_split"],
                             adapter).createOrReplaceTempView(view)
            gsel = ", ".join(groups)
            qcols = ", ".join(
                f"{kind}_quantile({kind}_merge(sketch), CAST({q!r} AS DOUBLE)) "
                f"AS _e_{name}" for name, q in quantiles.items())
            ests = spark.sql(
                f"SELECT {gsel}, {qcols} FROM {view} GROUP BY {gsel}")
        # one estimate row per group -> broadcast join back onto the raw rows
        return _bound_check(df, ests, groups, quantiles, ok)
    return run, _bound_check_oracle_sql(table, f"{value_expr} IS NOT NULL",
                                        groups, quantiles)


def merged_rank_checks_query(tdigest: Proof, kll: Proof) -> Proof:
    """Both order-dependent sketches' SQL-merge rank-check proofs (t-digest
    over events, KLL over lineitem) in one result — consolidation for the
    driver's 50-row correctness cap; the per-kind checks are unchanged."""
    (tdigest_q, t), (kll_q, k) = tdigest, kll

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        t = tdigest_q(spark, sf_dir).select(
            F.lit("tdigest").alias("kind"),
            F.col("event_type").alias("grp"),
            "cnt", "p50_ok", "p90_ok", "p99_ok")
        k = kll_q(spark, sf_dir).select(
            F.lit("kll").alias("kind"),
            F.col("l_returnflag").alias("grp"),
            "cnt", "p50_ok", "p90_ok", "p99_ok")
        return t.unionByName(k)
    return run, f"""
WITH sub_t AS ({t}), sub_k AS ({k})
SELECT 'tdigest' AS kind, event_type AS grp, cnt, p50_ok, p90_ok, p99_ok FROM sub_t
UNION ALL
SELECT 'kll' AS kind, l_returnflag AS grp, cnt, p50_ok, p90_ok, p99_ok FROM sub_k
"""


def cubic_bound_check_query(table: str, value_expr: str, groups: list[str],
                            quantiles: dict[str, float]) -> Proof:
    """Hard driver signal for the LogCubic mapping through the alpha
    guarantee: DDSketch guarantees |est - x| <= alpha*x where x is the value
    at rank i = floor(q*(n-1)) + 1. Therefore, for positive data:

        count(v <= est/(1-2a)) >= i   (x <= est/(1-a) <= est/(1-2a))
        count(v <  est/(1+2a)) <  i   (x >= est/(1+a) >= est/(1+2a))

    Both counts are exact and computable against the raw rows in the same
    plan; the oracle pins cnt and asserts the booleans TRUE. A broken cubic
    interpolation (wrong bucket boundaries) would be far outside 2*alpha
    and flip the hash red."""
    def ok(est, q, n):
        rank_i = F.floor(F.lit(q) * (n - 1)) + 1
        leq_hi = F.sum((F.col("_v") <= est / F.lit(1 - 2 * ALPHA)).cast("long"))
        lt_lo = F.sum((F.col("_v") < est / F.lit(1 + 2 * ALPHA)).cast("long"))
        return (leq_hi >= rank_i) & (lt_lo < rank_i)

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        # two scans by design, NOT cached — the column-pruned parquet
        # re-scan beats cache materialization (see quantile_rank_check_query)
        df = (_narrow(spark, sf_dir, table, groups, value_expr)
              .where(F.col("_v").isNotNull() & (F.col("_v") > 0)))
        cfg = SketchConfig("unbounded_dense", ALPHA, 0)  # LogCubic mapping
        agg = ddsketch_aggregate(df, "_v", groups, cfg)
        ests = agg.select(
            *groups, *[make_quantile_udf(q)("sketch").alias(f"_e_{name}")
                       for name, q in quantiles.items()])
        return _bound_check(df, ests, groups, quantiles, ok)
    return run, _bound_check_oracle_sql(
        table, f"{value_expr} IS NOT NULL AND {value_expr} > 0", groups,
        quantiles)


# -- sibling sketches (HLL, KMV, CMS, Bloom) ---------------------------------

def hll_query(table: str, id_expr: str, groups: list[str],
              p: int = 14) -> Proof:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            *groups, F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", groups, hll_adapter(p=p, hash_mode="splitmix"))
        return agg.select(*groups, F.round(hll_estimate("sketch"), 2).alias("est"))
    return run, hll_oracle_sql(table, id_expr, groups, p)


def _probe_df(spark: SparkSession, probes: list[int]):
    hashes = splitmix64(np.array(probes, dtype=np.uint64)).view(np.int64)
    return spark.createDataFrame(
        [(int(p), int(h)) for p, h in zip(probes, hashes)], ["probe", "_h"])


_PROBE_FAMILIES = {  # family -> (adapter, probe UDF, output column, oracle)
    "cms": (cms_adapter, cms_point_estimate, "est", cms_oracle_sql),
    "bloom": (bloom_adapter, bloom_might_contain, "member", bloom_oracle_sql),
}


def probe_query(family: str, table: str, id_expr: str, probes: list[int],
                where: str = "", **params) -> Proof:
    """CMS point estimates or Bloom membership for fixed probe ids over one
    sketch of the table (``params``: the family's sketch sizes), pinned by
    the exact DuckDB replica of the sketch."""
    make_adapter, probe, out, oracle = _PROBE_FAMILIES[family]

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table)
        if where:
            df = df.where(where)
        df = df.select(F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", [],
                               make_adapter(**params, hash_mode="splitmix"))
        return (_probe_df(spark, probes)
                .crossJoin(F.broadcast(agg.select("sketch")))
                .select("probe", probe("sketch", "_h").alias(out)))
    return run, oracle(table, id_expr, probes, where=where, **params)


def kmv_difference_query(table: str, id_expr: str, group_col: str,
                         group_a: str, group_b: str, k: int = 256) -> Proof:
    """Set-difference estimate |A ∖ B| between two groups' id sets — the
    remaining theta-sketch set operation (union = merge, intersection in
    kmv_surface_query): one pass builds both KMV sketches, the difference
    UDF counts retained A hashes below the common theta absent from B and
    scales. Exact DuckDB replica of the whole computation."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = (load(spark, sf_dir, table)
              .where(F.col(group_col).isin([group_a, group_b]))
              .select(F.col(group_col).alias("_g"),
                      F.expr(id_expr).cast("long").alias("_id")))
        agg = sketch_aggregate(df, "_id", ["_g"],
                               kmv_adapter(k, hash_mode="splitmix"))
        both = agg.agg(
            F.first(F.when(F.col("_g") == group_a, F.col("sketch")),
                    ignorenulls=True).alias("_sa"),
            F.first(F.when(F.col("_g") == group_b, F.col("sketch")),
                    ignorenulls=True).alias("_sb"))
        return both.select(
            F.round(kmv_difference("_sa", "_sb"), 2).alias("est_diff"))
    return run, kmv_difference_oracle_sql(table, id_expr, group_col,
                                          group_a, group_b, k)


def kmv_surface_query(table: str, id_expr: str, group_col: str,
                      group_a: str, group_b: str, diff: Proof,
                      k: int = 256) -> Proof:
    """All three KMV/theta proofs (per-group distinct, set intersection,
    set difference) in one long-format result — consolidation for the
    driver's 50-row correctness cap; each sub-proof unchanged.

    Round 6: the per-group distinct proof and the intersection proof derive
    from the SAME per-group sketch build (one scan + one Python partial
    stage instead of two): the per-group KMV sketches of ``group_a`` /
    ``group_b`` are identical whether or not the other groups' rows were
    pre-filtered away — grouping already routes them elsewhere — so the
    intersection of the two groups' blobs from the shared build is the
    same blob-level computation the standalone proof ran."""
    diff_q, diff_sql = diff

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, table).select(
            F.col(group_col).alias("_g"),
            F.expr(id_expr).cast("long").alias("_id"))
        agg = sketch_aggregate(df, "_id", ["_g"],
                               kmv_adapter(k, hash_mode="splitmix"))
        # one tiny row per group; materialized once, read by both proofs
        agg = agg.localCheckpoint()
        a = agg.select(
            F.lit("by_event_type").alias("proof"),
            F.col("_g").alias("key"),
            F.round(kmv_estimate("sketch"), 2).cast("double").alias("est"))
        both = agg.agg(
            F.first(F.when(F.col("_g") == group_a, F.col("sketch")),
                    ignorenulls=True).alias("_sa"),
            F.first(F.when(F.col("_g") == group_b, F.col("sketch")),
                    ignorenulls=True).alias("_sb"))
        b = both.select(
            F.lit("common_users_purchase_click").alias("proof"),
            F.lit("-").alias("key"),
            F.round(kmv_intersection("_sa", "_sb"), 2)
             .cast("double").alias("est"))
        c = diff_q(spark, sf_dir).select(
            F.lit("diff_orderkeys_r_not_n").alias("proof"),
            F.lit("-").alias("key"),
            F.col("est_diff").cast("double").alias("est"))
        return a.unionByName(b).unionByName(c)

    by_type_sql = kmv_oracle_sql(table, id_expr, [group_col], k)
    common_sql = kmv_intersection_oracle_sql(table, id_expr, group_col,
                                             group_a, group_b, k)
    return run, f"""
WITH sub_a AS ({by_type_sql}), sub_b AS ({common_sql}), sub_c AS ({diff_sql})
SELECT 'by_event_type' AS proof, event_type AS key, CAST(est AS DOUBLE) AS est FROM sub_a
UNION ALL
SELECT 'common_users_purchase_click' AS proof, '-' AS key, CAST(est_common AS DOUBLE) AS est FROM sub_b
UNION ALL
SELECT 'diff_orderkeys_r_not_n' AS proof, '-' AS key, CAST(est_diff AS DOUBLE) AS est FROM sub_c
"""


def sketch_sql_union_surface_query(table: str, id_expr: str, group_col: str,
                                   group_vals: list[str],
                                   cms_probes: list[int],
                                   bloom_probes: list[int],
                                   hll_p: int = 14, kmv_k: int = 256,
                                   cms_depth: int = 5, cms_width: int = 2048,
                                   bloom_m: int = 1 << 17,
                                   bloom_k: int = 5) -> Proof:
    """The four sibling-sketch SQL-merge-surface proofs (hll/kmv/cms/bloom
    blobs merged through the registered GROUPED_AGG UDFs inside spark.sql)
    in ONE long-format result — consolidation for the driver's 50-row
    correctness cap (see multimodal_all_query). Each sub-proof's SQL merge
    is unchanged; scalar estimates carry probe = -1. The oracle: SQL-merged
    per-group blobs == a build over the unioned groups' rows (HLL register
    max / bottom-k union / counter additivity / bitset OR).

    Round 6: the four per-family partial builds share ONE scan + ONE Python
    partial stage (multi_family_aggregate) instead of four of each — the
    per-(family, group) blobs are byte-identical to the per-family builds
    (order-insensitive kernels, blob equality pinned in
    tests/test_sibling_spark.py), and the materialized partials table
    (localCheckpoint; one tiny row per family x group) feeds the four temp
    views so the four spark.sql merges don't re-run the build."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        register_sibling_sql(spark, hll_p=hll_p, kmv_k=kmv_k,
                             cms_depth=cms_depth, cms_width=cms_width,
                             bloom_m=bloom_m, bloom_k=bloom_k)
        ev = load(spark, sf_dir, table).select(
            F.col(group_col).alias("_g"),
            F.expr(id_expr).cast("long").alias("_id"))
        restricted = F.col("_g").isin(group_vals)
        fams = {
            "hll": (hll_adapter(p=hll_p, hash_mode="splitmix"), restricted),
            "kmv": (kmv_adapter(kmv_k, hash_mode="splitmix"), restricted),
            "cms": (cms_adapter(cms_depth, cms_width, "splitmix"), None),
            "bloom": (bloom_adapter(bloom_m, bloom_k, "splitmix"), restricted),
        }
        parts = multi_family_aggregate(ev, "_id", ["_g"], fams).localCheckpoint()
        for fam in ("hll", "kmv", "cms", "bloom"):
            (parts.where(F.col("family") == fam).drop("family")
             .createOrReplaceTempView(f"{fam}_union_parts"))
        h = spark.sql(
            "SELECT round(hll_estimate(hll_merge(sketch)), 2) AS est "
            "FROM hll_union_parts")
        k = spark.sql(
            "SELECT round(kmv_estimate(kmv_merge(sketch)), 2) AS est "
            "FROM kmv_union_parts")
        _probe_df(spark, cms_probes).createOrReplaceTempView("cms_union_probes")
        c = spark.sql(
            "SELECT p.probe, cms_point_estimate(m.sk, p._h) AS est "
            "FROM (SELECT cms_merge(sketch) AS sk FROM cms_union_parts) m "
            "CROSS JOIN cms_union_probes p")
        _probe_df(spark, bloom_probes).createOrReplaceTempView("bloom_union_probes")
        b = spark.sql(
            "SELECT p.probe, bloom_might_contain(m.sk, p._h) AS member "
            "FROM (SELECT bloom_merge(sketch) AS sk FROM bloom_union_parts) m "
            "CROSS JOIN bloom_union_probes p")
        return (
            h.select(F.lit("hll").alias("sketch"),
                     F.lit(-1).cast("long").alias("probe"),
                     F.col("est").cast("double").alias("val"))
            .unionByName(k.select(
                F.lit("kmv").alias("sketch"),
                F.lit(-1).cast("long").alias("probe"),
                F.col("est").cast("double").alias("val")))
            .unionByName(c.select(
                F.lit("cms").alias("sketch"),
                F.col("probe").cast("long").alias("probe"),
                F.col("est").cast("double").alias("val")))
            .unionByName(b.select(
                F.lit("bloom").alias("sketch"),
                F.col("probe").cast("long").alias("probe"),
                F.when(F.col("member"), 1.0).otherwise(0.0).alias("val"))))

    where = f"{group_col} IN ({', '.join(repr(v) for v in group_vals)})"
    hll_sql = hll_oracle_sql(table, id_expr, [], hll_p, where=where)
    kmv_sql = kmv_oracle_sql(table, id_expr, [], kmv_k, where=where)
    cms_sql = cms_oracle_sql(table, id_expr, cms_probes, depth=cms_depth,
                             width=cms_width)
    bloom_sql = bloom_oracle_sql(table, id_expr, bloom_probes, m_bits=bloom_m,
                                 k=bloom_k, where=where)
    return run, f"""
WITH sub_hll AS ({hll_sql}), sub_kmv AS ({kmv_sql}),
sub_cms AS ({cms_sql}), sub_bloom AS ({bloom_sql})
SELECT 'hll' AS sketch, CAST(-1 AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_hll
UNION ALL SELECT 'kmv' AS sketch, CAST(-1 AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_kmv
UNION ALL SELECT 'cms' AS sketch, CAST(probe AS BIGINT) AS probe, CAST(est AS DOUBLE) AS val FROM sub_cms
UNION ALL SELECT 'bloom' AS sketch, CAST(probe AS BIGINT) AS probe,
       CASE WHEN member THEN 1.0 ELSE 0.0 END AS val FROM sub_bloom
"""


# -- text, dedup and similarity operators ------------------------------------

def text_features_query() -> Proof:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, "documents")
        return repetition_stats(text_features(df)).select(
            "doc_id", "text_len", "n_tokens", "n_subtokens", "punct_ratio",
            "mean_token_len", "quality", "lang_pred", "fingerprint",
            "dup_line_frac", "dup_token_frac", "top_ngram_char_frac")
    return run, text_features_oracle_sql("documents", "doc_id")


def winnow_fingerprint_query(k: int = 8, w: int = 16) -> Proof:
    """Rolling-hash + winnowing document fingerprints (SIGMOD'03): any
    shared substring of length >= w + k - 1 guarantees a shared fingerprint.
    Summary columns per doc; exact DuckDB oracle replays the byte math."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        fp = winnow_fingerprints(load(spark, sf_dir, "documents"), k=k, w=w)
        return fp.select(F.col("_id").alias("doc_id"),
                         "n_fp", "fp_min", "fp_max", "fp_xor")
    return run, winnow_fingerprints_oracle_sql("documents", k=k, w=w)


def minhash_lsh_query(num_perm: int = 16, shingle_k: int = 3,
                      bands: int = 8, rows_per_band: int = 2,
                      id_limit: int = 1500) -> Proof:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, "documents").where(F.col("doc_id") < id_limit)
        sigs = minhash_signatures(df, num_perm=num_perm, shingle_k=shingle_k)
        cand = lsh_candidate_pairs(sigs, bands, rows_per_band)
        return minhash_jaccard_estimate(sigs, cand)
    return run, minhash_lsh_oracle_sql(
        f"(SELECT * FROM documents WHERE doc_id < {id_limit})", "doc_id",
        "text", num_perm, shingle_k, bands, rows_per_band)


def ann_query(search, oracle, probe_ids: list[int], k: int = 10,
              **params) -> Proof:
    """Top-k neighbours of fixed probe vectors with one ANN strategy
    (``search``: brute_force_topk, lsh_topk or ivf_topk), pinned by its
    exact DuckDB replica (``oracle``) with the same ``params``."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load(spark, sf_dir, "embeddings")
        probes = make_probes(spark, emb, probe_ids)
        return search(emb, probes, k=k, **params)
    return run, oracle("embeddings", probe_ids, k, **params)


def ann_topk_surface_query(exact: Proof, lsh: Proof, ivf: Proof) -> Proof:
    """All three ANN strategies (exact brute-force, hyperplane LSH, IVF)
    over the same probes in one long-format result (50-row driver cap):
    (method, probe_id, vec_id, score, rank). Each sub-proof unchanged."""
    (exact_q, exact_sql), (lsh_q, lsh_sql), (ivf_q, ivf_sql) = exact, lsh, ivf

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        parts = [q(spark, sf_dir).select(
            F.lit(m).alias("method"), "probe_id", "vec_id", "score", "rank")
            for m, q in (("exact", exact_q), ("lsh", lsh_q), ("ivf", ivf_q))]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    return run, f"""
WITH sub_e AS ({exact_sql}), sub_l AS ({lsh_sql}), sub_i AS ({ivf_sql})
SELECT 'exact' AS method, probe_id, vec_id, score, rank FROM sub_e
UNION ALL SELECT 'lsh' AS method, probe_id, vec_id, score, rank FROM sub_l
UNION ALL SELECT 'ivf' AS method, probe_id, vec_id, score, rank FROM sub_i
"""


# (session id, sf_dir, params) -> persisted corpus table/path, so repeated
# executions of the incremental-dedup queries reuse one persist per session
_PERSISTED_CORPORA: dict[tuple, str] = {}


def incremental_simhash_query(max_hamming: int = 3, n_blocks: int = 6,
                              new_mod: int = 10, new_rem: int = 7) -> Proof:
    """Incremental TEXT dedup against a persisted simhash signature table
    (the companion to dedup_incremental_new_shard's embedding variant):
    the corpus text is NEVER rescanned — only its 16-byte/doc (_id,
    simhash) table is read (plan-asserted in tests) — and only the new
    shard pays a text pass. Output: surviving new-shard doc_ids."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        corpus = docs.where(F.pmod(F.col("doc_id"), F.lit(new_mod)) != new_rem)
        shard = docs.where(F.pmod(F.col("doc_id"), F.lit(new_mod)) == new_rem)
        # one-time corpus signature persist, cached per (session, sf_dir)
        # exactly like incremental_dedup_query's corpus table
        key = (id(spark), sf_dir, "simhash", new_mod, new_rem)
        sig_dir = _PERSISTED_CORPORA.get(key)
        if sig_dir is None or not os.path.isdir(sig_dir):
            sig_dir = tempfile.mkdtemp(prefix="inc_simhash_sigs_") + "/sigs"
            simhash_signatures(corpus).write.mode("overwrite").parquet(sig_dir)
            _PERSISTED_CORPORA[key] = sig_dir
        return incremental_simhash_filter(
            shard, spark.read.parquet(sig_dir),
            max_hamming=max_hamming, n_blocks=n_blocks)
    return run, incremental_simhash_oracle_sql(
        "documents", f"doc_id % {new_mod} = {new_rem}", max_hamming=max_hamming)


def contamination_query(min_common: int = 6, shingle_k: int = 3,
                        eval_mod: int = 20, eval_rem: int = 1) -> Proof:
    """Benchmark-contamination detection: flag corpus docs sharing
    >= min_common shingles with any eval item. The evalset is a
    deterministic slice of the documents fixture (doc_id % eval_mod ==
    eval_rem) standing in for a held-out benchmark; the eval side is
    BROADCAST so the corpus never shuffles (plan-asserted in
    tests/test_pipeline_ops.py)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        evalset = (docs.where(F.pmod(F.col("doc_id"), F.lit(eval_mod))
                              == eval_rem)
                   .select(F.col("doc_id").alias("item_id"), "text"))
        return contamination_pairs(docs, evalset, min_common=min_common,
                                   shingle_k=shingle_k)
    return run, contamination_oracle_sql(
        "documents",
        "(SELECT doc_id AS item_id, text FROM documents "
        f"WHERE doc_id % {eval_mod} = {eval_rem})",
        min_common=min_common, shingle_k=shingle_k)


def incremental_dedup_query(threshold: float = 0.3, nbits: int = 6,
                            dim: int = 64, multi_probe: int = 1,
                            new_mod: int = 10, new_rem: int = 7) -> Proof:
    """The daily-ingest dedup shape: a NEW shard (vec_id % new_mod ==
    new_rem) deduped against the ALREADY-PERSISTED corpus signature table
    (write_partitioned_signatures: corpus + precomputed LSH signatures,
    partitioned by signature) WITHOUT rescanning corpus rows outside the
    buckets the shard probes — the corpus scan is partition-pruned to the
    shard's probe buckets (plan-asserted in tests/test_partition_pruning.py).
    Output: surviving new-shard vec_ids."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        emb = load(spark, sf_dir, "embeddings")
        corpus = emb.where(F.pmod(F.col("vec_id"), F.lit(new_mod)) != new_rem)
        shard = emb.where(F.pmod(F.col("vec_id"), F.lit(new_mod)) == new_rem)
        # one-time corpus persist, CACHED PER (session, sf_dir): at scale
        # this table already exists and amortizes over every daily shard —
        # re-running the query (bench remeasure, driver retries) must reuse
        # it, not persist (and leak) another copy
        key = (id(spark), sf_dir, "emb", new_mod, new_rem, dim, nbits)
        table = _PERSISTED_CORPORA.get(key)
        if table is None or not spark.catalog.tableExists(table):
            base = tempfile.mkdtemp(prefix="inc_dedup_corpus_")
            table = f"inc_dedup_corpus_{abs(hash(base)) % (1 << 30)}"
            write_partitioned_signatures(corpus, f"{base}/corpus", table,
                                         "embedding", dim=dim, nbits=nbits)
            _PERSISTED_CORPORA[key] = table
        return incremental_near_dup_filter(
            shard, spark.table(table), threshold, dim=dim, nbits=nbits,
            multi_probe=multi_probe)
    return run, incremental_near_dup_oracle_sql(
        "embeddings", f"vec_id % {new_mod} = {new_rem}", threshold, dim=dim,
        nbits=nbits, multi_probe=multi_probe)


def simhash_pairs_query(max_hamming: int = 3, n_blocks: int | None = 6) -> Proof:
    """n_blocks=6 (Manku multi-block, C(6,3)=20 keys of ~32 bits) is the
    scale-safe blocking: single-block 16-bit buckets emit ~92 candidates per
    true pair at sf0.1 and go quadratic at 10^9 docs. Blocking is lossless
    (pigeonhole), so the all-pairs oracle is unchanged."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        sigs = simhash_signatures(load(spark, sf_dir, "documents"))
        return (simhash_near_pairs(sigs, max_hamming, n_blocks=n_blocks)
                .select("id_a", "id_b",
                        F.col("hamming").cast("long").alias("hamming")))
    return run, simhash_pairs_oracle_sql("documents", "doc_id", "text",
                                         max_hamming)


def keep_canonical_query(max_hamming: int = 3, n_blocks: int | None = 6) -> Proof:
    """End-to-end near-dup removal: simhash near-dup graph -> connected
    components -> keep the canonical (min-id) member. Round 6: components
    run on the COLLAPSED signature graph (dedup_keep_canonical_simhash),
    which is provably component-equivalent to clustering the expanded doc
    pair graph (same-signature groups are cliques; see the operator
    docstring) — the quadratic doc-pair expansion is never materialized.
    n_blocks=6: see simhash_pairs_query (lossless, ~50x fewer candidates)."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = load(spark, sf_dir, "documents")
        return dedup_keep_canonical_simhash(
            df, max_hamming, n_blocks=n_blocks).select("doc_id")
    return run, keep_canonical_oracle_sql("documents", "doc_id", "text",
                                          max_hamming)


def dedup_jaccard_surface_query(shingle_k: int = 3, threshold: float = 0.3,
                                capped_df: int = 5) -> Proof:
    """Both exact n-gram Jaccard configs (uncapped verification config;
    df-capped scale path) in one long-format result — consolidation for
    the driver's 50-row cap; each sub-proof unchanged.

    The two configs share ONE materialized per-doc-distinct shingle table
    (localCheckpoint), and each config's (possibly capped) table is
    materialized before its three uses (sizes + both self-join sides).
    Re-measured round 6 with interleaved A/B at sf0.1 (4 rounds each):
    shared-checkpoint median 4.17 s vs 4.89 s recompute, min 3.73 vs 4.69 —
    the round-3 persist()-based measurement that favored recompute does not
    hold for localCheckpoint, whose read path skips the cache-storage
    columnar round-trip. At scale the sharing also removes 4 of 6 shingle
    explode passes over the corpus."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        # hash-partition the materialized shingle table BY THE JOIN KEY:
        # the Python shingler inherits the scan's split count (2 tasks on
        # the small fixture file), and a broadcast self-join would expand
        # its quadratic per-shingle output at that parallelism (measured
        # sf1.0: 221 s vs 13 s). Partitioning by h lifts parallelism to at
        # least defaultParallelism AND lets the self-join and the df-cap
        # window reuse the checkpoint's partitioning outright; the floor
        # keeps the scan-proportional count when the corpus is large.
        n_parts = max(spark.sparkContext.defaultParallelism,
                      docs.rdd.getNumPartitions())
        sh = (shingle_hashes(docs, "doc_id", "text", shingle_k)
              .repartition(n_parts, "h").localCheckpoint())
        un = ngram_jaccard_pairs(docs, shingle_k=shingle_k,
                                 threshold=threshold, shingles=sh)
        cp = ngram_jaccard_pairs(docs, shingle_k=shingle_k,
                                 threshold=threshold,
                                 max_shingle_df=capped_df, shingles=sh,
                                 materialize=True)
        a = un.select(
            F.lit("uncapped").alias("variant"), "id_a", "id_b", "jaccard")
        b = cp.select(
            F.lit("capped").alias("variant"), "id_a", "id_b", "jaccard")
        return a.unionByName(b)

    uncapped_sql = ngram_jaccard_oracle_sql("documents", "doc_id", "text",
                                            shingle_k, threshold)
    capped_sql = ngram_jaccard_oracle_sql("documents", "doc_id", "text",
                                          shingle_k, threshold,
                                          max_shingle_df=capped_df)
    return run, f"""
WITH sub_u AS ({uncapped_sql}), sub_c AS ({capped_sql})
SELECT 'uncapped' AS variant, id_a, id_b, jaccard FROM sub_u
UNION ALL
SELECT 'capped' AS variant, id_a, id_b, jaccard FROM sub_c
"""


def boilerplate_removal_query(max_line_df: int = 50) -> Proof:
    """Line-level boilerplate removal (operators/text.py) under an exact
    oracle. The fixture texts have no newlines, so the query plants two
    site-wide boilerplate lines on doc_id residue classes (each lands in
    ~25-33% of docs, far above max_line_df) while every doc keeps its
    unique body line; the oracle recomputes line doc-frequencies and the
    kept-line reconstruction arithmetic from scratch in SQL (split/unnest/
    count), so it stays exact even where base texts carry organic exact
    duplicates (sf0.1) whose body-line frequency might cross the cap."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        did = F.col("doc_id")
        t = F.concat(
            F.col("text"),
            F.when(did % 3 == 0,
                   F.lit("\nall rights reserved worldwide")).otherwise(F.lit("")),
            F.when(did % 4 == 1,
                   F.lit("\nsubscribe to our newsletter")).otherwise(F.lit("")))
        d2 = d.withColumn("text", t)
        out = remove_boilerplate_lines(d2, max_line_df)
        return out.groupBy("lang").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.size(F.split("text", "\n"))).cast("bigint")
             .alias("lines_before"),
            F.sum("lines_kept").cast("bigint").alias("lines_kept"),
            F.sum(F.length("cleaned")).cast("bigint").alias("len_cleaned"))

    # line doc-frequencies recomputed from scratch; kept-doc reconstruction
    # length = sum(len(line)) + (n_kept - 1) newlines, 0 if nothing kept
    return run, f"""
WITH base AS (
  SELECT doc_id, lang,
         text
         || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'all rights reserved worldwide' ELSE '' END
         || CASE WHEN doc_id % 4 = 1 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END AS t
  FROM documents
),
lines AS (
  SELECT doc_id, lang, unnest(string_split(t, chr(10))) AS line FROM base
),
freq AS (
  SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line
),
kept AS (
  SELECT l.doc_id, l.line FROM lines l JOIN freq f USING (line)
  WHERE f.df <= {max_line_df}
),
per_doc AS (
  SELECT doc_id, count(*) AS n_kept,
         sum(length(line)) + count(*) - 1 AS len_clean
  FROM kept GROUP BY doc_id
)
SELECT b.lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(length(b.t) - length(replace(b.t, chr(10), '')) + 1) AS BIGINT) AS lines_before,
       CAST(sum(coalesce(p.n_kept, 0)) AS BIGINT) AS lines_kept,
       CAST(sum(coalesce(p.len_clean, 0)) AS BIGINT) AS len_cleaned
FROM base b LEFT JOIN per_doc p USING (doc_id)
GROUP BY b.lang
"""


def url_canonicalize_query() -> Proof:
    """URL canonicalization (operators/urls.py) under an exact
    planted-variant oracle. The pages fixture urls are already canonical,
    so the query derives a deterministic NOISY variant per doc-number
    residue class — uppercase scheme+host plus fragment (m=1), explicit
    :443 plus tracking-only query (m=2), shuffled kept-params plus gclid
    (m=3), untouched (m=0) — and canonicalizes it. Classes 0-2 must
    round-trip to EXACTLY the original url; class 3 to url + '?a=1&b=2'.
    The oracle computes those expectations with plain string arithmetic
    (no URL logic), so any over- or under-normalization breaks the hash."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        pages = pages_table(spark, PAGES_ROWS)
        host = F.regexp_extract("url", r"^https://([^/]+)", 1)
        path = F.regexp_extract("url", r"^https://[^/]+(/.*)$", 1)
        m = F.regexp_extract("url", r"doc(\d+)$", 1).cast("bigint") % 4
        noisy = (
            F.when(m == 1, F.concat(F.lit("HTTPS://"), F.upper(host), path,
                                    F.lit("#sec")))
            .when(m == 2, F.concat(F.lit("https://"), host, F.lit(":443"),
                                   path,
                                   F.lit("?utm_source=news&utm_medium=em")))
            .when(m == 3, F.concat(F.col("url"), F.lit("?b=2&a=1&gclid=x")))
            .otherwise(F.col("url")))
        canon = canonicalize_url(noisy)
        d = pages.select(
            "lang",
            (noisy != canon).cast("long").alias("_changed"),
            (canon.eqNullSafe(F.col("url"))).cast("long").alias("_identity"),
            F.length(canon).alias("_len"))
        return d.groupBy("lang").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("_changed").cast("bigint").alias("n_changed"),
            F.sum("_identity").cast("bigint").alias("n_identity"),
            F.sum("_len").cast("bigint").alias("sum_len_canonical"))

    # class 3's canonical = url + '?a=1&b=2' (8 chars); everything else
    # round-trips to the original url exactly
    return run, f"""
WITH u AS (
  SELECT lang, url,
         CAST(regexp_extract(url, 'doc([0-9]+)$', 1) AS BIGINT) % 4 AS m
  FROM read_parquet('{pages_parquet_path(PAGES_ROWS)}')
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN m IN (1, 2, 3) THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
       CAST(sum(CASE WHEN m = 3 THEN 0 ELSE 1 END) AS BIGINT) AS n_identity,
       CAST(sum(length(url) + CASE WHEN m = 3 THEN 8 ELSE 0 END) AS BIGINT) AS sum_len_canonical
FROM u
GROUP BY lang
"""


def pii_redaction_query() -> Proof:
    """PII redaction (operators/pii.py) under an EXACT oracle. The fixture
    text has no organic PII (no digits or '@', FIXTURES.md), so the query
    plants deterministic spans derived from doc_id — one email / phone /
    IPv4 / URL each on its own doc_id residue class — then redacts with the
    real regex pipeline. The oracle recomputes counts AND the exact
    post-redaction length arithmetic from the planting rule alone (zero
    regex on the oracle side): any regex over- or under-match shifts
    len_after and breaks the hash."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        d = load(spark, sf_dir, "documents").select("doc_id", "lang", "text")
        did = F.col("doc_id")
        inj = F.concat(
            F.col("text"),
            F.when(did % 7 == 0, F.concat(
                F.lit(" contact user"), did.cast("string"),
                F.lit("@example.com"))).otherwise(F.lit("")),
            F.when(did % 5 == 0, F.concat(
                F.lit(" call 555-123-"),
                F.lpad((did % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
            F.when(did % 11 == 0, F.concat(
                F.lit(" from 10.0."), (did % 256).cast("string"),
                F.lit("."), ((did * 7) % 256).cast("string"))).otherwise(F.lit("")),
            F.when(did % 13 == 0, F.concat(
                F.lit(" see https://example.org/p/"),
                did.cast("string"))).otherwise(F.lit("")),
        )
        red = redact_pii(d.withColumn("text", inj), "text")
        return red.groupBy("lang").agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_email").cast("bigint").alias("emails"),
            F.sum("n_phone").cast("bigint").alias("phones"),
            F.sum("n_ipv4").cast("bigint").alias("ips"),
            F.sum("n_url").cast("bigint").alias("urls"),
            F.sum(F.length("text")).cast("bigint").alias("len_before"),
            F.sum(F.length("redacted")).cast("bigint").alias("len_after"))

    # span = the substring the regex must match exactly; the planted
    # lead-in words (' contact ', ' call ', ...) must SURVIVE redaction.
    # Replacement tokens: [EMAIL]=7 [PHONE]=7 [IP]=4 [URL]=5 chars.
    return run, """
WITH inj AS (
  SELECT lang,
    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS e,
    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS p,
    CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS i,
    CASE WHEN doc_id % 13 = 0 THEN 1 ELSE 0 END AS u,
    CASE WHEN doc_id % 7 = 0 THEN length('user' || CAST(doc_id AS VARCHAR) || '@example.com') ELSE 0 END AS se,
    CASE WHEN doc_id % 5 = 0 THEN 12 ELSE 0 END AS sp,
    CASE WHEN doc_id % 11 = 0 THEN length('10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id * 7) % 256 AS VARCHAR)) ELSE 0 END AS si,
    CASE WHEN doc_id % 13 = 0 THEN length('https://example.org/p/' || CAST(doc_id AS VARCHAR)) ELSE 0 END AS su,
    length(text)
      + CASE WHEN doc_id % 7 = 0 THEN 9 ELSE 0 END   -- ' contact '
      + CASE WHEN doc_id % 5 = 0 THEN 6 ELSE 0 END   -- ' call '
      + CASE WHEN doc_id % 11 = 0 THEN 6 ELSE 0 END  -- ' from '
      + CASE WHEN doc_id % 13 = 0 THEN 5 ELSE 0 END  -- ' see '
      AS len_keep
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS docs,
       CAST(sum(e) AS BIGINT) AS emails,
       CAST(sum(p) AS BIGINT) AS phones,
       CAST(sum(i) AS BIGINT) AS ips,
       CAST(sum(u) AS BIGINT) AS urls,
       CAST(sum(len_keep + se + sp + si + su) AS BIGINT) AS len_before,
       CAST(sum(len_keep + 7 * e + 7 * p + 4 * i + 5 * u) AS BIGINT) AS len_after
FROM inj
GROUP BY lang
"""


# -- multi-stage surfaces ----------------------------------------------------

def multimodal_all_query(every_nth: int = 2, factor: int = 2) -> Proof:
    """All four multimodal stages (image features, audio features, video
    frame sampling, image resize) melted into ONE long-format result so the
    whole multimodal surface fits a single driver row. The driver's
    correctness artifact records at most 50 queries (CORRECTNESS_r03 held
    exactly the first 50 of 53 registered, in registration order), so the
    four per-stage queries are consolidated; each stage is still oracled
    per-row at full fidelity — the melt loses nothing.

    Schema: (stage, media_id, metric, dval, sval); sval = '' where a stage
    has no string metric (no NULLs, keeping the driver hash unambiguous)."""

    def melt(df: DataFrame, stage: str, id_col: str,
             dcols: list[str]) -> DataFrame:
        kvs = [F.struct(F.lit(c).alias("metric"),
                        F.col(c).cast("double").alias("dval"))
               for c in dcols]
        return df.select(
            F.lit(stage).alias("stage"), F.col(id_col).alias("media_id"),
            F.explode(F.array(*kvs)).alias("kv")
        ).select("stage", "media_id", F.col("kv.metric").alias("metric"),
                 F.col("kv.dval").alias("dval"), F.lit("").alias("sval"))

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        docs = load(spark, sf_dir, "documents")
        # REAL codec path: write genuine P6 PPM images, parse them back
        # (fake=False) — header dims + padded-raster brightness + container
        # size pin that a real image container was written and parsed
        img = decode_image_features(
            encode_ppm_rgb(media_from_documents(docs)), fake=False).select(
            "media_id", F.col("width").cast("long").alias("width"),
            F.col("height").cast("long").alias("height"),
            F.round("mean_luma", 9).alias("mean_luma"), "n_bytes")
        # REAL codec path: write genuine RIFF/WAVE containers, demux them
        # with stdlib wave (fake=False) — the oracle's +44-byte n_bytes and
        # frame-count duration pin that real containers were round-tripped
        aud = decode_audio_features(
            encode_wav_pcm8(media_from_documents(docs, "audio")),
            fake=False).select(
            "media_id", F.round("duration_s", 9).alias("duration_s"),
            F.round("mean_amp", 9).alias("mean_amp"), "n_bytes")
        frames = sample_video_frames(
            media_from_documents(docs, "video"), every_nth=every_nth,
            fake=True).select(
            F.lit("frame_sample").alias("stage"),
            F.col("media_id"),
            F.col("frame_idx").cast("string").alias("metric"),
            F.length("frame").cast("double").alias("dval"),
            F.md5("frame").alias("sval"))
        rez = resize_images(
            media_from_documents(docs), factor=factor, fake=True).select(
            F.lit("image_resize").alias("stage"),
            F.col("media_id"),
            F.lit("resized").alias("metric"),
            F.col("out_bytes").cast("double").alias("dval"),
            F.md5("resized").alias("sval"))
        return (melt(img, "image_features", "media_id",
                     ["width", "height", "mean_luma", "n_bytes"])
                .unionByName(melt(aud, "audio_features", "media_id",
                                  ["duration_s", "mean_amp", "n_bytes"]))
                .unionByName(frames)
                .unionByName(rez))

    def melt_sql(inner: str, stage: str, pairs: list[str]) -> str:
        arms = " UNION ALL ".join(
            f"SELECT '{stage}' AS stage, media_id, '{c}' AS metric, "
            f"CAST({c} AS DOUBLE) AS dval, '' AS sval FROM sub_{stage}"
            for c in pairs)
        return f"sub_{stage} AS ({inner})", arms

    img_cte, img_sel = melt_sql(ppm_image_features_oracle_sql("documents"),
                                "image_features",
                                ["width", "height", "mean_luma", "n_bytes"])
    aud_cte, aud_sel = melt_sql(
        audio_features_oracle_sql(
            "documents", container_overhead=_WAV_PCM8_HEADER_BYTES),
        "audio_features", ["duration_s", "mean_amp", "n_bytes"])
    frm = frame_sample_oracle_sql("documents", every_nth=every_nth)
    rez = resize_images_oracle_sql("documents", factor=factor)
    return run, f"""
WITH {img_cte},
{aud_cte},
sub_frames AS ({frm}),
sub_resize AS ({rez})
{img_sel}
UNION ALL {aud_sel}
UNION ALL SELECT 'frame_sample' AS stage, media_id,
       CAST(frame_idx AS VARCHAR) AS metric,
       CAST(frame_bytes AS DOUBLE) AS dval, frame_md5 AS sval
FROM sub_frames
UNION ALL SELECT 'image_resize' AS stage, media_id, 'resized' AS metric,
       CAST(out_bytes AS DOUBLE) AS dval, resized_md5 AS sval
FROM sub_resize
"""


def topk_exact_query(table: str, item_col: str, k: int, n_parts: int,
                     fudge: int = 4) -> Proof:
    """Exact pruned top-k over a multi-partition layout. The layout is
    created AFTER projecting to the item column: repartition() round-robins
    whole rows, so repartitioning the full table would shuffle every column
    to then count one (guide §2.3 "project before the exchange"); the
    verified exact top-k is layout-invariant either way."""
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        items = load(spark, sf_dir, table).select(item_col).repartition(n_parts)
        return topk_exact_pruned(items, item_col, k, fudge=fudge)
    return run, topk_exact_oracle_sql(table, item_col, k)


def topk_exact_surface_query(langs: Proof, partkeys: Proof) -> Proof:
    """Both exact pruned top-k proofs in one long-format result (50-row
    driver cap; see multimodal_all_query): (kind, item-as-string, cnt,
    rank). Each sub-proof unchanged.

    The two proofs read different tables and drive independent pruning
    loops (cache + per-round collect each), so they run from a 2-thread
    pool (guide §2.6: the second proof's jobs back-fill executors idled by
    the first's driver round-trips and stage tails). Results are combined
    exactly as before; each proof's output is unchanged."""
    (lang_q, lang_sql), (partkey_q, partkey_sql) = langs, partkeys

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        with ThreadPoolExecutor(max_workers=2) as pool:
            fa = pool.submit(lang_q, spark, sf_dir)
            fb = pool.submit(partkey_q, spark, sf_dir)
            ra, rb = fa.result(), fb.result()
        a = ra.select(
            F.lit("langs").alias("kind"), F.col("item").cast("string").alias("item"),
            "cnt", "rank")
        b = rb.select(
            F.lit("partkeys").alias("kind"), F.col("item").cast("string").alias("item"),
            "cnt", "rank")
        return a.unionByName(b)
    return run, f"""
WITH sub_l AS ({lang_sql}), sub_p AS ({partkey_sql})
SELECT 'langs' AS kind, CAST(item AS VARCHAR) AS item, cnt, rank FROM sub_l
UNION ALL
SELECT 'partkeys' AS kind, CAST(item AS VARCHAR) AS item, cnt, rank FROM sub_p
"""


def curation_stats_surface_query(rebalance: Proof, vocab: Proof) -> Proof:
    """Both single-scan curation dashboards (deterministic lang rebalance;
    vocabulary stats) in one long-format result — consolidation for the
    driver's 50-row correctness cap (see multimodal_all_query); m3 = -1
    where the sub-proof has only two metrics."""
    (rebalance_q, rebalance_sql), (vocab_q, vocab_sql) = rebalance, vocab

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = rebalance_q(spark, sf_dir).select(
            F.lit("rebalance").alias("src"), F.col("lang"),
            F.col("n_total").cast("bigint").alias("m1"),
            F.col("n_kept").cast("bigint").alias("m2"),
            F.lit(-1).cast("bigint").alias("m3"))
        b = vocab_q(spark, sf_dir).select(
            F.lit("vocab").alias("src"), F.col("lang"),
            F.col("n_tokens").cast("bigint").alias("m1"),
            F.col("n_vocab").cast("bigint").alias("m2"),
            F.col("n_hapax").cast("bigint").alias("m3"))
        return a.unionByName(b)
    return run, f"""
WITH sub_r AS ({rebalance_sql}), sub_v AS ({vocab_sql})
SELECT 'rebalance' AS src, lang, CAST(n_total AS BIGINT) AS m1,
       CAST(n_kept AS BIGINT) AS m2, CAST(-1 AS BIGINT) AS m3 FROM sub_r
UNION ALL
SELECT 'vocab' AS src, lang, CAST(n_tokens AS BIGINT) AS m1,
       CAST(n_vocab AS BIGINT) AS m2, CAST(n_hapax AS BIGINT) AS m3 FROM sub_v
"""


def curation_windows_surface_query(pack: Proof, chunk: Proof) -> Proof:
    """Both per-doc window-arithmetic proofs (context packing; overlapping
    chunking with exact-content hashes) in one long-format result —
    consolidation for the driver's 50-row correctness cap. key = the
    sub-proof's group key rendered as a string."""
    (pack_q, pack_sql), (chunk_q, chunk_sql) = pack, chunk

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        a = pack_q(spark, sf_dir).select(
            F.lit("pack").alias("src"),
            # coalesce on BOTH sides (oracle uses the same): concat_ws
            # SKIPS null args while SQL || propagates NULL — a NULL lang
            # would silently diverge the keys otherwise
            F.concat_ws(":", F.coalesce(F.col("lang"), F.lit("")),
                        F.col("chunk").cast("string")).alias("key"),
            F.col("n_docs").cast("bigint").alias("m1"),
            F.col("sum_tokens").cast("bigint").alias("m2"),
            F.lit(-1).cast("bigint").alias("m3"))
        b = chunk_q(spark, sf_dir).select(
            F.lit("chunks").alias("src"),
            F.col("n_chunks").cast("string").alias("key"),
            F.col("n_docs").cast("bigint").alias("m1"),
            F.col("sum_chunk_tokens").cast("bigint").alias("m2"),
            F.col("sum_chunk_hash").cast("bigint").alias("m3"))
        return a.unionByName(b)
    return run, f"""
WITH sub_p AS ({pack_sql}), sub_c AS ({chunk_sql})
SELECT 'pack' AS src, coalesce(lang, '') || ':' || CAST(chunk AS VARCHAR) AS key,
       CAST(n_docs AS BIGINT) AS m1, CAST(sum_tokens AS BIGINT) AS m2,
       CAST(-1 AS BIGINT) AS m3 FROM sub_p
UNION ALL
SELECT 'chunks' AS src, CAST(n_chunks AS VARCHAR) AS key,
       CAST(n_docs AS BIGINT) AS m1, CAST(sum_chunk_tokens AS BIGINT) AS m2,
       CAST(sum_chunk_hash AS BIGINT) AS m3 FROM sub_c
"""


_CMS_PROBES = list(range(40))
_BLOOM_PROBES = list(range(60))
_ANN_PROBES = [0, 1, 2, 3, 4]

_P50_99 = {"p50": 0.5, "p99": 0.99}
_P503 = {"p50": 0.5, "p90": 0.9, "p99": 0.99}

# cap the dominant language at a quarter, lightly trim the next one —
# the deterministic-rebalancing driver fixture
_REBALANCE_FRACS = {"en": 0.25, "zh": 0.8}

# Several registry entries consolidate related sub-proofs into one
# long-format result: a correctness run records at most 50 proofs (see
# multimodal_all_query and __spark_entry__.MAX_DRIVER_QUERIES).
PROOFS: dict[str, Proof] = {
    "ddsketch_textlen_by_lang": quantile_proof(
        "documents", "length(text)", ["lang"], _P503),
    "ddsketch_nchars_global": quantile_proof(
        "documents", "n_chars", [], {"p50": 0.5, "p99": 0.99, "p999": 0.999}),
    "ddsketch_events_value_by_type": quantile_proof(
        "events", "value", ["event_type"], {"p50": 0.5, "p95": 0.95, "p99": 0.99}),
    "ddsketch_events_centered_by_type": quantile_proof(
        "events", "value - 100.0", ["event_type"], _P503),
    "ddsketch_price_by_returnflag": quantile_proof(
        "lineitem", "l_extendedprice", ["l_returnflag"], _P50_99),
    "ddsketch_events_by_day": per_day_quantile_query(
        "events", "ts", "value", _P50_99),
    "ddsketch_weighted_price_by_flag": weighted_quantile_query(
        "lineitem", "l_extendedprice", "l_quantity", ["l_returnflag"], _P50_99),
    # max_bins is small enough that the cap TRIGGERS on this data (low
    # quantiles land in the folded floor bucket), so the oracle pins the
    # collapse math itself, not just the walk
    "ddsketch_collapsed_quantiles": quantile_proof(
        "documents", "length(text)", ["lang"],
        {"p01": 0.01, "p10": 0.1, "p50": 0.5, "p99": 0.99},
        cfg=SketchConfig("logarithmic_collapsing_lowest_dense", ALPHA, 64)),
    "ddsketch_multi_feature_quantiles": multi_feature_query(_P50_99),
    "ddsketch_salted_textlen_by_lang": quantile_proof(
        "documents", "length(text)", ["lang"], _P50_99, build=_salted_walk),
    # pipeline composition: quality filter -> exact dedup -> per-lang sketch
    "pipeline_quality_dedup_sketch": pipeline_quality_dedup_sketch_query(
        _P50_99),
    # LogCubic IS SQL-expressible: IEEE exponent = corrected floor(log2),
    # exact power-of-two division for the significand, cubic + Cardano in
    # the kernel's op order (oracle.py layout='cubic'; index side verified
    # exactly against the kernel on 70k+ values incl. power-of-two edges)
    "ddsketch_cubic_textlen_by_lang": quantile_proof(
        "documents", "length(text)", ["lang"], _P503, build=_blob_walk,
        cfg=SketchConfig("unbounded_dense", ALPHA, 0)),
    "ddsketch_cubic_bound_check": cubic_bound_check_query(
        "documents", "length(text)", ["lang"], _P503),
    "ddsketch_stats_surface": sketch_stats_surface_query(
        sketch_stats_query("documents", "length(text)", ["lang"]),
        sketch_stats_query("events", "value - 100.0", ["event_type"])),
    # the north-star pipeline on the input_hint pages shape: extract text
    # from raw html (both engines), sketch the 3 flagship features per lang;
    # the oracle reads the STORED text column -> hash match proves the
    # byte-identical-extraction invariant end-to-end
    "pages_extract_features_quantiles": pages_features_query(_P50_99),
    "ddsketch_textlen_by_lang_pandas_path": quantile_proof(
        "documents", "length(text)", ["lang"], _P503, build=_blob_walk),
    # streaming partials + retry-duplicate + merge-on-read must equal the
    # one-shot batch sketch (mergeability + (keys, batch_id) dedup)
    "streaming_quantiles_events": quantile_proof(
        "events", "value", ["event_type"], _P50_99, build=_stream_walk),
    "streaming_stateful_running_p99": stateful_streaming_query(
        "events", "value", "event_type", quantile=0.99),
    # watermarked windowed streaming histogram == batch per-(day, type) build
    "streaming_windowed_daily_quantiles": windowed_streaming_query(
        "events", "value", "event_type", "ts", _P50_99),
    "hll_users_by_event_type": hll_query("events", "user_id", ["event_type"], p=14),
    # the partial builds share one scan + one Python stage (round 6)
    "sketch_sql_union_surface": sketch_sql_union_surface_query(
        "events", "user_id", "event_type", ["purchase", "click"],
        _CMS_PROBES, _BLOOM_PROBES,
        hll_p=14, kmv_k=256, cms_depth=5, cms_width=2048,
        bloom_m=1 << 17, bloom_k=5),
    "ddsketch_sql_surface_quantiles": quantile_proof(
        "documents", "length(text)", ["lang"], _P50_99,
        build=_sql_surface_walk),
    "hll_partkeys_by_returnflag": hll_query(
        "lineitem", "l_partkey", ["l_returnflag"], p=14),
    # diff = orderkeys returned (R) but never shipped-intact (N): ~26% of
    # the R set, deep in the sampled regime (11k+ distinct vs k=256) — a
    # non-degenerate difference (user_id x event_type pairs all overlap
    # fully in this fixture, so they'd pin nothing)
    "kmv_surface": kmv_surface_query(
        "events", "user_id", "event_type", "purchase", "click",
        kmv_difference_query(
            "lineitem", "l_orderkey", "l_returnflag", "R", "N", k=256),
        k=256),
    # north-star skew story on the input_hint shape: per-url-host sketch
    # over pages on the JVM histogram path, whose map-side combine absorbs
    # the hot host natively (see the builder docstring for why not salting)
    "pages_host_textlen_quantiles": pages_host_quantile_query(_P50_99),
    "cms_user_event_counts": probe_query(
        "cms", "events", "user_id", _CMS_PROBES, depth=5, width=4096),
    "bloom_purchase_users": probe_query(
        "bloom", "events", "user_id", _BLOOM_PROBES, m_bits=1 << 18, k=7,
        where="event_type = 'purchase'"),
    # tdigest/kll: estimates are input-order-dependent (not SQL-expressible),
    # but the exact counts + rank-containment booleans ARE deterministic —
    # the oracle pins cnt and asserts the bound booleans TRUE
    "tdigest_value_by_event_type": quantile_rank_check_query(
        "tdigest", "events", "value", ["event_type"], _P503, bound=0.03),
    "kll_price_by_returnflag": quantile_rank_check_query(
        "kll", "lineitem", "l_extendedprice", ["l_returnflag"], _P503,
        bound=0.03),
    # blobs merged through spark.sql (tdigest_merge/kll_merge UDAFs): same
    # exact-count + rank-containment oracle pins the merged estimates
    "sketch_sql_merge_rank_checks": merged_rank_checks_query(
        quantile_rank_check_query(
            "tdigest", "events", "value", ["event_type"], _P503, bound=0.03,
            sql_merge_splits=4),
        quantile_rank_check_query(
            "kll", "lineitem", "l_extendedprice", ["l_returnflag"], _P503,
            bound=0.03, sql_merge_splits=4)),
    "text_features_documents": text_features_query(),
    "dedup_exact_stats": table_proof(
        "documents", exact_dup_stats, exact_dup_stats_oracle_sql),
    # sharing one checkpointed shingle table (see the builder docstring)
    "dedup_jaccard_surface": dedup_jaccard_surface_query(
        shingle_k=3, threshold=0.3, capped_df=5),
    # line doc-frequencies + reconstruction arithmetic recomputed in SQL
    "text_boilerplate_removal": boilerplate_removal_query(),
    "dedup_minhash_lsh_pairs": minhash_lsh_query(),
    "ann_topk_surface": ann_topk_surface_query(
        ann_query(brute_force_topk, brute_force_topk_oracle_sql, _ANN_PROBES),
        ann_query(lsh_topk, lsh_topk_oracle_sql, _ANN_PROBES, nbits=6, dim=64),
        ann_query(ivf_topk, ivf_topk_oracle_sql, _ANN_PROBES,
                  n_centroids=16, n_probe=4)),
    "topk_exact_surface": topk_exact_surface_query(
        topk_exact_query("documents", "lang", 5, n_parts=7),
        topk_exact_query("lineitem", "l_partkey", 10, n_parts=9, fudge=8)),
    "dedup_simhash_near_pairs": simhash_pairs_query(max_hamming=3),
    "dedup_embedding_cosine_pairs": table_proof(
        "embeddings", embedding_near_dup_pairs, embedding_near_dup_oracle_sql,
        0.4, dim=64, nbits=6, multi_probe=1),
    "dedup_keep_canonical_docs": keep_canonical_query(max_hamming=3),
    "dedup_incremental_new_shard": incremental_dedup_query(
        threshold=0.3, nbits=6, dim=64),
    "dedup_incremental_simhash_text": incremental_simhash_query(
        max_hamming=3, n_blocks=6),
    "contamination_evalset_overlap": contamination_query(min_common=6),
    "topk_langs_cms": table_proof(
        "documents", topk_cms, topk_cms_oracle_sql, "lang", 3,
        depth=5, width=8192),
    "multimodal_media_stages": multimodal_all_query(every_nth=2, factor=2),
    "text_winnow_fingerprints": winnow_fingerprint_query(),
    # corpus-curation operators (training-data pipeline shapes)
    "curation_stats_surface": curation_stats_surface_query(
        table_proof("documents", rebalance_stats, rebalance_stats_oracle_sql,
                    _REBALANCE_FRACS),
        table_proof("documents", vocab_stats, vocab_stats_oracle_sql)),
    # context packing + overlapping chunking (exact per-chunk content hashes)
    "curation_windows_surface": curation_windows_surface_query(
        table_proof("documents", pack_context_windows,
                    pack_context_windows_oracle_sql, budget=2048),
        table_proof("documents", chunk_stats, chunk_stats_oracle_sql,
                    chunk_tokens=24, overlap_tokens=8)),
    # PII redaction: counts + exact length arithmetic derived from the
    # planting rule — no regex on the oracle side (operators/pii.py)
    "pii_redaction_stats": pii_redaction_query(),
    # URL canonicalization: expected canonical forms per planting class,
    # plain string arithmetic
    "url_canonicalize_stats": url_canonicalize_query(),
}
