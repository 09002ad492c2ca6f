"""Structured Streaming sketch aggregation tests (file source, availableNow)."""

import glob
import os

import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
from sketches_rust_spark.functions.ddsketch_sql import ddsketch_aggregate_sql
from sketches_rust_spark.kernel.sketch import DDSketch
from sketches_rust_spark.streaming.sketch_stream import (
    merged_stream_result,
    stateful_sketch_stream,
    stream_sketch_partials,
    windowed_sketch_histogram,
)

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)


@pytest.fixture()
def events_stream_dir(spark, tmp_path):
    """events split into 4 files to simulate stream arrivals."""
    src = spark.read.parquet("/root/testdata/sf0.01/events.parquet")
    path = str(tmp_path / "stream_src")
    src.repartition(4).write.parquet(path)
    return path


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    return (spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(path))


def test_stream_partials_merge_equals_batch(spark, tmp_path, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir).select(
        "event_type", F.col("value").cast("double").alias("v"))
    sink = str(tmp_path / "sink")
    q = stream_sketch_partials(stream, "v", ["event_type"], CFG, sink,
                               str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    # one partial blob row per (batch, group)
    n_batches = len({os.path.basename(f) for f in glob.glob(sink + "/*.parquet")})
    assert n_batches >= 2  # maxFilesPerTrigger=1 over 4 files -> >= 2 batches

    merged = merged_stream_result(spark, sink, ["event_type"], CFG)
    got = {r["event_type"]: bytes(r["sketch"]) for r in merged.collect()}

    batch_df = spark.read.parquet(events_stream_dir).select(
        "event_type", F.col("value").cast("double").alias("v"))
    want = {r["event_type"]: bytes(r["sketch"]) for r in
            ddsketch_aggregate_sql(batch_df, "v", ["event_type"], CFG).collect()}
    assert got == want  # streaming merge-on-read == batch build, byte-identical


def test_stateful_sketch_stream(spark, tmp_path, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir).select(
        F.col("event_type").alias("key"), F.col("value").cast("double").alias("v"))
    out = stateful_sketch_stream(stream, "v", "key", CFG, quantile=0.9)
    q = (out.writeStream.format("memory").queryName("running_sketches")
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt2"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    result = spark.sql(
        "SELECT key, max(count) AS count FROM running_sketches GROUP BY key")
    got = {r["key"]: r["count"] for r in result.collect()}
    want = {r["event_type"]: float(r["n"]) for r in
            spark.read.parquet(events_stream_dir)
            .groupBy("event_type").agg(F.count("value").alias("n")).collect()}
    assert got == want  # final running state saw every row exactly once


def test_windowed_histogram_stream(spark, tmp_path, events_stream_dir):
    stream = _read_stream(spark, events_stream_dir).select(
        F.col("ts").cast("timestamp").alias("ts"),  # source is TIMESTAMP_NTZ
        "event_type", F.col("value").cast("double").alias("v"))
    hist = windowed_sketch_histogram(stream, "v", ["event_type"], CFG,
                                     ts_col="ts", window_duration="7 days",
                                     watermark="0 seconds")
    q = (hist.writeStream.format("memory").queryName("win_hist")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckpt3"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    total = spark.sql("SELECT CAST(sum(c) AS BIGINT) AS n FROM win_hist").collect()[0]["n"]
    assert total == spark.read.parquet(events_stream_dir).count()
    # at least one window per 7-day span and buckets carry counts per group
    groups = spark.sql("SELECT count(DISTINCT event_type) AS g FROM win_hist").collect()[0]["g"]
    assert groups == 5


def test_merge_on_read_idempotent_under_batch_retry(spark, tmp_path,
                                                    events_stream_dir):
    """foreachBatch is at-least-once: simulate a retried micro-batch by
    appending the same batch's partials twice — merged_stream_result must
    not double-count."""
    batch_df = spark.read.parquet(events_stream_dir).select(
        "event_type", F.col("value").cast("double").alias("v"))
    sink = str(tmp_path / "retry_sink")
    partials = (ddsketch_aggregate_sql(batch_df, "v", ["event_type"], CFG)
                .withColumn("batch_id", F.lit(0)))
    partials.write.mode("append").parquet(sink)
    partials.write.mode("append").parquet(sink)  # the retry

    merged = merged_stream_result(spark, sink, ["event_type"], CFG)
    got = {r["event_type"]: DDSketch.decode(bytes(r["sketch"])).get_count()
           for r in merged.collect()}
    want = {r["event_type"]: r["n"] for r in
            batch_df.groupBy("event_type").agg(F.count("v").alias("n")).collect()}
    assert got == {k: float(v) for k, v in want.items()}


def test_windowed_histogram_weighted(spark, tmp_path, events_stream_dir):
    """Weighted streaming histogram: per-bucket c = sum(weight), matching
    the batch weighted histogram over the same data."""
    from sketches_rust_spark.functions.ddsketch_sql import ddsketch_histogram

    stream = _read_stream(spark, events_stream_dir).select(
        F.col("ts").cast("timestamp").alias("ts"),
        "event_type", F.col("value").cast("double").alias("v"),
        (F.col("user_id") % 3 + 1).cast("double").alias("w"))
    hist = windowed_sketch_histogram(stream, "v", ["event_type"], CFG,
                                     ts_col="ts", window_duration="365 days",
                                     watermark="0 seconds", weight_col="w")
    q = (hist.writeStream.format("memory").queryName("win_hist_w")
         .outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ckptw"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)

    batch = spark.read.parquet(events_stream_dir).select(
        "event_type", F.col("value").cast("double").alias("v"),
        (F.col("user_id") % 3 + 1).cast("double").alias("w"))
    want = {(r["event_type"], r["side"], r["idx"]): r["c"] for r in
            ddsketch_histogram(batch, "v", ["event_type"], CFG, "w").collect()}
    got = {(r["event_type"], r["side"], r["idx"]): r["c"] for r in
           spark.sql("SELECT event_type, side, idx, c FROM win_hist_w").collect()}
    assert got == want


def test_event_time_eviction_is_watermark_driven(spark, tmp_path):
    """The EventTimeTimeout variant evicts on the DATA's clock: a key whose
    last event timestamp + idle_gap falls behind the advancing watermark is
    dropped, regardless of wall-clock pacing — the deterministic behavior a
    100-TB replay/backfill needs (ProcessingTimeTimeout would evict
    nothing, or everything, depending on replay speed).

    Sequencing: ONE continuous query; each file drop advances event time by
    a scripted amount, and each step waits for the observed sink row, so
    the eviction order is a pure function of the timestamps:
      T0: k1, k2 arrive             -> both live
      T0+20s: k1 arrives            -> watermark passes k2's T0+5s deadline
                                        -> k2 evicted (final count 5)
      T0+30s: k2 reappears          -> RE-INITIALIZED (count 3, not 8);
                                        watermark passes k1's T0+25s
                                        deadline -> k1 evicted (count 11)
      T0+40s: k1 reappears          -> fresh state (count 2, not 13);
                                        watermark passes k2's T0+35s
                                        deadline -> k2 evicted again
    (watermark delay 2 s, idle gap 5 s; no eviction ever fires from wall
    clock — the test never sleeps for eviction, only polls the sink).

    Runs with a NON-UTC session timezone: applyInPandasWithState hands
    pandas session-tz-localized tz-stripped timestamps, so a Python-side
    epoch conversion would shift every deadline by the tz offset against
    the UTC watermark (at UTC-4 every key would be evicted on the next
    watermark advance). The operator computes epoch ms JVM-side; this test
    is red if that regresses."""
    import time
    from datetime import datetime, timedelta

    from sketches_rust_spark.streaming.sketch_stream import (
        stateful_sketch_stream_with_event_time_eviction)

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    os.makedirs(src)
    t0 = datetime(2025, 6, 1, 0, 0, 0)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")

    def write_file(rows_at):  # [(key, n_rows, offset_s)]
        rows = [(k, float(i), t0 + timedelta(seconds=off))
                for k, n, off in rows_at for i in range(n)]
        spark.createDataFrame(rows, ["key", "v", "ts"]).coalesce(1) \
            .write.mode("append").parquet(src)

    write_file([("k1", 10, 0), ("k2", 5, 0)])
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = stateful_sketch_stream_with_event_time_eviction(
        stream, "v", "key", CFG, ts_col="ts", quantile=0.5,
        watermark="2 seconds", idle_gap_ms=5_000)
    q = (out.writeStream
         .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="200 milliseconds").start())

    def await_rows(expect, timeout_s=90):
        deadline = time.time() + timeout_s
        got = set()
        while time.time() < deadline:
            try:
                got = {(r["key"], r["evicted"], r["count"])
                       for r in spark.read.parquet(sink).collect()}
            except Exception:
                got = set()
            if expect <= got:
                return
            time.sleep(0.2)
        raise AssertionError(f"wanted {expect}, sink has {got}")

    try:
        await_rows({("k1", False, 10.0), ("k2", False, 5.0)})
        # k1 advances event time; ONLY k2's deadline is behind the new
        # watermark -> k2 evicted with its final count, k1 keeps its state
        write_file([("k1", 1, 20)])
        await_rows({("k1", False, 11.0), ("k2", True, 5.0)})
        # k2 reappears: re-initialized; its arrival advances the watermark
        # past k1's deadline -> k1 evicted carrying count 11
        write_file([("k2", 3, 30)])
        await_rows({("k2", False, 3.0), ("k1", True, 11.0)})
        # k1 reappears fresh; watermark passes k2's second deadline
        write_file([("k1", 2, 40)])
        await_rows({("k1", False, 2.0), ("k2", True, 3.0)})
        all_rows = {(r["key"], r["evicted"], r["count"])
                    for r in spark.read.parquet(sink).collect()}
        assert ("k2", False, 8.0) not in all_rows
        assert ("k1", False, 13.0) not in all_rows
    finally:
        q.stop()
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_stateful_eviction_bounds_state_and_reinitializes(spark, tmp_path):
    """The timeout-eviction variant must (1) evict idle keys — emitting a
    final evicted=true row and dropping their state — and (2) RE-INITIALIZE
    an evicted key from empty when it reappears (count restarts instead of
    continuing), proving state size is bounded under key churn rather than
    one-blob-per-key forever.

    ONE continuously-running query (processingTime trigger): processing-time
    timers fire in the empty batches between file arrivals, and every step
    waits for the OBSERVED sink row before proceeding, so the sequencing is
    deterministic under load (an availableNow variant races restarts
    against wall-clock timers)."""
    import time

    from sketches_rust_spark.streaming.sketch_stream import (
        stateful_sketch_stream_with_eviction)

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    os.makedirs(src)

    def write_file(rows):
        spark.createDataFrame(rows, ["key", "v"]).coalesce(1) \
            .write.mode("append").parquet(src)

    # schema source file (consumed as the first micro-batch)
    write_file([("k1", float(i)) for i in range(10)]
               + [("k2", float(i)) for i in range(5)])
    schema = spark.read.parquet(src).schema
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 100).parquet(src))
    out = stateful_sketch_stream_with_eviction(
        stream, "v", "key", CFG, quantile=0.5, timeout_ms=2_000)
    q = (out.writeStream
         .foreachBatch(lambda df, bid: df.write.mode("append").parquet(sink))
         .outputMode("update")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(processingTime="200 milliseconds").start())

    def await_rows(expect, timeout_s=90):
        deadline = time.time() + timeout_s
        got = set()
        while time.time() < deadline:
            try:
                got = {(r["key"], r["evicted"], r["count"])
                       for r in spark.read.parquet(sink).collect()}
            except Exception:
                got = set()  # sink not written yet
            if expect <= got:
                return
            time.sleep(0.2)
        raise AssertionError(f"wanted {expect}, sink has {got}")

    try:
        # batch 1: both keys build state
        await_rows({("k1", False, 10.0), ("k2", False, 5.0)})
        # idle 2 s: the running query's empty batches fire both timers —
        # eviction markers carry each key's final count, state is dropped
        await_rows({("k1", True, 10.0), ("k2", True, 5.0)})
        # k2 reappears: must RE-INITIALIZE from empty (3 rows, not 5 + 3)
        write_file([("k2", float(i)) for i in range(3)])
        await_rows({("k2", False, 3.0)})
        # ... and is evicted again after idling
        await_rows({("k2", True, 3.0)})
        # k1 reappears much later: fresh state as well (4 rows, not 10 + 4)
        write_file([("k1", float(i)) for i in range(4)])
        await_rows({("k1", False, 4.0)})
        # no row ever shows a continued count — state really was dropped
        all_rows = {(r["key"], r["evicted"], r["count"])
                    for r in spark.read.parquet(sink).collect()}
        assert ("k2", False, 8.0) not in all_rows
        assert ("k1", False, 14.0) not in all_rows
    finally:
        q.stop()


def test_streaming_proofs_leave_no_temp_state(spark, sf_dir):
    """The three streaming driver proofs clean up after themselves: no
    replay dir is left in the temp dir and no memory-sink table in the
    catalog once each query's result has been read."""
    import tempfile

    from sketches_rust_spark.operators.queries import PROOFS

    def replay_dirs():
        return set(glob.glob(os.path.join(tempfile.gettempdir(), "sketch_*_q_*")))

    def sink_tables():
        return {t.name for t in spark.catalog.listTables()
                if t.name.startswith("sketch_")}

    dirs, tables = replay_dirs(), sink_tables()
    for name in ("streaming_quantiles_events", "streaming_stateful_running_p99",
                 "streaming_windowed_daily_quantiles"):
        query, _ = PROOFS[name]
        assert len(query(spark, sf_dir).toPandas()) > 0
    assert replay_dirs() - dirs == set()
    assert sink_tables() - tables == set()
