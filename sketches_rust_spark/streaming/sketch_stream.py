"""Structured Streaming sketch aggregation.

Two shapes, both built on blob mergeability (the same property that makes
the batch two-level plan exact):

1. **append-only partials + merge-on-read** (`stream_sketch_partials` +
   `merged_stream_result`): each micro-batch writes its per-group partial
   blobs to an append-only parquet sink via ``foreachBatch``; readers merge
   blobs per group on demand. No state store at all — late data simply lands
   in a later batch's partial and merges in. This is the shape that survives
   10^12-row streams: state is bounded by (groups x batches) and compactable
   by re-merging. foreachBatch is at-least-once, so a retried micro-batch
   appends its partials twice; the reader restores exactly-once by deduping
   on (keys..., batch_id) — the build emits exactly one partial row per
   (group, batch), so the duplicate rows a retry appends are identical and
   the dedup is lossless.

2. **stateful running sketches** (`stateful_sketch_stream`): a custom
   stateful operator via ``applyInPandasWithState`` — per-key state IS the
   serialized sketch blob; every batch decodes-merges-encodes and emits the
   running quantile estimates. Demonstrates sketch-as-streaming-state; the
   state size is the blob size (KBs), not the data size.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Sequence

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

from ..functions.ddsketch_spark import SketchConfig, merge_partials
from ..functions.ddsketch_sql import ddsketch_aggregate_sql, ddsketch_histogram


def stream_state_partitions(staged_dir: str, n_batches: int) -> int:
    """Shuffle/state-store partition count for a streaming replay over
    ``staged_dir``: one partition per 64 MB of per-micro-batch input, at
    least one, with no ceiling.

    ``spark.sql.shuffle.partitions`` fixes the number of state-store
    instances per stateful operator at the first checkpoint, and AQE does
    not coalesce stateful streaming shuffles. A session value sized for
    table scans would make every micro-batch pay that many Python tasks and
    state commits whatever its size. 64 MB is Spark's default
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, so this is the
    count AQE would pick itself for an ordinary shuffle of that size.
    Sketch blobs merge exactly, so each stream's result is the same for any
    count; more partitions than the data needs buy only fixed cost. Each
    Python task pays a PySpark start-up floor of about 0.2 s. Measured in
    the traced ``stream_replay`` benchmark (4,000-row, 32 KB micro-batches
    at local[3], 4-core host), one partition instead of four: tasks per
    batch 9 -> 3 (partials) and 5 -> 2 (stateful), ``addBatch`` p50
    784 -> 635 ms and state commit p50 197 -> 32 ms."""
    total = 0
    for root, _dirs, files in os.walk(staged_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    per_batch = total // max(1, n_batches)
    return max(1, -(-per_batch // (64 << 20)))


@contextmanager
def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily pin spark.sql.shuffle.partitions to ``n`` (the
    state-store count of a streaming run, see stream_state_partitions) and
    disable AQE for the replay's micro-batch jobs; always restores the
    session values.

    AQE is off here because it has nothing to do: it does not coalesce
    stateful streaming shuffles, and ``n`` is already the count its advisory
    partition size would give. Adaptive re-planning then only adds
    per-query-stage latency to jobs whose input is a single micro-batch.
    Batch post-processing outside this scope keeps the session's AQE."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", str(n))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


def stream_sketch_partials(
    stream_df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: SketchConfig,
    sink_dir: str,
    checkpoint_dir: str,
    trigger_available_now: bool = True,
):
    """Start a streaming query writing per-batch partial sketch blobs.

    Each micro-batch runs the JVM-native histogram build (no raw-row Python)
    and appends (keys..., sketch, rows_in, batch_id) to ``sink_dir``.
    """
    keys = list(keys)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        partials = ddsketch_aggregate_sql(batch_df, value_col, keys, config)
        (partials.withColumn("batch_id", F.lit(batch_id))
         .write.mode("append").parquet(sink_dir))

    writer = (stream_df.writeStream
              .foreachBatch(write_batch)
              .option("checkpointLocation", checkpoint_dir))
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def merged_stream_result(spark: SparkSession, sink_dir: str,
                         keys: Sequence[str], config: SketchConfig) -> DataFrame:
    """Merge-on-read: fold all appended partials per group into final blobs.

    Idempotent under foreachBatch's at-least-once retries: a replayed batch
    re-appends one identical partial row per group (the batch build is a
    deterministic aggregate), so deduping on (keys..., batch_id) before the
    merge discards exactly the retry duplicates and nothing else."""
    keys = list(keys)
    partials = (spark.read.parquet(sink_dir)
                .dropDuplicates([*keys, "batch_id"])
                .drop("batch_id"))
    return merge_partials(partials, keys, config)


# per-key state of every stateful variant: the running sketch's blob
_STATE_SCHEMA = StructType([StructField("blob", BinaryType(), True)])


def stateful_sketch_stream(
    stream_df: DataFrame,
    value_col: str,
    key: str,
    config: SketchConfig,
    quantile: float = 0.99,
) -> DataFrame:
    """Running per-key sketches via applyInPandasWithState.

    State = the serialized sketch blob. Output per batch: (key, count,
    estimate, blob_bytes), with ``estimate`` the ``quantile`` value.
    """
    def update(key_tuple, pdf_iter, state: GroupState):
        sk, blob, _ = _fold_state(state, config, value_col, pdf_iter)
        state.update((bytearray(blob),))
        yield pd.DataFrame([{
            "key": key_tuple[0],
            "count": sk.get_count(),
            "estimate": sk.get_value_at_quantile(quantile),
            "blob_bytes": len(blob),
        }])

    return (stream_df
            .groupBy(F.col(key))
            .applyInPandasWithState(
                update,
                outputStructType=_out_schema(
                    stream_df, key, StructField("blob_bytes", LongType(), False)),
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.NoTimeout,
            ))


def stateful_sketch_stream_with_eviction(
    stream_df: DataFrame,
    value_col: str,
    key: str,
    config: SketchConfig,
    quantile: float = 0.99,
    timeout_ms: int = 60_000,
) -> DataFrame:
    """`stateful_sketch_stream` with BOUNDED state: a per-key processing-time
    timeout evicts keys idle for ``timeout_ms``. Without eviction the state
    store holds one blob per key FOREVER — under unbounded key churn (urls,
    user ids) that is the thing that kills a long-running 100-TB streaming
    job. Idle keys are dropped (emitting a final ``evicted=true`` row with
    their last count); a key that reappears re-initializes from empty, so
    the operator degrades to per-session sketches rather than dying.

    Output: (key, count, estimate, evicted)."""
    def arm(state: GroupState, batch_max_ts) -> None:
        state.setTimeoutDuration(timeout_ms)

    return (stream_df
            .groupBy(F.col(key))
            .applyInPandasWithState(
                _eviction_update(value_col, config, quantile, None, arm),
                outputStructType=_out_schema(stream_df, key, _EVICTED),
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
            ))


def stateful_sketch_stream_with_event_time_eviction(
    stream_df: DataFrame,
    value_col: str,
    key: str,
    config: SketchConfig,
    ts_col: str,
    quantile: float = 0.99,
    watermark: str = "10 seconds",
    idle_gap_ms: int = 30_000,
):
    """`stateful_sketch_stream_with_eviction` with WATERMARK-driven (event-
    time) eviction: a key's state is dropped once the stream's watermark
    passes its last event's timestamp + ``idle_gap_ms``.

    This is the replay-deterministic variant: ProcessingTimeTimeout fires on
    executor wall clock, so a backfill that replays a month of events in an
    hour evicts nothing (or everything, depending on pacing) — while the
    event-time timeout depends only on the DATA's timestamps and the
    watermark, so a 100-TB replay produces the same eviction sequence as
    the original live run. Same output contract: (key, count, estimate,
    evicted); evicted keys re-initialize from empty on reappearance.

    The stream gains ``withWatermark(ts_col, watermark)`` here — late rows
    beyond ``watermark`` are subject to the engine's late-data handling, and
    the watermark only advances as data arrives (no data => no eviction, by
    design: an idle SOURCE must not decay state during an outage).

    Epoch milliseconds are computed JVM-side (``unix_millis``) BEFORE the
    Python stage: applyInPandasWithState hands pandas the timestamp column
    localized to spark.sql.session.timeZone and tz-STRIPPED, so converting
    it to epoch in Python would shift every deadline by the session-tz
    offset against the UTC watermark (evicting everything immediately at
    UTC-8, or retaining hours too long at UTC+2). An int64 column has no
    timezone to get wrong."""
    def arm(state: GroupState, batch_max_ms) -> None:
        wm = state.getCurrentWatermarkMs()
        if batch_max_ms is not None:
            # Spark rejects a timeout timestamp <= current watermark; a
            # batch can legitimately carry only late rows for this key
            state.setTimeoutTimestamp(max(int(batch_max_ms) + idle_gap_ms,
                                          wm + 1))
        else:
            state.setTimeoutTimestamp(max(wm, 0) + idle_gap_ms)

    return (stream_df
            .withWatermark(ts_col, watermark)
            .withColumn("_evt_ms", F.unix_millis(F.col(ts_col)))
            .groupBy(F.col(key))
            .applyInPandasWithState(
                _eviction_update(value_col, config, quantile, "_evt_ms", arm),
                outputStructType=_out_schema(stream_df, key, _EVICTED),
                stateStructType=_STATE_SCHEMA,
                outputMode="update",
                timeoutConf=GroupStateTimeout.EventTimeTimeout,
            ))


_EVICTED = StructField("evicted", BooleanType(), False)


def _out_schema(stream_df: DataFrame, key: str, last: StructField) -> StructType:
    """Output schema of the stateful variants: (key, count, estimate, last).
    The key keeps the input column's type and nullability; null keys form
    one group of their own, as in the batch builds."""
    field = stream_df.schema[key]
    return StructType([
        StructField("key", field.dataType, field.nullable),
        StructField("count", DoubleType(), False),
        StructField("estimate", DoubleType(), True),
        last,
    ])


def _fold_state(state: GroupState, config: SketchConfig, value_col: str,
                pdf_iter, ts_col: str | None = None):
    """Load a key's running sketch from its state blob, insert the values of
    every chunk and encode it: (sketch, blob, max of ``ts_col`` over the
    chunks or None). Chunks are consumed streamingly — only the running max
    is tracked, never a buffered batch."""
    sk = config.new()
    if state.exists:
        (blob,) = state.get
        if blob is not None:
            sk.decode_and_merge_with(bytes(blob))
    batch_max_ts = None
    for pdf in pdf_iter:
        sk.accept_many(pdf[value_col].to_numpy(np.float64, na_value=np.nan))
        if ts_col is not None and len(pdf):
            mx = pdf[ts_col].max()
            if not pd.isna(mx) and (batch_max_ts is None or mx > batch_max_ts):
                batch_max_ts = mx
    return sk, sk.encode(), batch_max_ts


def _eviction_update(value_col: str, config: SketchConfig, quantile: float,
                     ts_col: str | None, arm):
    """Shared applyInPandasWithState update for the two eviction variants;
    ``arm(state, batch_max_ts)`` sets the next timeout (wall-clock duration,
    ignoring the timestamp; or watermark-relative event-time deadline from
    the batch max of ``ts_col`` — an int64 epoch-ms column, see
    stateful_sketch_stream_with_event_time_eviction)."""
    def update(key_tuple, pdf_iter, state: GroupState):
        timed_out = state.hasTimedOut
        # idle past the timeout: emit a final marker and drop the state
        sk, blob, batch_max_ts = _fold_state(
            state, config, value_col, () if timed_out else pdf_iter, ts_col)
        if timed_out:
            state.remove()
        else:
            state.update((bytearray(blob),))
            arm(state, batch_max_ts)
        yield pd.DataFrame([{
            "key": key_tuple[0],
            "count": sk.get_count(),
            "estimate": sk.get_value_at_quantile(quantile),
            "evicted": timed_out,
        }])
    return update


def windowed_sketch_histogram(
    stream_df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: SketchConfig,
    ts_col: str,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    weight_col: str | None = None,
) -> DataFrame:
    """Watermarked tumbling-window sketch histogram — the fully-native
    streaming aggregation: the batch ``ddsketch_histogram`` over the
    watermarked stream, with the ``window`` column as one more group key, so
    groupBy(window, keys, side, idx) runs in the state store with late-data
    handling from the watermark; downstream consumers assemble blobs or walk
    quantiles exactly as in batch. weight_col: weighted inserts (sum(weight)
    per bucket, same guards as the batch path)."""
    return ddsketch_histogram(stream_df.withWatermark(ts_col, watermark),
                              value_col,
                              [F.window(ts_col, window_duration), *keys],
                              config, weight_col)
