"""Checkpointed, resumable sketch aggregation with per-shard lineage.

North-rule requirement: at 10^12 rows a sketch build runs for hours; it must
be resumable from checkpoint with per-partition lineage + metrics. Design:

* The input's files are assigned deterministically to ``num_shards`` shards
  (sorted file list, round-robin) — stable across runs as long as the input
  snapshot is stable (with Iceberg this would key off the snapshot's file
  manifest; the parquet fallback uses the listed file set, and the manifest
  is persisted on the first run so a resume always uses the original
  assignment).
* Each shard's partial sketch blobs (keys..., sketch, rows_in) are written to
  ``checkpoint_dir/shards/shard=<id>/`` followed by a ``_SHARD_DONE`` marker
  containing lineage metrics (files, rows, wall ms, engine path). Writes are
  idempotent: a re-run overwrites an unmarked shard directory.
* ``resume=True`` (default) skips shards whose marker exists — a killed run
  re-does only unfinished shards.
* ``finalize()`` merges all shard partials per group (blob merge — pure
  level-2, no re-scan of the input) and writes the final blob table.

Mergeability makes this exact: the final blobs are byte-identical to a
single-shot build over the whole input (tested in tests/test_lineage.py).
"""

from __future__ import annotations

import json
import os
import time
from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.ddsketch_spark import SketchConfig, merge_partials
from ..functions.ddsketch_sql import _require_log_mapping, ddsketch_aggregate_sql

class SketchCheckpointJob:
    def __init__(
        self,
        spark: SparkSession,
        input_path: str,
        value_expr: str,
        keys: Sequence[str],
        config: SketchConfig,
        checkpoint_dir: str,
        num_shards: int = 16,
        transform=None,
    ):
        """transform: optional DataFrame -> DataFrame applied to each raw
        shard BEFORE the value-expr projection — e.g. deriving ``text``
        from the raw ``html`` binary (operators/extraction.py), so the
        resumable job covers the full raw-input pipeline. Must be
        deterministic: a resumed run re-derives identical partials.

        Shards build with ``ddsketch_aggregate_sql``, so a LogCubic preset
        raises ValueError here, before any checkpoint file is written."""
        _require_log_mapping(config)
        self.spark = spark
        self.input_path = input_path
        self.value_expr = value_expr
        self.keys = list(keys)
        self.config = config
        self.checkpoint_dir = checkpoint_dir
        self.num_shards = num_shards
        self.transform = transform
        os.makedirs(os.path.join(checkpoint_dir, "shards"), exist_ok=True)

    # -- shard manifest -------------------------------------------------------

    def _manifest_path(self) -> str:
        return os.path.join(self.checkpoint_dir, "manifest.json")

    def shard_assignment(self) -> dict[int, list[str]]:
        """Deterministic file->shard map, persisted on first run so resumes
        keep the original assignment even if the directory listing changes."""
        mp = self._manifest_path()
        if os.path.exists(mp):
            with open(mp) as f:
                return {int(k): v for k, v in json.load(f)["shards"].items()}
        files = sorted(
            os.path.join(self.input_path, f)
            for f in os.listdir(self.input_path)
            if f.endswith(".parquet")
        )
        if not files:  # single-file input
            files = [self.input_path]
        shards: dict[int, list[str]] = {i: [] for i in range(self.num_shards)}
        for i, f in enumerate(files):
            shards[i % self.num_shards].append(f)
        shards = {k: v for k, v in shards.items() if v}
        with open(mp, "w") as f:
            json.dump({"input": self.input_path, "shards": shards}, f, indent=1)
        return shards

    def _shard_dir(self, shard_id: int) -> str:
        return os.path.join(self.checkpoint_dir, "shards", f"shard={shard_id}")

    def _marker(self, shard_id: int) -> str:
        return os.path.join(self._shard_dir(shard_id), "_SHARD_DONE")

    def completed_shards(self) -> list[int]:
        return sorted(
            s for s in self.shard_assignment() if os.path.exists(self._marker(s))
        )

    # -- level 1: per-shard partials -------------------------------------------

    def _build_shard(self, shard_id: int, files: list[str]) -> dict:
        t0 = time.perf_counter()
        df = self.spark.read.parquet(*files)
        if self.transform is not None:
            df = self.transform(df)
        df = df.select(
            *self.keys, F.expr(self.value_expr).cast("double").alias("_v")
        )
        partials = ddsketch_aggregate_sql(df, "_v", self.keys, self.config)
        out = self._shard_dir(shard_id)
        partials.write.mode("overwrite").parquet(os.path.join(out, "partials"))
        rows = self.spark.read.parquet(os.path.join(out, "partials")) \
            .agg(F.sum("rows_in")).collect()[0][0] or 0
        metrics = {
            "shard": shard_id,
            "files": files,
            "rows_in": int(rows),
            "wall_ms": int((time.perf_counter() - t0) * 1000),
            "engine": "ddsketch_aggregate_sql",
            "preset": self.config.preset,
            "alpha": self.config.relative_accuracy,
        }
        with open(self._marker(shard_id), "w") as f:
            json.dump(metrics, f)
        return metrics

    def run(self, resume: bool = True, fail_after_shards: int | None = None) -> list[dict]:
        """Process shards, skipping completed ones when resuming.
        ``fail_after_shards`` injects a crash after N shards (for tests)."""
        done = set(self.completed_shards()) if resume else set()
        metrics = []
        processed = 0
        for shard_id, files in sorted(self.shard_assignment().items()):
            if shard_id in done:
                continue
            metrics.append(self._build_shard(shard_id, files))
            processed += 1
            if fail_after_shards is not None and processed >= fail_after_shards:
                raise RuntimeError(f"injected failure after {processed} shards")
        return metrics

    # -- level 2: final merge ----------------------------------------------------

    def finalize(self) -> DataFrame:
        """Merge all shard partials into final per-group blobs (no input
        re-scan) and write them under checkpoint_dir/final."""
        missing = set(self.shard_assignment()) - set(self.completed_shards())
        if missing:
            raise RuntimeError(f"cannot finalize: shards not complete: {sorted(missing)}")
        partials = self.spark.read.parquet(
            os.path.join(self.checkpoint_dir, "shards", "*", "partials")
        )
        final = merge_partials(partials, self.keys, self.config)
        final.write.mode("overwrite").parquet(os.path.join(self.checkpoint_dir, "final"))
        return self.spark.read.parquet(os.path.join(self.checkpoint_dir, "final"))

    def lineage(self) -> list[dict]:
        """Per-shard lineage records (files, rows, timing) of completed shards."""
        out = []
        for s in self.completed_shards():
            with open(self._marker(s)) as f:
                out.append(json.load(f))
        return out
