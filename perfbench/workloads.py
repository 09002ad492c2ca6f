"""The benchmark's workloads: what each sets up, which public calls it times,
and how each result is checked.

Why these workloads (see README.md for the full map):

* ``build_skew`` -- the write side. Every row crosses the Arrow boundary
  (or the JVM bucketing path) and a kernel insert; few partial blobs, so
  encode and merge costs are negligible.
* ``stream_replay`` -- small micro-batches, so the fixed cost of each
  batch (planning, offset and WAL commits, state-store commits) dominates.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import (
    SketchConfig,
    ddsketch_aggregate,
    ddsketch_aggregate_salted,
)
from sketches_rust_spark.functions.ddsketch_sql import ddsketch_aggregate_sql
from sketches_rust_spark.functions.sketch_udafs import (
    bloom_adapter,
    cms_adapter,
    hll_adapter,
    kll_adapter,
    kmv_adapter,
    multi_family_aggregate,
    sketch_aggregate,
    tdigest_adapter,
)
from sketches_rust_spark.streaming.sketch_stream import (
    merged_stream_result,
    scoped_shuffle_partitions,
    stateful_sketch_stream,
    stream_sketch_partials,
    stream_state_partitions,
)

from checks import (
    KeyedReference,
    check_ddsketch_blobs,
    check_hashed_family,
    check_keyed_counts,
    check_rank_sketch,
)
from inputs import Sizes, write_inputs

LOG = SketchConfig("logarithmic_collapsing_lowest_dense", 0.01, 2048)
CUBIC = SketchConfig("collapsing_lowest_dense", 0.01, 2048)
STREAM_QUANTILE = 0.99


@dataclass
class Op:
    """One timed call. ``layer`` and ``name`` give its per-layer metric
    ``<layer>.<name>.s``; ``work`` is the rows it consumes."""

    layer: str
    name: str
    fn: Callable[[], object]
    work: int


@dataclass
class Outcome:
    """What a timed call produced: its result, the seconds it kept the
    engine busy, its latency samples (one per call, or one per micro-batch
    for a streaming replay), and the seconds of the public calls it made
    inside it, by per-layer name."""

    result: object
    busy_s: float
    latencies: list[float]
    work: int
    parts: dict[str, float] = field(default_factory=dict)


class Workload:
    name = ""

    def __init__(self, spark, seed: int, sizes: Sizes, run_dir: str):
        self.spark, self.seed, self.sizes, self.run_dir = spark, seed, sizes, run_dir
        self.inputs = os.path.join(run_dir, "inputs")

    def generate(self) -> None:
        self.rows, self.files = write_inputs(self.name, self.seed, self.sizes,
                                             self.inputs)

    def ops(self) -> list[Op]:
        raise NotImplementedError

    def run(self, op: Op) -> Outcome:
        t0 = time.perf_counter()
        result = op.fn()
        wall = time.perf_counter() - t0
        return Outcome(result, wall, [wall], op.work)

    def check(self, op: Op, result) -> list[str]:
        raise NotImplementedError


def _blobs(rows, key="key") -> dict:
    return {r[key]: bytes(r["sketch"]) for r in rows}


def _rows_in(rows, key="key") -> dict:
    return {r[key]: int(r["rows_in"]) for r in rows}


class BuildSkew(Workload):
    name = "build_skew"

    def generate(self) -> None:
        super().generate()
        self.ref = KeyedReference(self.rows["key"].to_numpy(),
                                  self.rows["v"].to_numpy(),
                                  self.rows["id"].to_numpy())

    def ops(self) -> list[Op]:
        df = self.spark.read.parquet(self.inputs)
        n = len(self.rows)
        ids = F.col("id")
        multi = {"hll": (hll_adapter(hash_mode="splitmix"), None),
                 "cms": (cms_adapter(hash_mode="splitmix"), None),
                 "kmv": (kmv_adapter(hash_mode="splitmix"), None),
                 "bloom": (bloom_adapter(hash_mode="splitmix"), None)}
        calls = {
            "ddsketch_aggregate_log": lambda: ddsketch_aggregate(df, "v", ["key"], LOG),
            "ddsketch_aggregate_cubic": lambda: ddsketch_aggregate(df, "v", ["key"], CUBIC),
            "ddsketch_aggregate_sql": lambda: ddsketch_aggregate_sql(df, "v", ["key"], LOG),
            "ddsketch_aggregate_salted": lambda: ddsketch_aggregate_salted(df, "v", ["key"], LOG),
            "sketch_aggregate_kll": lambda: sketch_aggregate(df, "v", ["key"], kll_adapter()),
            "sketch_aggregate_tdigest": lambda: sketch_aggregate(df, "v", ["key"],
                                                                 tdigest_adapter()),
            "sketch_aggregate_hll": lambda: sketch_aggregate(
                df, ids, ["key"], hll_adapter(hash_mode="splitmix")),
            "multi_family_aggregate": lambda: multi_family_aggregate(df, ids, ["key"], multi),
        }
        return [Op("functions", name, (lambda f=f: f().collect()), n)
                for name, f in calls.items()]

    def check(self, op: Op, rows) -> list[str]:
        ref, name = self.ref, op.name
        if name == "multi_family_aggregate":
            errs = []
            for fam in ("hll", "cms", "kmv", "bloom"):
                sub = [r for r in rows if r["family"] == fam]
                errs += check_keyed_counts(f"{name}.{fam}", _rows_in(sub), ref)
                errs += check_hashed_family(f"{name}.{fam}", fam, _blobs(sub), ref)
            return errs
        errs = check_keyed_counts(name, _rows_in(rows), ref)
        blobs = _blobs(rows)
        if name.startswith("ddsketch_aggregate"):
            config = CUBIC if name.endswith("cubic") else LOG
            # the JVM bucketing path may differ from numpy by one ulp at a
            # bucket boundary, so it promises the alpha bound, not bytes
            return errs + check_ddsketch_blobs(name, blobs, ref, config,
                                               byte_identical=not name.endswith("sql"))
        family = name.rsplit("_", 1)[1]
        if family in ("kll", "tdigest"):
            return errs + check_rank_sketch(name, family, blobs, ref)
        return errs + check_hashed_family(name, family, blobs, ref)


class StreamReplay(Workload):
    name = "stream_replay"

    def __init__(self, *args):
        super().__init__(*args)
        self.replays = 0

    def generate(self) -> None:
        super().generate()
        self.ref = KeyedReference(self.rows["key"].to_numpy(),
                                  self.rows["v"].to_numpy())

    def _fresh(self) -> str:
        self.replays += 1
        base = os.path.join(self.run_dir, "work", f"replay-{self.replays}")
        os.makedirs(base)
        return base

    def _stream(self):
        schema = self.spark.read.parquet(self.files[0]).schema
        return (self.spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(self.inputs))

    def _partitions(self) -> int:
        return stream_state_partitions(self.inputs, len(self.files))

    def replay_partials(self):
        base = self._fresh()
        sink = os.path.join(base, "sink")
        with scoped_shuffle_partitions(self.spark, self._partitions()):
            t0 = time.perf_counter()
            q = stream_sketch_partials(self._stream(), "v", ["key"], LOG, sink,
                                       os.path.join(base, "ckpt"))
            q.awaitTermination()
            busy = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        t0 = time.perf_counter()
        merged = merged_stream_result(self.spark, sink, ["key"], LOG).collect()
        parts = {"streaming.merged_stream_result": time.perf_counter() - t0}
        shutil.rmtree(base, ignore_errors=True)
        return busy, progress, merged, parts

    def replay_stateful(self):
        base = self._fresh()
        name = f"stateful_{self.replays}"
        running = stateful_sketch_stream(self._stream(), "v", "key", LOG,
                                         quantile=STREAM_QUANTILE)
        with scoped_shuffle_partitions(self.spark, self._partitions()):
            t0 = time.perf_counter()
            q = (running.writeStream.format("memory").queryName(name)
                 .outputMode("update")
                 .option("checkpointLocation", os.path.join(base, "ckpt"))
                 .trigger(availableNow=True).start())
            q.awaitTermination()
            busy = time.perf_counter() - t0
        progress = [json.loads(p.json) for p in q.recentProgress]
        out = self.spark.table(name).collect()
        self.spark.catalog.dropTempView(name)  # the memory sink's table
        shutil.rmtree(base, ignore_errors=True)
        return busy, progress, out, {}

    def ops(self) -> list[Op]:
        n = len(self.rows)
        return [Op("streaming", "stream_sketch_partials", self.replay_partials, n),
                Op("streaming", "stateful_sketch_stream", self.replay_stateful, n)]

    def run(self, op: Op) -> Outcome:
        busy, progress, out, parts = op.fn()
        batches = [p for p in progress if p["numInputRows"] > 0]
        lat = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        return Outcome((progress, out), busy, lat, op.work, parts)

    def check(self, op: Op, result) -> list[str]:
        progress, rows = result
        ref = self.ref
        batches = [p for p in progress if p["numInputRows"] > 0]
        errs = []
        if len(batches) != len(self.files):
            errs.append(f"{op.name}: {len(batches)} micro-batches for "
                        f"{len(self.files)} files")
        ingested = sum(p["numInputRows"] for p in batches)
        if ingested != len(self.rows):
            errs.append(f"{op.name}: ingested {ingested} of {len(self.rows)} rows")
        if op.name == "stream_sketch_partials":
            # the merged stream result equals a batch build over all rows;
            # the per-batch build is the JVM bucketing path, so the bound
            # is alpha rather than bytes
            return errs + check_keyed_counts(op.name, _rows_in(rows), ref) + \
                check_ddsketch_blobs(op.name, _blobs(rows), ref, LOG,
                                     byte_identical=False)
        final: dict = {}
        for r in rows:  # running state: counts only grow, keep the largest
            if r["key"] not in final or r["count"] > final[r["key"]]["count"]:
                final[r["key"]] = r
        errs += check_keyed_counts(op.name, {k: int(r["count"]) for k, r in final.items()},
                                   ref)
        for k, r in final.items():
            # the state is built by numpy inserts, as the kernel reference is
            want = ref.ddsketch(k, LOG).get_value_at_quantile(STREAM_QUANTILE)
            if r["estimate"] != want:
                errs.append(f"{op.name}[{k}]: p{STREAM_QUANTILE * 100:g}="
                            f"{r['estimate']} != kernel {want}")
        return errs


WORKLOADS = {w.name: w for w in (BuildSkew, StreamReplay)}
