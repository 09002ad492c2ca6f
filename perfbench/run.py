#!/usr/bin/env python3
"""Sketch-engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --cores 3 --workload build_skew --seed 1 --seconds 5 --trace 0

Generates the workload's inputs from the seed, runs them through the
repository's public calls in one ``local[k]`` Spark session for at least
``--seconds`` of timed work, checks every result, and prints as its last
line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end ones of
BENCHMARK.json; with ``--trace 1`` they are the per-layer ones, and the
spans of the run are written to ``.perfbench_out/``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")

END_TO_END = {"rows_per_s": "rows/s", "setup_s": "s"}
# generation is the one set-up step that repeats without changing what it
# measures (a second JVM start or warm-up would be a warm one)
GENERATE_REPEATS = 3
# public calls of every workload, each a per-layer ``<layer>.<call>.s``
CALLS = (
    "functions.ddsketch_aggregate_log", "functions.ddsketch_aggregate_cubic",
    "functions.ddsketch_aggregate_sql", "functions.ddsketch_aggregate_salted",
    "functions.sketch_aggregate_kll", "functions.sketch_aggregate_tdigest",
    "functions.sketch_aggregate_hll", "functions.multi_family_aggregate",
    "streaming.stream_sketch_partials", "streaming.merged_stream_result",
    "streaming.stateful_sketch_stream",
)
STREAM_PHASES = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
                 "latestOffset")


def per_layer_units() -> dict[str, str]:
    from probe import HASH_FAMILIES, SERDE_FAMILIES, VALUE_FAMILIES

    units = {"trace.rows_per_s": "rows/s", "trace.op_p50_s": "s",
             "setup.session_start_s": "s", "setup.generate_s": "s",
             "setup.warmup_s": "s"}
    for fam in (*VALUE_FAMILIES, *HASH_FAMILIES):
        units[f"kernel.{fam}.insert_ns"] = "ns"
    for fam in SERDE_FAMILIES:
        units[f"kernel.{fam}.encode_us"] = "us"
        units[f"kernel.{fam}.decode_merge_us"] = "us"
        units[f"kernel.{fam}.blob_bytes"] = "bytes"
    units["kernel.ddsketch.quantile_us"] = "us"
    for call in CALLS:
        units[f"{call}.s"] = "s"
    units |= {"functions.arrow_noop_map.rows_per_s": "rows/s",
              "functions.arrow_noop_group.rows_per_s": "rows/s",
              "functions.python_cpu_s": "s", "functions.worker_rss_mb": "MB"}
    units |= {"spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
              "spark.failed_tasks": "count", "spark.input_bytes": "bytes",
              "spark.shuffle_write_bytes": "bytes", "spark.shuffle_fetch_wait_s": "s",
              "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
              "spark.jvm_gc_s": "s", "spark.jvm_hwm_mb": "MB"}
    units["streaming.batches"] = "count"
    for phase in STREAM_PHASES:
        units[f"streaming.{phase}_ms.p50"] = "ms"
    units |= {"streaming.state_commit_ms.p50": "ms", "streaming.state_bytes": "bytes",
              "streaming.state_rows": "count"}
    return units


def tail(samples: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    if len(s) <= 10:
        return s[-1], f"max of {len(s)}"
    return s[-11], f"p{100 * (len(s) - 10) / len(s):.0f} of {len(s)}"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, required=True,
                    help="k of local[k]; BENCHMARK.json fixes it")
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


def attempt(wl, op):
    """Run one call. An exception is returned, to be counted as a failed
    operation, and the run goes on."""
    try:
        return wl.run(op)
    except Exception as exc:
        traceback.print_exc(file=sys.stderr)
        return exc


def set_up(wl, tracer) -> tuple[list, list, dict[str, float]]:
    """Generate (median of GENERATE_REPEATS) and make each call once;
    returns the ops, the warm-up (op, outcome, seconds) and the set-up
    times."""
    with tracer.span("setup"):
        gen = []
        for _ in range(GENERATE_REPEATS):
            t0 = time.perf_counter()
            wl.generate()
            gen.append(time.perf_counter() - t0)
        ops = wl.ops()
        warm = []
        t0 = time.perf_counter()
        for op in ops:
            with tracer.span(f"warmup.{op.layer}.{op.name}"):
                t1 = time.perf_counter()
                warm.append((op, attempt(wl, op), time.perf_counter() - t1))
        t_warm = time.perf_counter() - t0
    return ops, warm, {"generate_s": statistics.median(gen), "warmup_s": t_warm}


def timed_loop(wl, ops, seconds: float, tracer, sc) -> tuple[list, float]:
    """Call ``ops`` round-robin until ``seconds`` have passed, and at least
    once each; returns (op, outcome-or-exception, span) per call and the
    window's wall time."""
    done = []
    t0 = time.perf_counter()
    while len(done) < len(ops) or time.perf_counter() - t0 < seconds:
        op = ops[len(done) % len(ops)]
        op_id = f"call-{len(done)}"
        if tracer.enabled:
            sc.setJobGroup(op_id, f"{op.layer}.{op.name}")
        with tracer.span(f"{op.layer}.{op.name}", op=op_id) as span:
            outcome = attempt(wl, op)
        done.append((op, outcome, span))
    if tracer.enabled:
        sc.setJobGroup("perfbench-idle", "idle")
    return done, time.perf_counter() - t0


def end_to_end(done) -> tuple[float, float, list[float]]:
    """(rows_per_s, op_p50_s, all latency samples) of the timed calls.

    Both figures are built from each operation type's median, so a window
    that ends part-way through a round, or a call slowed by a passing burst
    of load on the host, does not shift them: rows_per_s is one call of
    every type at its median busy time, op_p50_s the median over types of
    each type's median latency. Only rows_per_s is an end-to-end metric:
    op_p50_s lands on whichever call type is the middle one."""
    by_type: dict[str, list] = {}
    for op, o, _ in done:
        if not isinstance(o, Exception) and o.latencies:
            by_type.setdefault(op.name, []).append(o)
    if not by_type:
        return 0.0, 0.0, []
    work = sum(os_[0].work for os_ in by_type.values())
    busy = sum(statistics.median(o.busy_s for o in os_) for os_ in by_type.values())
    p50 = statistics.median(statistics.median(x for o in os_ for x in o.latencies)
                            for os_ in by_type.values())
    return work / busy, p50, [x for os_ in by_type.values() for o in os_ for x in o.latencies]


def check_all(wl, results) -> tuple[int, list[str]]:
    """(failed operations, error messages) over (op, outcome) pairs."""
    failed, errors = 0, []
    for op, outcome in results:
        errs = ([f"{op.name}: raised {outcome!r}"] if isinstance(outcome, Exception)
                else wl.check(op, outcome.result))
        if errs:
            failed += 1
            errors += errs
    return failed, errors


def arrow_noop(spark, path: str) -> dict[str, float]:
    """Pass-through mapInPandas and applyInPandas over the workload's input:
    the Arrow floor under the pandas paths."""
    df = spark.read.parquet(path)
    n = df.count()
    key = df.columns[0]
    runs = {
        "map": lambda: df.mapInPandas(lambda it: it, df.schema),
        "group": lambda: df.groupBy(key).applyInPandas(lambda pdf: pdf, df.schema),
    }
    out = {}
    for name, make in runs.items():
        times = []
        for i in range(4):  # the first is warm-up
            t0 = time.perf_counter()
            make().write.format("noop").mode("overwrite").save()
            if i:
                times.append(time.perf_counter() - t0)
        out[f"functions.arrow_noop_{name}.rows_per_s"] = n / statistics.median(times)
    return out


def streaming_metrics(progress: list[dict]) -> dict[str, float]:
    batches = [p for p in progress if p["numInputRows"] > 0]
    out = {"streaming.batches": float(len(batches))}

    def p50(xs):
        return float(statistics.median(xs)) if xs else 0.0

    for phase in STREAM_PHASES:
        out[f"streaming.{phase}_ms.p50"] = p50(
            [p["durationMs"].get(phase, 0) for p in batches])
    states = [p["stateOperators"] for p in batches if p.get("stateOperators")]
    out["streaming.state_commit_ms.p50"] = p50(
        [sum(s["commitTimeMs"] for s in ops) for ops in states])
    out["streaming.state_bytes"] = float(max(
        (sum(s["memoryUsedBytes"] for s in ops) for ops in states), default=0))
    out["streaming.state_rows"] = float(max(
        (sum(s["numRowsTotal"] for s in ops) for ops in states), default=0))
    return out


def _epoch(iso: str) -> float:
    """Epoch seconds of a StreamingQueryProgress timestamp (UTC, ISO 8601)."""
    from datetime import datetime, timezone

    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def traced_window(spark, wl, ops, seconds, tracer):
    """The timed window with tracing on: a progress listener, /proc
    sampling of the Python workers, and a job group per call. Returns the
    calls, the window's wall time, and the per-layer metrics it observed."""
    import session
    import tracing

    listener = tracing.make_progress_listener()
    spark.streams.addListener(listener)
    procs = tracing.ProcSampler(session.jvm_pid(spark))
    cpu0 = procs.sample()
    w_start = time.time()
    with tracer.span("window"):
        done, window_s = timed_loop(wl, ops, seconds, tracer, spark.sparkContext)
    w_end = time.time()
    metrics = {"functions.python_cpu_s": procs.sample() - cpu0,
               "functions.worker_rss_mb": procs.worker_hwm_mb,
               "spark.jvm_hwm_mb": procs.jvm_hwm_mb()}
    if wl.name == "stream_replay":
        listener.wait_for(sum(len(o.latencies) for _, o, _ in done
                              if not isinstance(o, Exception)))
    spark.streams.removeListener(listener)

    progress = [p for p in listener.progress if w_start <= _epoch(p["timestamp"]) <= w_end]
    metrics |= streaming_metrics(progress)
    jobs = [j for j in tracing.spark_jobs(spark)
            if j["start"] is not None and w_start <= j["start"] <= w_end]
    metrics |= tracing.spark_totals(jobs)
    calls = [s for _, _, s in done]
    batches = []
    for p in progress:  # micro-batches under their replay
        start = _epoch(p["timestamp"])
        call = next((c for c in calls if c["start"] <= start <= c["end"]), None)
        if call is not None:
            batches.append(tracer.add_child(
                call, f"streaming.batch:{p['batchId']}", start,
                start + p["durationMs"]["triggerExecution"] / 1e3,
                rows=p["numInputRows"]))
    tracing.attach_jobs(tracer, calls, batches, jobs)
    return done, window_s, metrics


def call_metrics(done) -> dict[str, float]:
    """Median seconds of every public call; 0 for calls the workload does
    not make."""
    out = {f"{call}.s": 0.0 for call in CALLS}
    by_call: dict[str, list[float]] = {}
    for op, o, _ in done:
        if not isinstance(o, Exception):
            by_call.setdefault(f"{op.layer}.{op.name}", []).append(o.busy_s)
            for part, secs in o.parts.items():
                by_call.setdefault(part, []).append(secs)
    out |= {f"{call}.s": statistics.median(xs) for call, xs in by_call.items()}
    return out


def run(args) -> int:
    import inputs
    import session
    import tracing
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    load_start = os.getloadavg()[0]
    sizes = inputs.TINY if args.size == "tiny" else inputs.FULL
    run_dir = session.make_run_dir(ROOT, args.workload, args.seed)
    tracer = tracing.Tracer(bool(args.trace))
    spark = None
    try:
        with tracer.span("workload", op=args.workload):
            t0 = time.perf_counter()
            spark = session.start_spark(run_dir, args.cores)
            t_session = time.perf_counter() - t0
            wl = WORKLOADS[args.workload](spark, args.seed, sizes, run_dir)
            ops, warm, setup = set_up(wl, tracer)
            setup["session_start_s"] = t_session

            if tracer.enabled:
                done, window_s, layer = traced_window(spark, wl, ops, args.seconds, tracer)
            else:
                done, window_s = timed_loop(wl, ops, args.seconds, tracer, None)
            results = [(op, o) for op, o, _ in warm + done]
            failed, errors = check_all(wl, results)

            rows_per_s, op_p50, lat = end_to_end(done)
            if tracer.enabled:
                from probe import probe

                units = per_layer_units()
                metrics = {"trace.rows_per_s": rows_per_s, "trace.op_p50_s": op_p50}
                metrics |= {f"setup.{k}": v for k, v in setup.items()}
                metrics |= layer | call_metrics(done)
                with tracer.span("probe.arrow_noop"):
                    metrics |= arrow_noop(spark, wl.inputs)
                with tracer.span("probe.kernel"):
                    ids = (wl.rows["id"] if "id" in wl.rows else wl.rows.index).to_numpy()
                    metrics |= probe(wl.rows["v"].to_numpy(), ids)
            else:
                units = END_TO_END
                metrics = {"rows_per_s": rows_per_s, "setup_s": sum(setup.values())}
            op_tail, tail_label = tail(lat) if lat else (0.0, "none")
            meta = session.metadata(spark, args.seed, args.cores, load_start) | {
                "workload": args.workload, "window_s": window_s, "calls": len(done),
                "latency_samples": len(lat), "op_p50_s": op_p50, "op_tail_s": op_tail,
                "op_tail_percentile": tail_label,
                "call_s": [[op.name, o.busy_s] for op, o, _ in done
                           if not isinstance(o, Exception)],
                "warmup_s": [[op.name, secs] for op, _, secs in warm]}
        if tracer.enabled:
            tracer.write(os.path.join(OUT_DIR, f"trace-{args.workload}-{args.seed}.json"),
                         {"meta": meta, "metrics": metrics})
    finally:
        try:
            if spark is not None:
                session.stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    for e in errors[:20]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    missing = set(units) - set(metrics)
    if missing:
        raise RuntimeError(f"metrics not measured: {sorted(missing)}")
    print(json.dumps({"meta": meta}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(results),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its run directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import sketches_rust_spark.functions.ddsketch_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program under test: {exc}",
              file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
