"""Tracing for the benchmark's traced run.

Spans are recorded in memory by the benchmark's own code around each call
into the program, and written out when the run ends. Spark jobs and
streaming micro-batches become child spans of the call whose job group or
time window they fall in. Nothing here runs when tracing is off.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans: name, start, end (epoch seconds), parent, op id."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name, "start": time.time(),
               "end": None, "parent": self._stack[-1] if self._stack else None,
               "op": op}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add_child(self, parent: dict, name: str, start: float, end: float,
                  **attrs) -> dict:
        rec = {"id": len(self.spans), "name": name, "start": start, "end": end,
               "parent": parent["id"], "op": parent["op"], **attrs}
        self.spans.append(rec)
        return rec

    def self_times(self) -> dict[int, float]:
        """Span duration minus the union of the intervals its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.spans:
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(children.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str, extra: dict) -> None:
        selfs = self.self_times()
        for s in self.spans:
            s["self_s"] = selfs[s["id"]]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


# -- Spark jobs and stages, from the application status store ---------------

def _opt(o):
    return o.get() if o.isDefined() else None


def _ms(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


def spark_jobs(spark) -> list[dict]:
    """Every job and stage the status store holds, as plain dicts.

    Reached through py4j; works with the UI disabled."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for st in conv.asJava(store.stageList(None, False, False, no_quantiles, None)):
        stages[(st.stageId(), st.attemptId())] = {
            "status": st.status().toString(),
            "tasks": st.numCompleteTasks() + st.numFailedTasks(),
            "failed_tasks": st.numFailedTasks(),
            "input_bytes": st.inputBytes(),
            "shuffle_write_bytes": st.shuffleWriteBytes(),
            "shuffle_fetch_wait_s": st.shuffleFetchWaitTime() / 1e3,
            "executor_run_s": st.executorRunTime() / 1e3,
            "executor_cpu_s": st.executorCpuTime() / 1e9,
            "jvm_gc_s": st.jvmGcTime() / 1e3,
        }
    jobs = []
    for j in conv.asJava(store.jobsList(None)):
        ids = set(conv.asJava(j.stageIds()))
        jobs.append({
            "job_id": j.jobId(),
            "group": _opt(j.jobGroup()),
            "start": _ms(j.submissionTime()),
            "end": _ms(j.completionTime()),
            "status": j.status().toString(),
            # skipped stages never ran and appear with no tasks
            "stages": [v for (sid, _a), v in stages.items()
                       if sid in ids and v["status"] != "SKIPPED"],
        })
    return jobs


SPARK_KEYS = ("tasks", "failed_tasks", "input_bytes", "shuffle_write_bytes",
              "shuffle_fetch_wait_s", "executor_run_s", "executor_cpu_s", "jvm_gc_s")


def spark_totals(jobs: list[dict]) -> dict[str, float]:
    out = {"spark.jobs": float(len(jobs)),
           "spark.stages": float(sum(len(j["stages"]) for j in jobs))}
    for k in SPARK_KEYS:
        out[f"spark.{k}"] = float(sum(st[k] for j in jobs for st in j["stages"]))
    return out


def _holding(spans: list[dict], t: float) -> dict | None:
    return next((s for s in spans if s["start"] <= t <= s["end"]), None)


def attach_jobs(tracer: Tracer, calls: list[dict], batches: list[dict],
                jobs: list[dict]) -> None:
    """Make each job a child span of the call with its job group or, for
    jobs submitted from threads that did not inherit the group (streaming
    micro-batches, pool threads), of the call whose window holds its start;
    and, within that call, of the micro-batch whose window holds it."""
    by_op = {c["op"]: c for c in calls}
    for j in jobs:
        call = by_op.get(j["group"]) or _holding(calls, j["start"])
        if call is None:
            continue
        parent = _holding([b for b in batches if b["parent"] == call["id"]],
                          j["start"]) or call
        tracer.add_child(parent, f"spark.job:{j['job_id']}", j["start"],
                         j["end"] or call["end"], status=j["status"],
                         **spark_totals([j]))


# -- Python worker processes under the JVM, from /proc -------------------------

_CLK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> tuple[int, float, float] | None:
    """(ppid, own cpu s, reaped children's cpu s) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    return ppid, (utime + stime) / _CLK, (cutime + cstime) / _CLK


def _hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class ProcSampler:
    """CPU seconds and peak RSS of the Python workers the JVM forked.

    A finished worker's CPU time moves into its parent's reaped-children
    counters, so the sum over live descendants of (own + reaped children)
    only grows while the daemon lives."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.worker_hwm_mb = 0.0

    def _workers(self) -> dict[int, tuple[float, float]]:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    stats[int(name)] = st
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _o, _c) in stats.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = {}, list(kids.get(self.jvm_pid, []))
        while todo:
            pid = todo.pop()
            out[pid] = stats[pid][1:]
            todo += kids.get(pid, [])
        return out

    def sample(self) -> float:
        """Python worker CPU seconds so far; also tracks their peak RSS."""
        workers = self._workers()
        for pid in workers:
            self.worker_hwm_mb = max(self.worker_hwm_mb, _hwm_mb(pid))
        return sum(own + reaped for own, reaped in workers.values())

    def jvm_hwm_mb(self) -> float:
        return _hwm_mb(self.jvm_pid)


# -- streaming micro-batches, from a StreamingQueryListener -------------------

def make_progress_listener():
    """A listener that keeps every QueryProgressEvent's progress as a dict."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.append(p)

        def wait_for(self, n_batches: int, timeout: float = 10.0) -> None:
            """Progress events arrive asynchronously; wait until ``n_batches``
            batches that read rows have been seen."""
            deadline = time.monotonic() + timeout
            while time.monotonic() < deadline:
                with self._lock:
                    seen = sum(1 for p in self.progress if p["numInputRows"] > 0)
                if seen >= n_batches:
                    return
                time.sleep(0.05)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressListener()
