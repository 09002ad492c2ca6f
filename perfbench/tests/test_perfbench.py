"""The benchmark's own tests: seeded inputs, metric names, and a tiny run of
every workload passing its correctness checks.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import inputs  # noqa: E402

WORKLOADS = ("build_skew", "stream_replay")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _file_bytes(paths):
    out = []
    for p in paths:
        with open(p, "rb") as f:
            out.append(f.read())
    return out


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_gives_byte_identical_inputs(tmp_path, workload):
    _, a = inputs.write_inputs(workload, 7, inputs.TINY, str(tmp_path / "a"))
    _, b = inputs.write_inputs(workload, 7, inputs.TINY, str(tmp_path / "b"))
    _, c = inputs.write_inputs(workload, 8, inputs.TINY, str(tmp_path / "c"))
    assert _file_bytes(a) == _file_bytes(b)
    assert _file_bytes(a) != _file_bytes(c)


def test_benchmark_json_names_every_metric():
    import run

    spec = _spec()
    assert {w["name"] for w in spec["workloads"]} <= set(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()


def _run(workload: str, trace: int) -> dict:
    spec = _spec()
    cmd = [sys.executable, *spec["command"][1:], "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace), "--size", "tiny"]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_passes_its_checks(workload):
    out = _run(workload, 0)
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] > 0
    names = [m["name"] for m in _spec()["end_to_end"]]
    assert list(out["metrics"]) == names
    assert all(out["metrics"][n]["value"] > 0 for n in names)


def test_traced_run_prints_every_per_layer_metric():
    out = _run("stream_replay", 1)
    assert out["correct"] is True
    assert list(out["metrics"]) == [m["name"] for m in _spec()["per_layer"]]
    assert out["metrics"]["streaming.batches"]["value"] > 0


def test_without_the_program_it_exits_nonzero(tmp_path):
    """In a directory holding only the benchmark, the run fails fast and
    prints no result."""
    import shutil

    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, *_spec()["command"][1:], "--workload", "build_skew",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert "cannot import the program under test" in proc.stderr
    assert '"correct"' not in proc.stdout
