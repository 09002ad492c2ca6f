"""Spark session, run directory and process hygiene for one benchmark run.

The session is built here rather than through ``bench.build_spark``: that
helper asks for 16 GB of driver memory and 32 cores. Everything a run
writes (inputs, Spark scratch, checkpoints, Python temp files) lives in a
fresh directory under the checkout that is removed when the run ends.
"""

from __future__ import annotations

import os
import platform
import shutil
import sys
import tempfile
import time

RUN_ROOT = ".perfbench_run"


def make_run_dir(root: str, workload: str, seed: int) -> str:
    path = os.path.join(root, RUN_ROOT, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("tmp", "spark-local", "warehouse", "inputs", "work"):
        os.makedirs(os.path.join(path, sub))
    # Python temp files, including those of the Spark worker processes that
    # inherit this environment, stay inside the run directory.
    tmp = os.path.join(path, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    return path


def start_spark(run_dir: str, cores: int):
    """A ``local[cores]`` session sized for a 4-core, 15 GB host."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(run_dir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp}")
        .config("spark.local.dir", os.path.join(run_dir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(run_dir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # the traced run reads job and stage metrics from the status store
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._gateway.proc.pid)


def metadata(spark, seed: int, cores: int, load_start: float) -> dict:
    """What a reader needs to recognise a run taken under external load."""
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "seed": seed,
        "nproc": len(os.sched_getaffinity(0)),
        "k": cores,
        "loadavg_1m_start": load_start,
        "loadavg_1m_end": os.getloadavg()[0],
        "pyspark": pyspark.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "unix_time": time.time(),
    }

