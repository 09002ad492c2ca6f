"""Resumable checkpointed sketch runs: kill, resume, finalize, compare."""

import glob
import os

import pytest

from pyspark.sql import functions as F

from sketches_rust_spark.functions.ddsketch_spark import SketchConfig
from sketches_rust_spark.functions.ddsketch_sql import ddsketch_aggregate_sql
from sketches_rust_spark.plans.lineage import SketchCheckpointJob

CFG = SketchConfig("logarithmic_unbounded_size_dense_store", 0.01, 0)


@pytest.fixture()
def sharded_input(spark, tmp_path):
    """Write documents as 6 parquet files so the job has shards to chew."""
    src = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    path = str(tmp_path / "docs_sharded")
    src.repartition(6).write.parquet(path)
    return path


def test_kill_resume_finalize_byte_identical(spark, tmp_path, sharded_input):
    ckpt = str(tmp_path / "ckpt")
    job = SketchCheckpointJob(spark, sharded_input, "length(text)", ["lang"],
                              CFG, ckpt, num_shards=4)

    # first run dies after 2 shards
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fail_after_shards=2)
    assert len(job.completed_shards()) == 2
    with pytest.raises(RuntimeError, match="cannot finalize"):
        job.finalize()

    # record completed markers to prove the resume does not redo them
    markers = {s: os.path.getmtime(
        os.path.join(ckpt, "shards", f"shard={s}", "_SHARD_DONE"))
        for s in job.completed_shards()}

    # resume completes only the remaining shards
    resumed = job.run(resume=True)
    assert len(resumed) == 2
    assert len(job.completed_shards()) == 4
    for s, mtime in markers.items():
        assert os.path.getmtime(
            os.path.join(ckpt, "shards", f"shard={s}", "_SHARD_DONE")) == mtime

    final = job.finalize()
    got = {r["lang"]: bytes(r["sketch"]) for r in final.collect()}

    # single-shot build over the same input must be byte-identical
    df = spark.read.parquet(sharded_input).select(
        "lang", F.expr("length(text)").cast("double").alias("_v"))
    want = {r["lang"]: bytes(r["sketch"])
            for r in ddsketch_aggregate_sql(df, "_v", ["lang"], CFG).collect()}
    assert got == want

    # lineage covers every input file exactly once, with metrics
    lineage = job.lineage()
    assert len(lineage) == 4
    covered = sorted(f for rec in lineage for f in rec["files"])
    assert covered == sorted(glob.glob(sharded_input + "/*.parquet"))
    assert all(rec["rows_in"] > 0 and rec["wall_ms"] >= 0 for rec in lineage)
    assert sum(rec["rows_in"] for rec in lineage) == \
        spark.read.parquet(sharded_input).count()


def test_logcubic_preset_rejected_before_any_checkpoint_write(spark, tmp_path):
    """Shards build on the LOG-only SQL path, so a LogCubic preset must fail
    in the constructor, not at the first shard after manifest.json exists."""
    ckpt = tmp_path / "ckpt"
    cubic = SketchConfig("collapsing_lowest_dense", 0.01, 2048)
    with pytest.raises(ValueError, match="LOG-mapping"):
        SketchCheckpointJob(spark, str(tmp_path / "input"), "length(text)",
                            ["lang"], cubic, str(ckpt))
    assert not ckpt.exists()


def test_shard_assignment_stable_across_listing_changes(spark, tmp_path, sharded_input):
    ckpt = str(tmp_path / "ckpt2")
    job = SketchCheckpointJob(spark, sharded_input, "length(text)", ["lang"],
                              CFG, ckpt, num_shards=3)
    first = job.shard_assignment()
    # a new file appearing later must not change the persisted assignment
    extra = os.path.join(sharded_input, "zzz-extra.parquet")
    spark.read.parquet(sharded_input).limit(5).coalesce(1).write.mode(
        "overwrite").parquet(str(tmp_path / "extra"))
    os.rename(glob.glob(str(tmp_path / "extra") + "/*.parquet")[0], extra)
    try:
        again = SketchCheckpointJob(spark, sharded_input, "length(text)", ["lang"],
                                    CFG, ckpt, num_shards=3).shard_assignment()
        assert again == first
    finally:
        os.remove(extra)


def test_sketch_job_cli_entrypoint_runs_and_resumes(
        spark, tmp_path, sharded_input, capsys, monkeypatch):
    """The spark-submit entrypoint (jobs/sketch_job.py) end-to-end in the
    test session (its getOrCreate picks up the active session): fresh run
    processes every shard and prints the metrics JSON; a re-run with the
    same checkpoint resumes (0 shards re-processed); --finalize shows
    per-group quantiles."""
    import importlib.util
    import json as _json
    import sys as _sys

    spec = importlib.util.spec_from_file_location(
        "sketch_job_cli",
        os.path.join(os.path.dirname(os.path.dirname(
            os.path.abspath(__file__))), "jobs", "sketch_job.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)

    ckpt = str(tmp_path / "cli_ckpt")
    argv = ["sketch_job.py", "--input", sharded_input,
            "--value-expr", "length(text)", "--keys", "lang",
            "--checkpoint", ckpt, "--shards", "3", "--finalize"]
    monkeypatch.setattr(_sys, "argv", argv)
    mod.main()
    out = capsys.readouterr().out
    metrics = _json.loads(
        [ln for ln in out.splitlines() if ln.startswith("{")][0])
    assert metrics["shards_processed"] == 3
    assert metrics["shards_complete"] == 3
    assert metrics["rows_in"] == 500  # sf0.01 documents
    assert "p500" in out and "p990" in out  # finalize printed quantiles

    # resume: same checkpoint, nothing left to do
    monkeypatch.setattr(_sys, "argv", argv[:-1])
    mod.main()
    out2 = capsys.readouterr().out
    metrics2 = _json.loads(
        [ln for ln in out2.splitlines() if ln.startswith("{")][0])
    assert metrics2["shards_processed"] == 0
    assert metrics2["shards_complete"] == 3


def test_raw_html_transform_resume_byte_identical(spark, tmp_path):
    """The resumable job from the RAW input shape: shards of pages
    (url, warc_ts, html, lang — no pre-extracted feature), a transform
    deriving text from the html binary, kill + resume, and the finalized
    blobs must be byte-identical to a one-shot build over the STORED
    reference text (extraction invariant through the checkpoint path)."""
    from sketches_rust_spark.operators.extraction import extract_text_from_html
    from sketches_rust_spark.sources.pages import pages_table

    pages = pages_table(spark, 5_000,
                        cache_dir=str(tmp_path / "pages_cache"))
    sharded = str(tmp_path / "pages_sharded")
    pages.drop("text").repartition(6).write.parquet(sharded)  # raw shape only

    def transform(df):
        return df.withColumn("text", extract_text_from_html("html"))

    ckpt = str(tmp_path / "ckpt_html")
    job = SketchCheckpointJob(spark, sharded, "length(text)", ["lang"],
                              CFG, ckpt, num_shards=4, transform=transform)
    with pytest.raises(RuntimeError, match="injected failure"):
        job.run(fail_after_shards=2)
    job.run(resume=True)
    got = {r["lang"]: bytes(r["sketch"]) for r in job.finalize().collect()}

    ref = pages.select("lang",
                       F.length("text").cast("double").alias("_v"))
    want = {r["lang"]: bytes(r["sketch"])
            for r in ddsketch_aggregate_sql(ref, "_v", ["lang"], CFG).collect()}
    assert got == want
