#!/usr/bin/env python
"""spark-submit entrypoint: checkpointed grouped DDSketch build over the
pages table (or any parquet input with the input_hint schema).

Packaging:
    cd /root/repo && zip -r /tmp/sketches_rust_spark.zip sketches_rust_spark
    spark-submit --py-files /tmp/sketches_rust_spark.zip \\
        jobs/sketch_job.py --input <parquet-path> \\
        --value-expr 'length(text)' --keys lang,day \\
        --checkpoint /data/ckpt --alpha 0.01 --shards 64

The job is resumable: re-running with the same --checkpoint skips completed
shards (per-shard lineage markers record files, rows, wall ms); --finalize
merges shard partials into final per-group blobs without re-scanning input.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True,
                    help="parquet directory or single parquet file")
    ap.add_argument("--value-expr", default="length(text)")
    ap.add_argument("--keys", default="lang")
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--alpha", type=float, default=0.01)
    ap.add_argument("--preset", default="logarithmic_collapsing_lowest_dense")
    ap.add_argument("--max-bins", type=int, default=2048)
    ap.add_argument("--shards", type=int, default=64)
    ap.add_argument("--finalize", action="store_true",
                    help="merge completed shard partials into final blobs")
    ap.add_argument("--from-html", default=None, choices=["jvm", "pandas"],
                    help="derive the text column from the raw html binary "
                         "before --value-expr (operators/extraction.py), so "
                         "the resumable job runs the full raw-input pipeline")
    ap.add_argument("--quantiles", default="0.5,0.9,0.99")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from sketches_rust_spark.functions.ddsketch_spark import SketchConfig, make_quantile_udf
    from sketches_rust_spark.plans.lineage import SketchCheckpointJob

    spark = SparkSession.builder.appName("ddsketch-build").getOrCreate()
    config = SketchConfig(args.preset, args.alpha, args.max_bins)
    keys = [k for k in args.keys.split(",") if k]

    transform = None
    if args.from_html:
        from sketches_rust_spark.operators.extraction import extract_text_from_html
        engine = args.from_html

        def transform(df, _e=engine):
            from pyspark.sql import functions as F
            return df.withColumn("text", extract_text_from_html("html", engine=_e))

    job = SketchCheckpointJob(spark, args.input, args.value_expr, keys,
                              config, args.checkpoint, num_shards=args.shards,
                              transform=transform)
    metrics = job.run(resume=True)
    print(json.dumps({"shards_processed": len(metrics),
                      "shards_complete": len(job.completed_shards()),
                      "rows_in": sum(m["rows_in"] for m in metrics)}))

    if args.finalize:
        final = job.finalize()
        cols = [final[k] for k in keys]
        for q in (float(x) for x in args.quantiles.split(",")):
            cols.append(make_quantile_udf(q)("sketch").alias(f"p{int(q * 1000)}"))
        final.select(*cols, "rows_in").show(50, truncate=False)


if __name__ == "__main__":
    main()
