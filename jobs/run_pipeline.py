"""spark-submit entry point for the flagship pipeline.

Usage (cluster):
    spark-submit --py-files otel_arrow_spark.zip jobs/run_pipeline.py \
        --input  s3://bucket/transcripts \
        --output s3://bucket/out \
        [--resume]

Usage (sandbox):
    python jobs/run_pipeline.py --input .cache/transcripts/n2000000 --output /tmp/out

Prints the lineage manifest as JSON on success. Exit code 0 only when every
step committed — the contract a scheduler retries on (driver-level retry is
`otel_arrow_spark.sinks.retry_with_backoff`; task-level retry is Spark's
own spark.task.maxFailures).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="parse→enrich→route→aggregate pipeline")
    ap.add_argument("--config", default=None,
                    help="YAML/JSON pipeline spec (kind: telemetry_pipeline); "
                         "--input/--output override its source/sink paths")
    ap.add_argument("--input", default=None, help="transcript table path")
    ap.add_argument("--output", default=None, help="output directory (sinks + manifest)")
    ap.add_argument("--resume", action="store_true", help="skip committed steps")
    ap.add_argument("--master", default=None, help="override master (default: spark-submit's)")
    args = ap.parse_args(argv)
    if not args.config and not (args.input and args.output):
        ap.error("either --config or both --input and --output are required")

    from otel_arrow_spark.plans.pipeline import PipelineConfig, run_pipeline
    from otel_arrow_spark.session import get_spark

    if args.master:
        spark = get_spark(app_name="transcript-pipeline", master=args.master)
    else:
        # under spark-submit the session picks up the submitted conf
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.appName("transcript-pipeline").getOrCreate()
    if args.config:
        from otel_arrow_spark.plans.config import run_from_spec

        overrides = {}
        if args.input:
            overrides["input_path"] = args.input
        if args.output:
            overrides["output_dir"] = args.output
        manifest = run_from_spec(spark, args.config, resume=args.resume,
                                 overrides=overrides)
    else:
        manifest = run_pipeline(
            spark,
            PipelineConfig(input_path=args.input, output_dir=args.output),
            resume=args.resume,
        ).manifest
    print(json.dumps(manifest, indent=2, sort_keys=True, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
