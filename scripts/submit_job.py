#!/usr/bin/env python
"""spark-submit entry point for the transcript pipeline.

Production launch (north_rule: "ships as spark-submit --py-files"):

    zip -r pipeline.zip apm_opentelemetry_collector_spark
    spark-submit --py-files pipeline.zip scripts/submit_job.py \
        --input  s3://bucket/transcripts/            \
        --output s3://bucket/out/run-2024-06-01/     \
        --config conf/pipelines.yaml                 \
        --buckets 4096

On a cluster, master/executor sizing comes from spark-submit flags and
the session builder only layers the pipeline confs (AQE, UTC, Arrow) on
top of the provided SparkSession. Re-running the same command after a
failure resumes: buckets with a manifest under <output>/_manifests are
skipped (plans/job.py).

Local smoke:

    python scripts/submit_job.py --synthetic 100000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from apm_opentelemetry_collector_spark.config import PipelineConfig
from apm_opentelemetry_collector_spark.plans.job import run_job
from apm_opentelemetry_collector_spark.sources import fixtures
from apm_opentelemetry_collector_spark.sources.transcripts import synth_transcripts
from apm_opentelemetry_collector_spark.sources.yaml_config import load_config


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", help="transcript table path (parquet/Iceberg dir)")
    ap.add_argument("--output", required=True, help="output root for routed/metrics/manifests")
    ap.add_argument("--config", help="pipelines YAML (sources/yaml_config.py schema)")
    ap.add_argument("--buckets", type=int, default=16,
                    help="resume granularity (conv buckets); 0 = single pass")
    ap.add_argument("--synthetic", type=int, default=0,
                    help="generate N synthetic turns instead of --input (smoke)")
    args = ap.parse_args()
    if not args.input and not args.synthetic:
        ap.error("one of --input / --synthetic is required")

    # under spark-submit a session already exists; standalone runs build one
    spark = SparkSession.builder.appName("transcript-pipeline").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "false")

    if args.config:
        svc = load_config(args.config)
        cfg, shards = svc.pipeline, svc.shards
        routes = fixtures.routes_df(spark, svc.routes)
    else:
        cfg, shards, routes = PipelineConfig(), None, None

    if args.synthetic:
        transcripts = synth_transcripts(spark, n_rows=args.synthetic,
                                        n_convs=max(args.synthetic // 100, 1))
    else:
        # path → parquet; catalog.db.table → Iceberg (north_star input)
        from apm_opentelemetry_collector_spark.sources.iceberg import (
            read_transcripts,
        )

        transcripts = read_transcripts(spark, args.input)

    res = run_job(
        spark,
        transcripts,
        args.output,
        cfg=cfg,
        n_buckets=(args.buckets or None),
        routes=routes,
        shards=shards,
    )
    print(json.dumps({
        "output": res.out_dir,
        "buckets_run": res.buckets_run,
        "buckets_skipped": res.buckets_skipped,
        "rows": sum(m["routed_rows"] for m in res.manifests),
    }))


if __name__ == "__main__":
    main()
