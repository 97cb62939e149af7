#!/usr/bin/env python
"""spark-submit entry point for the quality-filter + PII-scrub pipeline.

Cluster usage (north-rule packaging clause):

    zip -r pii_spark.zip pii_detection_redaction_spark
    spark-submit --py-files pii_spark.zip jobs/run_pipeline.py \
        --input s3://bucket/pages/ --output s3://bucket/scrubbed/ \
        --buckets 4096 --groups 64

Local smoke:

    python jobs/run_pipeline.py --input _data/pages_sf0.001.parquet \
        --output _data/out --buckets 16 --groups 4
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow `python jobs/run_pipeline.py` from a checkout (sys.path[0] is jobs/);
# on a cluster the package arrives via --py-files instead
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True, help="pages parquet path/dir")
    p.add_argument("--format", default="parquet", choices=("parquet", "warc", "jsonl"),
                   help="input format: parquet pages table, .warc(.gz) dir, or .jsonl(.gz) dir")
    p.add_argument("--output", required=True, help="snapshot-store root")
    p.add_argument("--buckets", type=int, default=64, help="url-hash buckets")
    p.add_argument("--groups", type=int, default=4,
                   help="commit units (one manifest each); a run writes all "
                        "pending groups in one job, a resume only the "
                        "uncommitted ones")
    p.add_argument("--scrub-mode", default="relationship",
                   choices=["relationship", "replace", "mask"])
    p.add_argument("--min-score", type=float, default=0.0)
    p.add_argument("--entities", nargs="*", default=None)
    p.add_argument("--strip-boilerplate", action="store_true",
                   help="CC-Net-style corpus-level boilerplate-line removal "
                        "before the quality rules (extra corpus pass)")
    p.add_argument("--quality-classifier", action="store_true",
                   help="annotate output with the fastText-architecture "
                        "quality score (fused into the one UDF stage; does "
                        "NOT change keep/drop)")
    p.add_argument("--quality-model", default=None, metavar="NPZ",
                   help="score quality_prob with a run_train.py 'quality' "
                        ".npz artifact instead of the embedded seed model "
                        "(implies --quality-classifier)")
    p.add_argument("--no-resume", action="store_true")
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pii_detection_redaction_spark.plans.pipeline import (
        PipelineConfig,
        host_metrics,
        read_output,
        run_pipeline,
    )
    from pii_detection_redaction_spark.plans.session import build_session

    spark = build_session(app_name="pii-scrub-pipeline", master=args.master)
    cfg = PipelineConfig(
        num_buckets=args.buckets,
        groups=args.groups,
        scrub_mode=args.scrub_mode,
        min_score=args.min_score,
        entities=args.entities,
        strip_boilerplate=args.strip_boilerplate,
        quality_classifier=args.quality_classifier,
        quality_model=args.quality_model,
    )
    counters = run_pipeline(
        spark, args.input, args.output, cfg, resume=not args.no_resume,
        input_format=args.format,
    )
    # per-host lineage table written beside the data
    out = read_output(spark, args.output)
    host_metrics(out).write.mode("overwrite").parquet(
        f"{args.output}/_metrics/host_metrics"
    )
    print(json.dumps(counters))
    spark.stop()


if __name__ == "__main__":
    sys.exit(main())
