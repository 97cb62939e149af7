#!/usr/bin/env python
"""spark-submit entry point for the redacted-PDF sink (reference S8, both
halves): pages parquet → detect (fused Arrow UDF) → value-gated
``redaction_plan`` math → distributed PDF assembly (``core.pdfwrite``) →
per-document ``.pdf`` files (streamed) or one parquet of (url, pdf bytes).

    spark-submit --py-files pii_spark.zip jobs/run_pdf_redact.py \
        --input pages.parquet --output out/ [--parquet] \
        [--no-labels] [--label-prefix 'PII: '] [--limit 100]

Local smoke:

    python jobs/run_pdf_redact.py --input _data/pages_sf0.001.parquet \
        --output /tmp/pdfs --limit 5
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


RENDERING_LIMITS = """\
rendering limits:
  one page per document: the page holds 60 text rows (US-Letter, 36pt
    margins, 12pt lines); rows past 60 run into the bottom margin and then
    off the page, where they are clipped; there is no pagination
  the base text layer is latin-1: every character latin-1 cannot encode
    is drawn as '?' (redaction boxes still cover the original spans)
  the glyph OCR of the image surface (core.imagecodec) reads printable
    ASCII only: any other character reads back as '?'
"""


def main() -> None:
    p = argparse.ArgumentParser(
        description="Detect PII in pages and write one redacted PDF per page.",
        epilog=RENDERING_LIMITS,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    p.add_argument("--input", required=True, help="pages parquet (url, text)")
    p.add_argument("--output", required=True,
                   help="dir for .pdf files (or parquet path with --parquet)")
    p.add_argument("--parquet", action="store_true",
                   help="write one parquet of (url, pdf binary) instead of "
                        "individual files — the corpus-scale shape")
    p.add_argument("--no-labels", action="store_true")
    p.add_argument("--label-prefix", default="")
    p.add_argument("--limit", type=int, default=None,
                   help="render only the first N pages by url")
    p.add_argument("--min-score", type=float, default=0.0)
    p.add_argument("--entities", nargs="*", default=None)
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from pii_detection_redaction_spark.functions.udfs import make_detect_udf
    from pii_detection_redaction_spark.operators.layout import redaction_plan
    from pii_detection_redaction_spark.plans.session import build_session
    from pii_detection_redaction_spark.sources.pdf import (
        render_redacted_pdfs,
        save_redacted_pdfs,
    )

    spark = build_session(app_name="pii-pdf-redact", master=args.master)
    pages = spark.read.parquet(args.input).select("url", "text")
    if args.limit:
        pages = pages.orderBy("url").limit(args.limit)
    detect = make_detect_udf(entities=args.entities, min_score=args.min_score)
    dets = pages.select(
        "url", "text", F.explode(detect(F.col("text"))).alias("d")
    ).select(
        "url", "text",
        F.col("d.entity_type").alias("entity_type"),
        F.col("d.start").alias("start"),
        F.col("d.end").alias("end"),
        F.col("d.score").alias("score"),
    )
    plan = redaction_plan(spark, dets)
    rendered = render_redacted_pdfs(
        plan, pages, draw_labels=not args.no_labels,
        label_prefix=args.label_prefix,
    )
    if args.parquet:
        rendered.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
    else:
        n = save_redacted_pdfs(rendered, args.output)
    print(json.dumps({"pdfs_written": n, "output": args.output}))
    spark.stop()


if __name__ == "__main__":
    main()
