"""Physical-plan assertions — the scale properties the engine promises.

These tests freeze the plan *shape*, not timings: predicate pushdown reaches
the parquet scan, quality expressions stay inside whole-stage codegen, small
dims broadcast, dedup uses semi-join, and the pipeline core has no shuffle
before the explicit repartition.
"""

import pytest
from pyspark.sql import functions as F

from pii_detection_redaction_spark.functions.quality import add_quality_columns
from pii_detection_redaction_spark.operators.dedup import dedup_exact
from pii_detection_redaction_spark.plans.pipeline import PipelineConfig, transform_pages
from pii_detection_redaction_spark.plans.queries import q_severity_rollup


# Account-balance bands (half-open [lo, hi)) covering the TPC-H c_acctbal range.
ACCTBAL_BANDS = [
    ("neg", -1000.0, 0.0),
    ("low", 0.0, 2500.0),
    ("mid", 2500.0, 5000.0),
    ("high", 5000.0, 7500.0),
    ("top", 7500.0, 10000.0),
]


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_to_parquet(spark, sf001_dir):
    df = (
        spark.read.parquet(f"{sf001_dir}/documents.parquet")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")
    )
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(doc_id), LessThan(doc_id,200)]" in plan
    # column pruning: lang/source/n_chars must not be read
    assert "ReadSchema" in plan and "source" not in plan.split("ReadSchema")[1].split("\n")[0]


def test_quality_exprs_in_wholestage_codegen(spark, sf001_dir):
    df = add_quality_columns(
        spark.read.parquet(f"{sf001_dir}/documents.parquet"), "text", "lang"
    )
    plan = _plan(df)
    assert "* Project" in plan  # '*' = inside WholeStageCodegen
    assert "ArrowEvalPython" not in plan  # rules are pure JVM
    assert "Exchange" not in plan  # narrow: no shuffle


def test_severity_rollup_broadcasts_dim(spark, sf001_dir):
    plan = _plan(q_severity_rollup(spark, sf001_dir))
    assert "BroadcastHashJoin" in plan


def test_dedup_exact_is_semi_join(spark, sf001_dir):
    df = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    plan = _plan(dedup_exact(df))
    assert "LeftSemi" in plan


def test_pipeline_core_shuffle_free(spark, pages_small):
    """extract→quality-metrics→fused(langid+ppl+rules+detect+scrub) is one
    narrow pipeline: no Exchange, and exactly ONE Arrow-vectorized Python
    stage (the round-2 fusion — text crosses the Arrow boundary once)."""
    pages = spark.read.parquet(pages_small)
    out = transform_pages(pages, PipelineConfig(num_buckets=8, groups=1))
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan  # never row-at-a-time Python
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert simple.count("ArrowEvalPython") == 1, simple


def test_asof_join_single_core_shuffle(spark, sf001_dir):
    """The as-of operator itself costs exactly one Exchange (the window's
    partitionBy(key)) — no nested-loop join, no range explosion."""
    from pii_detection_redaction_spark.operators.joins import asof_join

    ev = spark.read.parquet(f"{sf001_dir}/events.parquet")
    left = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("vts"), F.col("value").alias("v")
    )
    out = asof_join(left, right, "user_id", "ts", "vts", ["v"])
    # simple mode: one line per operator (formatted repeats names in details)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert plan.count("Exchange") == 1, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bin_range_join_is_hash_join(spark, sf001_dir):
    """Bin bucketing turns point-in-interval into an equi-join — the plan
    must contain a hash join on the bin id and no nested-loop join."""
    from pii_detection_redaction_spark.operators.joins import bin_range_join

    c = spark.read.parquet(f"{sf001_dir}/customer.parquet").select(
        "c_custkey", "c_acctbal"
    )
    bands = spark.createDataFrame(ACCTBAL_BANDS, "band string, lo double, hi double")
    out = bin_range_join(c, bands, "c_acctbal", "lo", "hi", bin_size=500.0)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan, plan


def test_sql_function_registration(spark, pages_small):
    """spark.sql surface: registered UDFs equal the pure-Python oracle."""
    from pii_detection_redaction_spark.core import analyze_long_text, scrub_document
    from pii_detection_redaction_spark.core.toxicity import mask_toxicity
    from pii_detection_redaction_spark.plans.sqlfuncs import register_sql_functions

    register_sql_functions(spark)
    spark.read.parquet(pages_small).limit(60).createOrReplaceTempView("pages_v")
    rows = spark.sql(
        "SELECT url, text, pii_scrub(text) AS clean, pii_scrub_all(text) AS clean_all,"
        " size(pii_detect(text)) AS n, langid(text).lang AS lang"
        " FROM pages_v WHERE length(text) > 0"
    ).collect()
    assert rows
    for r in rows:
        dets = analyze_long_text(r["text"])
        expect = scrub_document(r["text"], dets)
        assert r["clean"] == expect, r["url"]
        assert r["clean_all"] == mask_toxicity(expect), r["url"]
        assert r["n"] == len(dets)


def test_csv_reassembly_single_shuffle_any_width(spark, tmp_path):
    """Wide reassembly is ONE Exchange (groupBy row -> map rebuild) no matter
    how many columns the CSV has — the former per-column join chain was one
    shuffle per column."""
    import csv as _csv

    from pii_detection_redaction_spark.sources.csv import read_csv, redact_csv

    for n_cols in (3, 9):
        path = str(tmp_path / f"wide_{n_cols}.csv")
        header = [f"c{i}" for i in range(n_cols)]
        with open(path, "w", newline="") as f:
            w = _csv.writer(f)
            w.writerow(header)
            for r in range(4):
                w.writerow([f"v{r}_{i}" for i in range(n_cols)])
        out = redact_csv(read_csv(spark, path))["redacted"]
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "simple"
        )
        assert plan.count("Exchange") == 1, (n_cols, plan)


def test_pipeline_quality_classifier_fused(spark, pages_small):
    """Enabling the quality-classifier annotation must NOT add a Python eval
    node (it is fused into the one UDF), must not change keep/drop, and the
    scores must equal core.ftquality.predict_quality on the extracted text."""
    from pii_detection_redaction_spark.core.ftquality import predict_quality

    pages = spark.read.parquet(pages_small)
    cfg = PipelineConfig(num_buckets=8, groups=1, quality_classifier=True)
    out = transform_pages(pages, cfg)
    simple = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert simple.count("ArrowEvalPython") == 1, simple

    base = transform_pages(pages, PipelineConfig(num_buckets=8, groups=1))
    got = {r.url: r for r in out.select("url", "text", "keep", "quality_prob").collect()}
    base_keep = {r.url: r.keep for r in base.select("url", "keep").collect()}
    assert {u: r.keep for u, r in got.items()} == base_keep
    for u, r in list(got.items())[:50]:
        assert r.quality_prob == predict_quality(r.text or "")


def test_url_dedup_query_single_exchange(spark, sf001_dir):
    """The CATALOG url_dedup query moves every row exactly once (the window
    shuffle on canonical_url) — r03's extra repartition-for-local-parallelism
    is gone; scan granularity at scale belongs to maxPartitionBytes/AQE."""
    from pii_detection_redaction_spark.plans.queries import q_url_dedup

    plan = q_url_dedup(spark, sf001_dir)._jdf.queryExecution().executedPlan().toString()
    # exactly one hash shuffle (the window); the only other Exchange is the
    # rangepartitioning of the catalog's deterministic ORDER BY
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Exchange") == 2, plan


def test_fused_catalog_queries_have_no_join_shuffle(spark, sf001_dir):
    """The consolidated per-doc queries compute BOTH component column sets
    in one projection over one scan: no hash Exchange anywhere in the plan
    (the only Exchanges are _t_wide's explicit round-robin spread and the
    catalog ORDER BY's rangepartitioning). A two-branch self-join spelling
    would shuffle the whole table at 100 TB for nothing."""
    from pii_detection_redaction_spark.plans.queries import (
        q_doc_quality_flags,
        q_doc_token_stats,
        q_langid_documents,
        q_page_signals,
        q_scrub_documents,
    )

    for q in (q_doc_token_stats, q_langid_documents, q_doc_quality_flags,
              q_scrub_documents, q_page_signals):
        plan = q(spark, sf001_dir)._jdf.queryExecution().executedPlan().toString()
        assert "Exchange hashpartitioning" not in plan, (q.__name__, plan)
        assert "Join" not in plan, (q.__name__, plan)


def test_redaction_plan_single_narrow_exchange(spark):
    """redaction_plan (detections already carrying text): page text is
    consumed row-locally and projected away BEFORE the first-wins window,
    so the ONE hash Exchange moves only the narrow plan columns — and Spark
    inserts a map-side partial WindowGroupLimit (top-1 per group) below it.
    The severity dim joins as a BroadcastExchange."""
    from pii_detection_redaction_spark.operators.layout import redaction_plan

    d = spark.createDataFrame(
        [("u1", "call bob now", "PERSON", 5, 8, 0.9)],
        "url string, text string, entity_type string, start int, end int,"
        " score double",
    )
    plan = (
        redaction_plan(spark, d)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("BroadcastExchange") == 1, plan
    lines = plan.splitlines()
    ex = next(i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l)
    # the window (post-shuffle) never references the page text attribute
    win = next(l for l in lines if "Window [row_number()" in l)
    assert "text#" not in win, win
    # map-side partial top-1 per (id, type, value) runs below the Exchange
    assert any(
        "WindowGroupLimit" in l and "Partial" in l for l in lines[ex + 1 :]
    ), plan


def test_image_redaction_boxes_pure_map(spark):
    """The image surface's span->word mapping + geometry is a pure
    per-document map: no Exchange, no Python eval (the arrays arrive from
    the fused OCR+detect kernel; everything downstream is JVM)."""
    from pii_detection_redaction_spark.operators.ocr import image_redaction_boxes

    schema = (
        "url string, ocr_text string,"
        " words array<struct<word:string,cs:int,ce:int>>,"
        " detections array<struct<entity_type:string,start:int,end:int,score:double>>"
    )
    d = spark.createDataFrame(
        [("u1", "call bob", [("call", 0, 4), ("bob", 5, 8)],
          [("PERSON", 5, 8, 0.9)])], schema
    )
    plan = (
        image_redaction_boxes(d)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_redaction_plan_query_single_arrow_crossing_per_surface(spark):
    """q_redaction_plan's image branch keeps ONE ArrowEvalPython node (the
    fused OCR+detect kernel) — a chained second UDF would re-ship the OCR
    text across Arrow."""
    from pii_detection_redaction_spark.operators.ocr import make_ocr_detect_udf
    from pii_detection_redaction_spark.operators.ocr import image_redaction_boxes

    d = spark.createDataFrame([("u1", "call  bob now")], ["url", "text"])
    ocr = make_ocr_detect_udf()
    img_in = d.select("url", ocr(F.col("text")).alias("o")).select(
        "url",
        F.col("o.ocr_text").alias("ocr_text"),
        F.col("o.words").alias("words"),
        F.col("o.detections").alias("detections"),
    )
    plan = (
        image_redaction_boxes(img_in)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("ArrowEvalPython") == 1, plan
    assert "Exchange" not in plan, plan
