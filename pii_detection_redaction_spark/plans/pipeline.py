"""The flagship pipeline: extract → langid → quality → detect → scrub → sink.

Spark-first assembly of the reference's text pipeline (entry point B,
``text_detector/cli.py`` → SURVEY.md §3.2) extended with the north-rule
quality-filter stages. The plan is one narrow pipeline per bucket group —
parquet scan (column-pruned) → codegen'd quality expressions → Arrow UDFs →
write — with shuffles only at the explicit url-hash repartition and the
metrics aggregation.

Scale design:
- url-hash bucketing: ``bucket = pmod(xxhash64(url), num_buckets)`` spreads
  load uniformly regardless of host skew (distinct urls hash uniformly);
- host skew is still visible to host-keyed *aggregations* (per-host lineage
  metrics), so those run as salted two-stage aggs: partial
  ``groupBy(host, salt)`` then final ``groupBy(host)`` — a Zipf host holding
  40% of rows is split across SALT_BUCKETS reducers first;
- counters use ``df.observe`` (no extra pass over the data);
- checkpoint-resume: bucket groups are the commit unit (sources.snapshots);
- optional CC-Net-style boilerplate stage (``strip_boilerplate``): one
  JVM-only corpus pass builds the cross-group hot-line set, broadcast into
  every group; the strip itself is a row-local higher-order filter in the
  same stage as extraction (document text never shuffles for it).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core import quality as Q
from ..functions.quality import mask_toxicity_column
from ..functions.udfs import (
    extract_text_expr,
    make_quality_scrub_udf,
)
from ..sources.snapshots import SnapshotStore

SALT_BUCKETS = 16


@dataclass
class PipelineConfig:
    num_buckets: int = 64
    groups: int = 4  # commit units (bucket groups) per full run
    entities: Optional[Sequence[str]] = None
    min_score: float = 0.0
    chunk_size: int = 5000
    chunk_overlap: int = 300
    scrub_mode: str = "relationship"
    extract_from_html: bool = True
    salt_buckets: int = SALT_BUCKETS
    # CC-Net-style corpus-level boilerplate-line stripping BEFORE the quality
    # rules (off by default: the frozen keep/drop spec + pinned counters are
    # defined on unstripped text; enabling changes what the rules see).
    strip_boilerplate: bool = False
    boilerplate_min_docs: int = Q.BOILERPLATE_MIN_DOCS
    # fastText-architecture quality score (core.ftquality) as an output
    # ANNOTATION (off by default). Deliberately not a keep/drop gate: the
    # frozen reference-parity decision and its pinned counters stay intact;
    # DCLM-style selection is a downstream filter on quality_prob. Fused
    # into the one Python eval node — enabling it adds no UDF stage.
    quality_classifier: bool = False
    # path to a run_train.py 'quality' .npz artifact: score quality_prob
    # with that matrix instead of the embedded seed model (implies
    # quality_classifier) — the train-on-cluster -> filter-with-it loop
    quality_model: Optional[str] = None
    extra: Dict = field(default_factory=dict)


def with_bucket(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.num_buckets)).cast("int")
    ).withColumn("grp", (F.col("bucket") % cfg.groups).cast("int"))


def _extracted_text(df: DataFrame, cfg: PipelineConfig):
    """The canonical text column expression for a raw pages frame — the same
    extraction transform_pages applies (JVM, byte-identical invariant)."""
    if cfg.extract_from_html and "html" in df.columns:
        return extract_text_expr(F.col("html"))
    return F.col("text")


def boilerplate_hot_lines(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Corpus-level hot-line set over the EXTRACTED text of the whole input
    (cross-group by construction — boilerplate is a corpus property, so this
    is a separate lightweight pass before the bucket-group loop: JVM-only
    scan + one narrow (line, url) shuffle; CC-Net pays the same second pass).
    Single-row frame with the hot lines collected into an array, built for
    ``F.broadcast`` + higher-order filter. Derivation and strip semantics
    are the shared ``operators.dedup`` helpers — one Spark definition."""
    from ..operators.dedup import boilerplate_hot_array, boilerplate_hot_set

    return boilerplate_hot_array(
        boilerplate_hot_set(
            df, id_col="url", text=_extracted_text(df, cfg),
            min_docs=cfg.boilerplate_min_docs,
        )
    )


def transform_pages(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Pure transformation: pages(url, warc_ts, html, text, lang) → enriched
    frame with extraction, langid, perplexity, quality, detections, scrub.

    Physical shape (deliberate): exactly ONE Python eval node — fused
    langid+perplexity+detect+scrub — with extraction and all quality rules
    as codegen'd JVM expressions. History: five separate UDF stages measured
    ~2x slower than two (per-stage Arrow round-trips); round 2 fused two
    into one by passing the JVM-computed ``rules_pass`` INTO the UDF so the
    keep-gating happens Python-side — the text now crosses the Arrow
    boundary once, and the JVM no longer materializes a gated third copy.
    Counter-intuitive but measured: hoisting langid to JVM ``regexp_count``
    columns was tried (prototype since deleted) and is 2.5x SLOWER than the
    fused pandas UDF at 16 cores — Java regex case-insensitive alternations
    lose badly to pandas' C ``str.count`` loop; the Arrow transfer is not
    the bottleneck at this row width.
    """
    q_W = None
    if cfg.quality_model is not None:
        from dataclasses import replace

        from ..operators.train import load_model

        kind, q_W = load_model(cfg.quality_model)
        if kind != "ftquality":
            raise ValueError(
                f"quality_model must be a 'quality' run_train artifact, "
                f"got kind={kind!r} from {cfg.quality_model!r}"
            )
        # a supplied model implies the annotation (downstream column
        # selection keys on quality_classifier)
        cfg = replace(cfg, quality_classifier=True)
    quality_scrub_udf = make_quality_scrub_udf(
        entities=cfg.entities,
        min_score=cfg.min_score,
        size=cfg.chunk_size,
        overlap=cfg.chunk_overlap,
        mode=cfg.scrub_mode,
        quality_prob=cfg.quality_classifier,
        quality_model=q_W,
    )

    if cfg.extract_from_html and "html" in df.columns:
        # byte-identical per-url extraction invariant: extracted text IS the
        # canonical text downstream; extract_ok lineage flags divergence from
        # any pre-existing text column. JVM-side inverse of the page
        # structure (functions.udfs.extract_text_expr).
        df = df.withColumn("extracted_text", extract_text_expr(F.col("html")))
        if "text" in df.columns:
            df = df.withColumn(
                "extract_ok", F.col("extracted_text") == F.col("text")
            ).drop("text")
        else:
            df = df.withColumn("extract_ok", F.lit(True))
        df = df.withColumnRenamed("extracted_text", "text")
    else:
        df = df.withColumn("extract_ok", F.lit(True))

    if "hot_lines" in df.columns:
        # corpus-level boilerplate strip (array-broadcast strategy): drop
        # lines whose trimmed form is in the broadcast hot set, BEFORE the
        # quality rules — still row-local JVM work in the same stage; the
        # strip expressions are the shared operators.dedup definition.
        from ..operators.dedup import strip_hot_lines_exprs

        clean, removed = strip_hot_lines_exprs(F.col("text"), F.col("hot_lines"))
        df = (
            df.withColumn("boiler_removed", removed)
            .withColumn("text", clean)
            .drop("hot_lines")
        )
    else:
        df = df.withColumn("boiler_removed", F.lit(0).cast("long"))

    # Quality METRICS first (JVM, codegen'd, language-independent), then the
    # one fused UDF which makes the language prediction, applies the rule
    # thresholds (they depend on that prediction), and detects+scrubs the
    # kept docs. See make_quality_scrub_udf for the split rationale.
    from ..functions.quality import quality_metric_columns
    from ..functions.udfs import QUALITY_METRIC_FIELDS

    metrics = quality_metric_columns(F.col("text"))
    for name, col in metrics.items():
        df = df.withColumn(name, col)
    metric_struct = F.struct(*[F.col(f) for f in QUALITY_METRIC_FIELDS])

    df = df.withColumn("qs", quality_scrub_udf(F.col("text"), metric_struct))
    df = (
        df.withColumn("lang_pred", F.col("qs.lang"))
        .withColumn("lang_conf", F.col("qs.conf"))
        .withColumn("ppl", F.col("qs.ppl"))
        .withColumn("drop_reasons", F.col("qs.drop_reasons"))
        .withColumn("keep", F.size("qs.drop_reasons") == 0)
        .withColumn("detections", F.col("qs.detections"))
        .withColumn(
            # toxicity-scrub composition (north_star): kept docs get residual
            # lexicon hits masked AFTER the PII scrub — JVM regexp_replace,
            # same regex/label as core.toxicity.mask_toxicity. Docs above the
            # hit threshold never reach here (dropped by rule_toxicity).
            "scrubbed_text",
            F.when(
                F.col("keep"), mask_toxicity_column(F.col("qs.scrubbed_text"))
            ).otherwise(F.lit(None)),
        )
    )
    if cfg.quality_classifier:
        df = df.withColumn("quality_prob", F.col("qs.q_prob"))
    df = df.drop("qs")
    df = df.withColumn("n_entities_scrubbed", F.size("detections"))
    return df


OUTPUT_COLUMNS = [
    "url",
    "warc_ts",
    "bucket",
    "boiler_removed",
    "lang",
    "lang_pred",
    "lang_conf",
    "ppl",
    "keep",
    "drop_reasons",
    "extract_ok",
    "detections",
    "scrubbed_text",
    "n_entities_scrubbed",
    "n_chars",
    "n_words",
    "tox_hits",
]


def host_metrics(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per-host lineage counters via salted two-stage aggregation.

    Stage 1 shuffles on (host, salt) — skewed hosts split across
    ``salt_buckets`` reducers; stage 2 reduces ``hosts x salt`` pre-aggregated
    rows, which is tiny. Deterministic salt = pmod(xxhash64(url), S).
    Host definition is the ONE shared ``operators.web.host_col`` (a slashless
    url like https://a.example.com must roll up under its authority, not '').
    """
    from ..operators.web import host_col

    host = host_col("url").alias("host")
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(cfg.salt_buckets)).alias("salt")
    partial = (
        df.select(host, salt, "keep", "n_entities_scrubbed")
        .groupBy("host", "salt")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum(F.col("keep").cast("long")).alias("kept"),
            F.sum("n_entities_scrubbed").alias("entities"),
        )
    )
    return (
        partial.groupBy("host")
        .agg(
            F.sum("docs").alias("docs_seen"),
            F.sum("kept").alias("docs_kept"),
            (F.sum("docs") - F.sum("kept")).alias("docs_dropped"),
            F.sum("entities").alias("entities_scrubbed"),
        )
        .orderBy("host")
    )


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    cfg: Optional[PipelineConfig] = None,
    resume: bool = True,
    input_format: str = "parquet",
) -> Dict[str, int]:
    """Batch run with snapshot commits per bucket group; resumable.
    ``input_format='warc'`` ingests Common-Crawl-layout .warc(.gz) files
    via sources.warc (same downstream plan: the reader emits the pages
    schema, html payloads born in their scan task).

    Returns the accumulated counters across all snapshots (including any from
    prior partial runs when resuming).
    """
    cfg = cfg or PipelineConfig()
    if cfg.quality_model is not None and not cfg.quality_classifier:
        # keep the config self-consistent here too (transform_pages also
        # normalizes): the output-column selection below keys on the flag
        from dataclasses import replace

        cfg = replace(cfg, quality_classifier=True)
    store = SnapshotStore(out_root)
    done = store.committed_groups() if resume else set()
    if not resume and store.committed_groups():
        # reprocessing into a store with live commits would APPEND new
        # snapshots for the same groups: counters() would sum both and
        # read_output would list every group path twice — silent 2x
        # double-counting (and the commit-time group guard would abort the
        # run mid-way with half the groups rewritten). Refuse up front.
        raise ValueError(
            f"resume=False but {out_root!r} already holds committed "
            f"snapshots — reprocessing would double-commit every group; "
            f"use a fresh out_root (or delete the store) to rebuild"
        )

    if input_format == "warc":
        from ..sources.warc import read_warc

        # a crawl carries no source-truth language label; the column stays
        # in the output schema (NULL) so both sources are drop-ins
        raw = read_warc(spark, pages_path).withColumn(
            "lang", F.lit(None).cast("string")
        )
    elif input_format == "jsonl":
        from ..sources.jsonl import read_pages_jsonl

        raw = read_pages_jsonl(spark, pages_path)
    elif input_format == "parquet":
        raw = spark.read.parquet(pages_path)
    else:
        raise ValueError(f"unknown input_format {input_format!r}")
    pages = with_bucket(raw, cfg)
    # The heavy Arrow-UDF stage needs >= ~2 tasks/core or the run quantizes
    # into partial waves (measured: a 9-partition scan on 8 cores = 2 waves
    # with 7 cores idle in wave 2 — it silently cost ~25% of the round-1
    # scaling efficiency, because Spark's file bin-packing produces as few
    # as defaultParallelism+1 partitions for a many-small-files corpus).
    # If the scan's natural split is already fine-grained, skip the exchange
    # (measured ~7s for 50k docs: row serialization of html+text through the
    # shuffle); repartition only when the scan is coarser than 2 tasks/core.
    # Callers who can size the scan itself should prefer
    # spark.sql.files.maxPartitionBytes ~= input_bytes / (4 * cores)
    # (shuffle-free — what bench.py does).
    # n_parts stays <= buckets-per-group (the repartition keys on "bucket",
    # which cannot yield more non-empty partitions than distinct buckets);
    # size num_buckets >= groups * 2 * cores for full parallelism.
    scan_parts = raw.rdd.getNumPartitions()
    par = spark.sparkContext.defaultParallelism
    n_parts = max(1, cfg.num_buckets // cfg.groups)
    need_repartition = scan_parts < min(n_parts, 2 * par)

    # corpus-level hot-line set: ONE pass over the whole input (not per
    # group), reused by every group via broadcast. localCheckpoint pins the
    # result so the groups don't recompute the scan+agg lineage.
    hot_arr = None
    if cfg.strip_boilerplate:
        hot_arr = boilerplate_hot_lines(raw, cfg).localCheckpoint()

    for gid in range(cfg.groups):
        if gid in done:
            continue
        obs = Observation(f"grp-{gid}")
        part = pages.filter(F.col("grp") == gid)
        if need_repartition:
            part = part.repartition(n_parts, "bucket")
        if hot_arr is not None:
            part = part.crossJoin(F.broadcast(hot_arr))
        out_cols = OUTPUT_COLUMNS + (
            ["quality_prob"] if cfg.quality_classifier else []
        )
        out = transform_pages(part, cfg).select(*out_cols)
        out = out.observe(
            obs,
            F.count(F.lit(1)).alias("docs_seen"),
            F.sum(F.col("keep").cast("long")).alias("docs_kept"),
            F.sum("n_entities_scrubbed").alias("entities_scrubbed"),
            F.sum((~F.col("extract_ok")).cast("long")).alias("extract_mismatch"),
            # tox_masked = lexicon hits in the RAW text of kept docs — an
            # upper bound on tokens actually replaced by <TOXIC>, since a hit
            # inside a detected PII span is removed by the scrub before
            # masking. Counting post-scrub would need a second regexp pass
            # over every kept doc; the bound is documented instead.
            F.sum(F.when(F.col("keep"), F.col("tox_hits")).otherwise(F.lit(0)))
            .alias("tox_masked"),
            F.sum("boiler_removed").alias("lines_removed"),
        )
        gpath = store.group_path(gid)
        # already partitioned by bucket upstream → one file per bucket task;
        # mode=overwrite keeps retries idempotent.
        out.write.mode("overwrite").parquet(gpath)
        counters = {k: int(v or 0) for k, v in obs.get.items()}
        counters["docs_dropped"] = counters["docs_seen"] - counters["docs_kept"]
        store.commit([gid], [gpath], counters)

    return store.counters()


def read_output(
    spark: SparkSession, out_root: str, as_of: Optional[int] = None
) -> DataFrame:
    """Read the committed table; ``as_of`` time-travels to a historical
    snapshot id (see ``SnapshotStore.live_snapshots``)."""
    store = SnapshotStore(out_root)
    paths = store.data_paths(as_of)
    if not paths:
        raise FileNotFoundError(f"no committed snapshots under {out_root}")
    return spark.read.parquet(*paths)
