"""The flagship pipeline: extract → langid → quality → detect → scrub → sink.

Spark-first assembly of the reference's text pipeline (entry point B,
``text_detector/cli.py`` → SURVEY.md §3.2) extended with the north-rule
quality-filter stages. A run is ONE narrow Spark job over every pending
bucket group — parquet scan (column-pruned) → JVM quality expressions →
Arrow UDFs → write partitioned on the group — with shuffles only at the
repartition of a partial-wave scan and the metrics aggregation.

Scale design:
- url-hash bucketing: ``bucket = pmod(xxhash64(url), num_buckets)`` spreads
  load uniformly regardless of host skew (distinct urls hash uniformly);
- host skew is still visible to host-keyed *aggregations* (per-host lineage
  metrics), so those run as salted two-stage aggs: partial
  ``groupBy(host, salt)`` then final ``groupBy(host)`` — a Zipf host holding
  40% of rows is split across SALT_BUCKETS reducers first;
- counters use ``df.observe`` (no extra pass over the data);
- checkpoint-resume: bucket groups are the commit unit (sources.snapshots),
  committed one manifest per group after the run's single write job. A
  driver lost mid-run loses that run's uncommitted groups (task and
  executor loss are covered by Spark's task retry); resume skips every
  committed group and rewrites only the rest;
- optional CC-Net-style boilerplate stage (``strip_boilerplate``): one
  JVM-only corpus pass builds the cross-group hot-line set, broadcast into
  the write job; the strip itself is a row-local higher-order filter in the
  same stage as extraction (document text never shuffles for it).
"""

from __future__ import annotations

import threading
from dataclasses import dataclass
from typing import Dict, Optional, Sequence

from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..core import quality as Q
from ..functions.quality import mask_toxicity_column, quality_metric_columns
from ..functions.udfs import (
    QUALITY_METRIC_FIELDS,
    extract_text_expr,
    make_quality_scrub_udf,
)
from ..sources.snapshots import SnapshotStore

SALT_BUCKETS = 16
# Input bytes (pages parquet) a Python task should carry at the least: every
# task pays a fixed worker setup before its first row (50-80 ms for an empty
# task on local[4]). Sized when that setup was ~0.2 s, about a tenth of the
# fused stage's one-core time over 2 MiB.
TASK_MIN_BYTES = 2 << 20


@dataclass
class PipelineConfig:
    num_buckets: int = 64
    # commit units (bucket groups): one manifest each, all written by one
    # job per run; a resume rewrites only the uncommitted groups
    groups: int = 4
    entities: Optional[Sequence[str]] = None
    min_score: float = 0.0
    chunk_size: int = 5000
    chunk_overlap: int = 300
    scrub_mode: str = "relationship"
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

    def __post_init__(self):
        # a supplied model implies the annotation (the output-column
        # selection keys on quality_classifier)
        if self.quality_model is not None:
            self.quality_classifier = True


def _build_trees(kind: str, *key):
    """The Column trees of one ``_plan_trees`` entry."""
    if kind == "bucket":
        num_buckets, groups = key
        bucket = F.pmod(F.xxhash64(F.col("url")), F.lit(num_buckets)).cast("int")
        return {"bucket": bucket, "grp": (bucket % groups).cast("int")}
    if kind == "extract":
        text = extract_text_expr(F.col("html"))
        return {
            "text": text.alias("text"),
            "extract_ok": (text == F.col("text")).alias("extract_ok"),
            "ok": F.lit(True).alias("extract_ok"),
            "boiler_removed": F.lit(0).cast("long").alias("boiler_removed"),
        }
    if kind == "metrics":
        metric_struct = F.struct(*[F.col(f) for f in QUALITY_METRIC_FIELDS])
        return quality_metric_columns(F.col("text")), (F.col("text"), metric_struct)
    if kind == "unpack":
        (quality_classifier,) = key
        keep = F.size("qs.drop_reasons") == 0
        cols = {
            "lang_pred": F.col("qs.lang"),
            "lang_conf": F.col("qs.conf"),
            "ppl": F.col("qs.ppl"),
            "drop_reasons": F.col("qs.drop_reasons"),
            "keep": keep,
            "detections": F.col("qs.detections"),
            # toxicity-scrub composition (north_star): kept docs get residual
            # lexicon hits masked AFTER the PII scrub — JVM regexp_replace,
            # same regex/label as core.toxicity.mask_toxicity. Docs above the
            # hit threshold never reach here (dropped by rule_toxicity).
            "scrubbed_text": F.when(
                keep, mask_toxicity_column(F.col("qs.scrubbed_text"))
            ).otherwise(F.lit(None)),
        }
        if quality_classifier:
            cols["quality_prob"] = F.col("qs.q_prob")
        cols["n_entities_scrubbed"] = F.size("qs.detections")
        return tuple(col.alias(name) for name, col in cols.items())
    if kind == "output":
        (quality_classifier,) = key
        names = OUTPUT_COLUMNS + (["quality_prob"] if quality_classifier else [])
        return (*[F.col(c) for c in names], F.col("grp").alias("group"))
    if kind == "counters":
        (pending,) = key
        # per-group commit counters: each is a per-row contribution that the
        # run's one Observation sums over the group's rows
        cols = {
            "docs_seen": F.lit(1),
            "docs_kept": F.col("keep").cast("long"),
            "entities_scrubbed": F.col("n_entities_scrubbed"),
            "extract_mismatch": (~F.col("extract_ok")).cast("long"),
            # tox_masked = lexicon hits in the RAW text of kept docs — an upper
            # bound on tokens actually replaced by <TOXIC>, since a hit inside a
            # detected PII span is removed by the scrub before masking. Counting
            # post-scrub would need a second regexp pass over every kept doc;
            # the bound is documented instead.
            "tox_masked": F.when(F.col("keep"), F.col("tox_hits")).otherwise(F.lit(0)),
            "lines_removed": F.col("boiler_removed"),
        }
        return tuple(cols), tuple(
            F.sum(F.when(F.col("group") == gid, col)).alias(f"{name}_g{gid}")
            for gid in pending
            for name, col in cols.items()
        )
    raise KeyError(kind)


_trees: dict = {}
_trees_gateway = None
_trees_lock = threading.Lock()


def _plan_trees(kind: str, *key):
    """The run's Column trees of ``kind`` (for ``key``), built once per JVM.

    Every ``F.*`` call and Column operator is a py4j round trip, so building
    the plan's constant trees afresh cost every run ~2,200 of them. A Column
    is an unresolved tree that names its inputs and holds no session, so one
    object can be added to any number of frames. The cache lives as long as
    the py4j gateway it was built through: a SparkContext restarted in the
    same JVM reuses it, a relaunched JVM (a new gateway) rebuilds it.
    Callers share the returned objects and must not mutate them."""
    global _trees_gateway
    k = (kind,) + key
    with _trees_lock:
        gateway = SparkContext._gateway
        if gateway is not _trees_gateway:
            _trees.clear()
            _trees_gateway = gateway
        if k not in _trees:
            _trees[k] = _build_trees(kind, *key)
        return _trees[k]


def with_bucket(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    return df.withColumns(_plan_trees("bucket", cfg.num_buckets, cfg.groups))


def _extracted_text(df: DataFrame):
    """The canonical text column expression for a raw pages frame — the same
    extraction transform_pages applies (JVM, byte-identical invariant)."""
    if "html" in df.columns:
        return extract_text_expr(F.col("html"))
    return F.col("text")


def boilerplate_hot_lines(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Corpus-level hot-line set over the EXTRACTED text of the whole input
    (cross-group by construction — boilerplate is a corpus property, so this
    is a separate lightweight pass before the write job: JVM-only
    scan + one narrow (line, url) shuffle; CC-Net pays the same second pass).
    Single-row frame with the hot lines collected into an array, built for
    ``F.broadcast`` + higher-order filter. Derivation and strip semantics
    are the shared ``operators.dedup`` helpers — one Spark definition."""
    from ..operators.dedup import boilerplate_hot_array, boilerplate_hot_set

    return boilerplate_hot_array(
        boilerplate_hot_set(
            df, id_col="url", text=_extracted_text(df),
            min_docs=cfg.boilerplate_min_docs,
        )
    )


def transform_pages(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Pure transformation: pages(url, warc_ts, html, text, lang) → enriched
    frame with extraction, langid, perplexity, quality, detections, scrub.

    Physical shape (deliberate): exactly ONE Python eval node — fused
    langid+perplexity+rules+detect+scrub — with extraction and the quality
    metrics as JVM expressions (the metric Project runs interpreted: its
    line lambdas are not whole-stage code). History: five separate UDF
    stages measured ~2x slower than two (per-stage Arrow round-trips);
    round 2 fused two
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
        from ..operators.train import load_model

        kind, q_W = load_model(cfg.quality_model)
        if kind != "ftquality":
            raise ValueError(
                f"quality_model must be a 'quality' run_train artifact, "
                f"got kind={kind!r} from {cfg.quality_model!r}"
            )
    quality_scrub_udf = make_quality_scrub_udf(
        entities=cfg.entities,
        min_score=cfg.min_score,
        size=cfg.chunk_size,
        overlap=cfg.chunk_overlap,
        mode=cfg.scrub_mode,
        quality_prob=cfg.quality_classifier,
        quality_model=q_W,
    )

    # One analyzer pass per stage: each withColumn would be a pass of its
    # own over the whole plan.
    names = df.columns
    ex = _plan_trees("extract")
    if "html" in names:
        # byte-identical per-url extraction invariant: extracted text IS the
        # canonical text downstream; extract_ok lineage flags divergence from
        # any pre-existing text column. JVM-side inverse of the page
        # structure (functions.udfs.extract_text_expr).
        added = [ex["text"], ex["extract_ok"] if "text" in names else ex["ok"]]
        names = [c for c in names if c != "text"]
    else:
        added = [ex["ok"]]
    if "hot_lines" in names:
        # corpus-level boilerplate strip (array-broadcast strategy): drop
        # lines whose trimmed form is in the broadcast hot set, BEFORE the
        # quality rules — still row-local JVM work in the same stage; the
        # strip expressions are the shared operators.dedup definition.
        from ..operators.dedup import strip_hot_lines_exprs

        df = df.select(*names, *added)
        clean, removed = strip_hot_lines_exprs(F.col("text"), F.col("hot_lines"))
        df = df.select(
            *[clean.alias(c) if c == "text" else c for c in df.columns if c != "hot_lines"],
            removed.alias("boiler_removed"),
        )
    else:
        df = df.select(*names, *added, ex["boiler_removed"])

    # Quality METRICS first (JVM, language-independent), then the
    # one fused UDF which makes the language prediction, applies the rule
    # thresholds (they depend on that prediction), and detects+scrubs the
    # kept docs. See make_quality_scrub_udf for the split rationale.
    metrics, udf_args = _plan_trees("metrics")
    df = df.withColumns(metrics)
    names = df.columns
    df = df.withColumn("qs", quality_scrub_udf(*udf_args))
    df = df.select(*names, *_plan_trees("unpack", cfg.quality_classifier))
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


def host_metrics(df: DataFrame) -> DataFrame:
    """Per-host lineage counters via salted two-stage aggregation.

    Stage 1 shuffles on (host, salt) — skewed hosts split across
    ``SALT_BUCKETS`` reducers; stage 2 reduces ``hosts x salt`` pre-aggregated
    rows, which is tiny. Deterministic salt = pmod(xxhash64(url), S).
    Host definition is the ONE shared ``operators.web.host_col`` (a slashless
    url like https://a.example.com must roll up under its authority, not '').
    """
    from ..operators.web import host_col

    host = host_col("url").alias("host")
    salt = F.pmod(F.xxhash64(F.col("url")), F.lit(SALT_BUCKETS)).alias("salt")
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


def scan_bytes(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` — the file bytes of a file
    scan — read from its plan statistics, without a Spark job."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def pending_output(
    raw: DataFrame,
    cfg: PipelineConfig,
    pending: Sequence[int],
    parallelism: int,
    hot_arr: Optional[DataFrame] = None,
) -> DataFrame:
    """The output rows of every ``pending`` bucket group as ONE frame:
    ``OUTPUT_COLUMNS`` (+ ``quality_prob``) plus the ``group`` column the
    write partitions on.

    Shuffle rule: the heavy Arrow-UDF stage must not quantize into partial
    waves (measured: a 9-partition scan on 8 cores = 2 waves with 7 cores
    idle in wave 2 — it silently cost ~25% of the round-1 scaling
    efficiency, because Spark's file bin-packing produces as few as
    defaultParallelism+1 partitions for a many-small-files corpus). A scan
    that fills whole waves, or already has >= 2 tasks/core, runs as is (the
    exchange serializes html+text through the shuffle: measured ~7s for
    50k docs). Otherwise the scan's size picks the repartition, because
    every Python task pays a fixed setup before its first row: a scan too
    small to give each of ``num_buckets`` tasks ``TASK_MIN_BYTES`` runs as
    one wave of ``parallelism`` tasks, range-partitioned on
    ``(grp, url)`` — rows stay even, and each task holds a contiguous run
    of groups, so the write leaves at most ``parallelism + groups - 1``
    part files (a hash on ``url`` would leave one per task and group; a
    hash of the few ``bucket`` values into few partitions is uneven). The
    range bounds cost one sampling job over the scan's url column. A
    larger scan goes to ``num_buckets`` partitions on ``bucket`` (>= 2
    waves, so doc-length skew fills the tail, and each task holds few
    groups). Callers who can size the scan itself should prefer
    spark.sql.files.maxPartitionBytes ~= input_bytes / (4 * cores)
    (shuffle-free — what bench.py does)."""
    pages = with_bucket(raw, cfg)
    if len(pending) < cfg.groups:
        pages = pages.filter(F.col("grp").isin(list(pending)))
    scan_parts = raw.rdd.getNumPartitions()
    if scan_parts % parallelism and scan_parts < 2 * parallelism:
        if scan_bytes(raw) < cfg.num_buckets * TASK_MIN_BYTES:
            pages = pages.repartitionByRange(parallelism, "grp", "url")
        else:
            pages = pages.repartition(cfg.num_buckets, "bucket")
    if hot_arr is not None:
        pages = pages.crossJoin(F.broadcast(hot_arr))
    return transform_pages(pages, cfg).select(*_plan_trees("output", cfg.quality_classifier))


def run_pipeline(
    spark: SparkSession,
    pages_path: str,
    out_root: str,
    cfg: Optional[PipelineConfig] = None,
    resume: bool = True,
    input_format: str = "parquet",
) -> Dict[str, int]:
    """Batch run with one snapshot commit per bucket group; resumable.
    ``input_format='warc'`` ingests Common-Crawl-layout .warc(.gz) files
    via sources.warc (same downstream plan: the reader emits the pages
    schema, html payloads born in their scan task).

    Every pending group runs in ONE Spark job: one scan, one plan, one
    write partitioned on the group with dynamic partition overwrite (only
    the pending ``group=<gid>`` directories are replaced; a small
    partial-wave scan adds one sampling job for its range bounds, see
    ``pending_output``). After the job, each pending group commits its
    own manifest, in gid order. A group that received no rows has no
    directory and commits zero counters with no data path, so a later
    resume skips it.

    Build cost: the driver plans the run before the write job starts. The
    first run in a JVM makes ~3,000 py4j round trips, most of them building
    the plan's constant Column trees (``_plan_trees``). A warm run reuses
    them and adds each stage's columns in one analyzer pass: ~360 round
    trips and ~0.3 s from the call to the job's submission on the
    4,000-page ``scrub_pages`` input (``local[4]``, 4 vCPUs), about half of
    it the input's schema read and the write set-up.

    Returns the accumulated counters across all snapshots (including any from
    prior partial runs when resuming).
    """
    cfg = cfg or PipelineConfig()
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
    pending = [gid for gid in range(cfg.groups) if gid not in done]
    if not pending:
        return store.counters()

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
    # corpus-level hot-line set: ONE pass over the whole input (all groups,
    # committed ones included), broadcast into the job. localCheckpoint
    # pins the result so the write does not recompute the scan+agg lineage.
    hot_arr = None
    if cfg.strip_boilerplate:
        hot_arr = boilerplate_hot_lines(raw, cfg).localCheckpoint()
    out = pending_output(
        raw, cfg, pending, spark.sparkContext.defaultParallelism, hot_arr
    )
    counter_names, counter_aggs = _plan_trees("counters", tuple(pending))
    obs = Observation("groups")
    out = out.observe(obs, *counter_aggs)
    # mode=overwrite + dynamic partition overwrite: only the group=<gid>
    # directories this job writes are replaced (a crashed run's orphans
    # included); committed groups are untouched, so retries are idempotent.
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("group").parquet(store.data_dir)
    totals = obs.get
    for gid in pending:
        counters = {name: int(totals[f"{name}_g{gid}"] or 0) for name in counter_names}
        counters["docs_dropped"] = counters["docs_seen"] - counters["docs_kept"]
        paths = [store.group_path(gid)] if counters["docs_seen"] else []
        store.commit([gid], paths, counters)

    return store.counters()


def read_output(
    spark: SparkSession, out_root: str, as_of: Optional[int] = None
) -> DataFrame:
    """Read the committed table; ``as_of`` time-travels to a historical
    snapshot id (see ``SnapshotStore.live_snapshots``)."""
    store = SnapshotStore(out_root)
    paths = store.data_paths(as_of)
    if not paths:
        # no live snapshot, or only groups that received no rows
        raise FileNotFoundError(f"no committed data under {out_root}")
    return spark.read.parquet(*paths)
