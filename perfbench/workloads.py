"""The benchmark's workloads: inputs, one timed pass, its check, its ladder.

Every call into the engine goes through its public functions; nothing in
the package is changed or re-implemented here except the pure-Python oracle
chain the checks compare against, which is itself built from ``core``.

A workload object holds the run's paths and sizes. ``run_pass`` is the
timed public entry point (over ``setup_input``, the input's first file, in
set-up passes); ``check`` verifies a full pass's output (outside the timed
region) and returns a list of problems; ``layers`` runs the traced
per-layer ledger and returns its metrics and problems.
"""

from __future__ import annotations

import csv
import os
import shutil
import statistics
import time

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from pii_detection_redaction_spark.core import lm, scanvec
from pii_detection_redaction_spark.core.chunker import analyze_long_text
from pii_detection_redaction_spark.core.langid import detect_language
from pii_detection_redaction_spark.core.quality import quality_decision
from pii_detection_redaction_spark.core.recognizers import analyze
from pii_detection_redaction_spark.core.scrub import mask_spans, scrub_document
from pii_detection_redaction_spark.core.toxicity import mask_toxicity
from pii_detection_redaction_spark.functions.quality import (
    mask_toxicity_column,
    quality_metric_columns,
)
from pii_detection_redaction_spark.functions.udfs import (
    QUALITY_METRIC_FIELDS,
    extract_text_expr,
    langid_batch,
    make_quality_scrub_udf,
)
from pii_detection_redaction_spark.operators import dedup as dedup_ops
from pii_detection_redaction_spark.operators.csvops import (
    detect_cells,
    redact_cells,
    unpivot_cells,
)
from pii_detection_redaction_spark.operators.exsub import exsub_dedup
from pii_detection_redaction_spark.operators.textstats import TOKEN_RE
from pii_detection_redaction_spark.plans import dedup_pass
from pii_detection_redaction_spark.plans import prepare as prepare_plan
from pii_detection_redaction_spark.plans.pipeline import (
    PipelineConfig,
    read_output,
    run_pipeline,
)
from pii_detection_redaction_spark.sources import csv as csv_source
from pii_detection_redaction_spark.sources.snapshots import SnapshotStore
from pii_detection_redaction_spark.testing.corpus import (
    CORPUS_VERSION,
    write_pages_parquet,
    write_wide_csv,
)

# Rounds per ladder step in a traced run; each step reports its median.
LADDER_ROUNDS = 2
# In-process stage costs: docs in the sample, and repeats per stage.
STAGE_SAMPLE = 512
STAGE_REPEATS = 3
# Records per run whose output is compared with the pure-Python oracle.
CHECK_SAMPLE = 96


def noop(df):
    """Execute every column of ``df`` and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def cached_input(work, kind, seed, n, write):
    """Inputs are cached by name = kind + corpus version + seed + size, so a
    generator change (CORPUS_VERSION bump) or a new size never reuses a
    stale file. Written to a temp name and renamed, so a crash leaves no
    half-written cache entry behind."""
    path = os.path.join(work, "inputs", f"{kind}-v{CORPUS_VERSION}-s{seed}-n{n}")
    if not os.path.isdir(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        write(tmp)
        os.rename(tmp, path)
    return path


def clear(path):
    shutil.rmtree(path, ignore_errors=True)


def ladder_times(steps, rounds, tracer, untraced_pass):
    """Run each (name, thunk) step ``rounds`` times under a span, in step
    order per round (so every step sees the same warm state), each round
    after one untraced pass (so traced and untraced samples share the
    host's conditions); returns {name: median seconds}."""
    times = {name: [] for name, _ in steps}
    for r in range(rounds):
        untraced_pass()
        for name, thunk in steps:
            with tracer.span(name, round=r) as sp:
                thunk()
            times[name].append(sp["end"] - sp["start"])
    return {name: statistics.median(ts) for name, ts in times.items()}


def dir_bytes(root, suffix):
    n_bytes = n_files = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(suffix):
                n_bytes += os.path.getsize(os.path.join(d, f))
                n_files += 1
    return n_bytes, n_files


class ScrubPages:
    """``plans.pipeline.run_pipeline`` over seeded HTML pages: extraction,
    JVM quality metrics, the fused langid/ppl/detect/scrub UDF, the toxicity
    mask, and the per-group parquet write + snapshot commit."""

    name = "scrub_pages"

    def __init__(self, work, seed, n, cores):
        self.work, self.seed, self.n, self.cores = work, seed, n, cores
        # default PipelineConfig, buckets scaled to the core count: the
        # pipeline's own sizing rule is num_buckets >= groups * 2 * cores
        groups = PipelineConfig().groups
        self.cfg = PipelineConfig(num_buckets=groups * 2 * cores, groups=groups)
        self.prep_root = os.path.join(work, "out", self.name)
        self.out = os.path.join(self.prep_root, "scrub")
        self.input = None
        self.oracle = None
        self.first_counters = None

    def make_inputs(self):
        self.input = cached_input(
            self.work, "pages", self.seed, self.n,
            lambda p: write_pages_parquet(p, self.n, seed=self.seed, n_files=8),
        )
        self.setup_input = os.path.join(self.input, "part-0000.parquet")

    def _read_docs(self, idx):
        t = pq.read_table(self.input, columns=["url", "text"]).to_pandas()
        return t.iloc[idx].reset_index(drop=True)

    def prepare_check(self):
        """Oracle keep + scrubbed_text for an evenly spaced url sample:
        detect_language -> perplexity -> quality_decision ->
        analyze_long_text -> scrub_document -> mask_toxicity."""
        step = max(1, self.n // CHECK_SAMPLE)
        docs = self._read_docs(list(range(0, self.n, step)))
        self.oracle = {}
        for url, text in zip(docs["url"], docs["text"]):
            lang, conf = detect_language(text)
            keep, _ = quality_decision(text, lang, conf, lm.perplexity(text, lang))
            scrubbed = None
            if keep:
                dets = analyze_long_text(
                    text, size=self.cfg.chunk_size, overlap=self.cfg.chunk_overlap,
                )
                scrubbed = mask_toxicity(
                    scrub_document(text, dets, mode=self.cfg.scrub_mode)
                )
            self.oracle[url] = (keep, scrubbed)

    def clear(self):
        clear(self.prep_root)

    def run_pass(self, spark, path=None):
        return run_pipeline(spark, path or self.input, self.out, self.cfg)

    def check(self, spark, counters):
        problems = []
        if counters["docs_seen"] != self.n:
            problems.append(f"docs_seen {counters['docs_seen']} != {self.n}")
        if counters["docs_kept"] + counters["docs_dropped"] != counters["docs_seen"]:
            problems.append(f"kept + dropped != seen: {counters}")
        if self.first_counters is None:
            self.first_counters = counters
        elif counters != self.first_counters:
            problems.append(f"counters changed: {counters} vs {self.first_counters}")
        rows = (
            read_output(spark, self.out)
            .filter(F.col("url").isin(list(self.oracle)))
            .select("url", "keep", "scrubbed_text")
            .collect()
        )
        got = {r["url"]: (r["keep"], r["scrubbed_text"]) for r in rows}
        if len(got) != len(self.oracle):
            problems.append(f"{len(got)} of {len(self.oracle)} sampled urls in output")
        bad = [u for u, want in self.oracle.items() if got.get(u) != want]
        if bad:
            problems.append(f"{len(bad)} sampled urls differ from the oracle, e.g. {bad[0]}")
        return problems

    # -- traced per-layer ledger -------------------------------------------
    def _ladder(self, spark, tracer, untraced_pass):
        """Cumulative noop-sink ladder over the same input; each step adds
        one public call. The last step is the full run_pipeline, whose delta
        over the mask step is the parquet write, group loop and commit."""
        cfg = self.cfg
        fused = make_quality_scrub_udf(
            entities=cfg.entities, min_score=cfg.min_score, size=cfg.chunk_size,
            overlap=cfg.chunk_overlap, mode=cfg.scrub_mode,
        )

        @pandas_udf(T.StringType())
        def identity(texts: pd.Series, m: pd.DataFrame) -> pd.Series:
            return texts

        raw = spark.read.parquet(self.input)
        text = raw.select("url", extract_text_expr(F.col("html")).alias("text"))
        metrics = text
        for name, col in quality_metric_columns(F.col("text")).items():
            metrics = metrics.withColumn(name, col)
        m_struct = F.struct(*[F.col(f) for f in QUALITY_METRIC_FIELDS])
        arrow = metrics.select("url", identity(F.col("text"), m_struct).alias("t"))
        scored = metrics.select("url", fused(F.col("text"), m_struct).alias("qs"))
        masked = scored.select(
            "url",
            F.when(
                F.size("qs.drop_reasons") == 0,
                mask_toxicity_column(F.col("qs.scrubbed_text")),
            ).alias("scrubbed_text"),
            "qs.detections",
        )

        def full():
            self.clear()
            with tracer.wrap(DataFrameWriter, "parquet", "pipeline.group_write"), \
                    tracer.wrap(SnapshotStore, "commit", "snapshots.commit"):
                return run_pipeline(spark, self.input, self.out, self.cfg)

        steps = [
            ("pipeline.scan", lambda: noop(raw.select("url", "html"))),
            ("udfs.extract", lambda: noop(text)),
            ("quality.metrics", lambda: noop(metrics)),
            ("udfs.arrow", lambda: noop(arrow)),
            ("udfs.fused", lambda: noop(scored)),
            ("quality.tox_mask", lambda: noop(masked)),
            ("pipeline.sink_commit", full),
        ]
        med = ladder_times(steps, LADDER_ROUNDS, tracer, untraced_pass)
        out, prev = {}, 0.0
        for name, _ in steps:
            delta = med[name] - prev
            prev = med[name]
            out[f"{name}_s"] = delta
            out[f"{name}_core_ms_per_doc"] = delta * self.cores * 1000.0 / self.n
        out["trace.job_s"] = med["pipeline.sink_commit"]
        return out

    def _stage_costs(self, tracer):
        """Python stage costs of the fused UDF, in this process in one thread,
        over the first STAGE_SAMPLE docs; each stage's median repeat, per
        doc the stage processes (detect and later stages see kept docs)."""
        cfg = self.cfg
        texts = self._read_docs(list(range(min(STAGE_SAMPLE, self.n))))["text"]
        models = lm.all_models()

        def ppl_all(langs):
            out = [0.0] * len(texts)
            frame = pd.DataFrame({"t": texts, "l": langs})
            for lg, grp in frame.groupby("l", sort=False):
                vals = models.get(lg, models["en"]).perplexity_batch(grp["t"].to_numpy())
                for i, v in zip(grp.index, vals):
                    out[i] = v
            return out

        def stage(name, fn):
            times, out = [], None
            for r in range(STAGE_REPEATS):
                with tracer.span(name, round=r):
                    dt, out = timed(fn)
                times.append(dt)
            return statistics.median(times), out

        t_lid, lid = stage("core.langid", lambda: langid_batch(texts))
        t_ppl, ppl = stage("core.lm.ppl", lambda: ppl_all(lid["lang"].to_numpy()))
        kept = [
            t for t, lg, cf, p in zip(texts, lid["lang"], lid["conf"], ppl)
            if quality_decision(t, lg, cf, p)[0]
        ]
        short = [t for t in kept if len(t) <= cfg.chunk_size]
        t_scan, bundles = stage("core.scanvec.scan", lambda: scanvec.batch_scan(short))
        bundle_of = dict(zip(short, bundles or []))
        t_det, dets = stage("core.chunker.detect", lambda: [
            analyze_long_text(t, size=cfg.chunk_size, overlap=cfg.chunk_overlap,
                              scans=bundle_of.get(t))
            for t in kept
        ])
        t_scr, scrubbed = stage("core.scrub.scrub", lambda: [
            scrub_document(t, d, mode=cfg.scrub_mode) for t, d in zip(kept, dets)
        ])
        t_mask, _ = stage("core.toxicity.mask", lambda: [mask_toxicity(s) for s in scrubbed])

        def per_doc(t, n):
            return 1000.0 * t / max(n, 1)

        return {
            "core.langid_ms_per_doc": per_doc(t_lid, len(texts)),
            "core.lm.ppl_ms_per_doc": per_doc(t_ppl, len(texts)),
            "core.scanvec.scan_ms_per_doc": per_doc(t_scan, len(short)),
            "core.chunker.detect_ms_per_doc": per_doc(t_det, len(kept)),
            "core.scrub.scrub_ms_per_doc": per_doc(t_scr, len(kept)),
            "core.toxicity.mask_ms_per_doc": per_doc(t_mask, len(kept)),
        }

    def _prepare_tail(self, spark, tracer):
        """The prepare lifecycle over the store the last ladder step
        committed, step by step in ``plans.prepare.prepare_corpus``'s order
        (scrub resume, exact dedup, near dedup, exsub, pack) with each step
        materialized. Returns metrics and a list of problems."""
        tail = os.path.join(self.work, "out", "prepare_steps")
        clear(tail)
        kept = read_output(spark, self.out).filter(F.col("keep"))
        n_kept = kept.count()
        with tracer.span("dedup.exact") as s_exact:
            d = dedup_ops.dedup_exact(kept, id_col="url", text_col="scrubbed_text")
            n_exact = d.count()
        with tracer.span("dedup_pass.near") as s_near:
            d, cc_rounds = dedup_pass.near_dedup_df(
                d, id_col="url", text_col="scrubbed_text"
            )
            d.write.mode("overwrite").parquet(os.path.join(tail, "deduped"))
            d = spark.read.parquet(os.path.join(tail, "deduped"))
            n_near = d.count()
        with tracer.span("exsub.exsub") as s_exsub:
            d = exsub_dedup(d, id_col="url", text_col="scrubbed_text")
            d = (
                d.withColumn("scrubbed_text", F.col("clean_text")).drop("clean_text")
                .withColumn("n_tokens", F.regexp_count(F.col("scrubbed_text"), F.lit(TOKEN_RE)))
            )
            d.write.mode("overwrite").parquet(os.path.join(tail, "exsub"))
            d = spark.read.parquet(os.path.join(tail, "exsub"))
            chars = d.agg(F.sum("n_chars_removed")).collect()[0][0] or 0
        with tracer.span("prepare.pack") as s_pack:
            final = prepare_plan.pack_and_write(spark, d, os.path.join(tail, "final"))
            agg = final.agg(
                F.count(F.lit(1)).alias("docs"),
                F.countDistinct("shard_id").alias("shards"),
            ).collect()[0]

        # prepare_corpus's first stage resumes the committed store: every
        # group is already done, so it returns the committed counters and
        # runs no UDF work
        with tracer.span("prepare.scrub_resume") as s_resume:
            resumed = run_pipeline(spark, self.input, self.out, self.cfg)
        problems = []
        if resumed != self.first_counters:
            problems.append(f"resume changed the counters: {resumed}")
        if n_kept != resumed["docs_kept"]:
            problems.append(f"{n_kept} kept rows read, {resumed['docs_kept']} counted")
        # exsub and packing keep every doc: docs_final + removed == kept
        if agg["docs"] != n_near:
            problems.append(f"{agg['docs']} docs packed, {n_near} after near dedup")

        def dur(s):
            return s["end"] - s["start"]

        return {
            "dedup.exact_s": dur(s_exact),
            "dedup_pass.near_s": dur(s_near),
            "exsub.exsub_s": dur(s_exsub),
            "prepare.pack_s": dur(s_pack),
            "prepare.scrub_resume_s": dur(s_resume),
            "dedup.exact_removed": n_kept - n_exact,
            "dedup.near_removed": n_exact - n_near,
            "dedup_pass.cc_rounds": cc_rounds,
            "exsub.chars_removed": int(chars),
            "prepare.docs_final": agg["docs"],
            "prepare.n_shards": agg["shards"],
        }, problems

    def layers(self, spark, tracer, untraced_pass):
        out = self._ladder(spark, tracer, untraced_pass)
        counters = self.first_counters
        out.update({
            "pipeline.docs_seen": counters["docs_seen"],
            "pipeline.docs_kept": counters["docs_kept"],
            "pipeline.keep_ratio": counters["docs_kept"] / counters["docs_seen"],
            "pipeline.entities_scrubbed": counters["entities_scrubbed"],
        })
        per_bucket = [
            r[1] for r in read_output(spark, self.out).groupBy("bucket").count().collect()
        ]
        out["pipeline.bucket_max_over_mean"] = max(per_bucket) / statistics.mean(per_bucket)
        out["sink.bytes_written"], out["sink.files_written"] = dir_bytes(
            os.path.join(self.out, "data"), ".parquet"
        )
        problems = self.check(spark, dict(SnapshotStore(self.out).counters()))
        out.update(self._stage_costs(tracer))
        tail, tail_problems = self._prepare_tail(spark, tracer)
        out.update(tail)
        return out, problems + tail_problems


class CsvWide:
    """``sources.csv`` read -> redact_csv -> ordered write_csv over the
    10-column ``write_wide_csv`` table: the recognizer bank per short cell,
    one shuffle (the wide reassembly) and a sort."""

    name = "csv_wide"

    def __init__(self, work, seed, n, cores):
        self.work, self.seed, self.n, self.cores = work, seed, n, cores
        self.out = os.path.join(work, "out", self.name)
        self.input = None
        self.header = None
        self.expected_ids = None
        self.sample = None

    def make_inputs(self):
        self.input = cached_input(
            self.work, "wide_csv", self.seed, self.n,
            lambda p: write_wide_csv(p, self.n, n_files=8, seed=self.seed),
        )
        self.setup_input = os.path.join(self.input, "part-0000.csv")

    @staticmethod
    def _read_rows(path):
        """Rows of every part-*.csv file under ``path`` in file-name order,
        each file's header dropped; returns (header, rows)."""
        header, rows = None, []
        for f in sorted(os.listdir(path)):
            if f.startswith("part-") and f.endswith(".csv"):
                with open(os.path.join(path, f), newline="") as fh:
                    r = csv.reader(fh)
                    header = next(r, header)
                    rows.extend(r)
        return header, rows

    @staticmethod
    def _redact(cell):
        return mask_spans(cell, analyze(cell)) if cell.strip() else cell

    def prepare_check(self):
        """Expected redacted record_id column for every row (row count and
        order), and expected redacted rows for an evenly spaced sample: each
        cell masked with exactly the spans ``core.recognizers.analyze``
        finds."""
        self.header, rows = self._read_rows(self.input)
        self.expected_ids = [self._redact(r[0]) for r in rows]
        step = max(1, len(rows) // CHECK_SAMPLE)
        self.sample = {i: [self._redact(c) for c in rows[i]] for i in range(0, len(rows), step)}

    def clear(self):
        clear(self.out)

    def run_pass(self, spark, path=None):
        df = csv_source.read_csv(spark, path or self.input)
        csv_source.write_csv(csv_source.redact_csv(df)["redacted"], self.out)

    def check(self, spark, _result):
        problems = []
        header, rows = self._read_rows(self.out)
        if header != self.header:
            problems.append(f"header {header} != {self.header}")
        if len(rows) != self.n:
            problems.append(f"{len(rows)} rows written, {self.n} read")
        elif [r[0] for r in rows] != self.expected_ids:
            problems.append("row order not preserved (record_id column differs)")
        bad = [i for i, want in self.sample.items() if i >= len(rows) or rows[i] != want]
        if bad:
            problems.append(f"{len(bad)} sampled rows differ from analyze(), e.g. row {bad[0]}")
        return problems

    def layers(self, spark, tracer, untraced_pass):
        """Cumulative noop-sink ladder: read, +unpivot, +detect, +redact,
        +wide reassembly (redact_csv), then the full ordered write."""
        df = csv_source.read_csv(spark, self.input)
        value_cols = [c for c in df.columns if c not in (csv_source.ROW_ID, csv_source.ROW_FILE)]
        long = unpivot_cells(df, csv_source.ROW_ID, value_cols,
                             passthrough_cols=[csv_source.ROW_FILE])
        detected = detect_cells(long)
        redacted = redact_cells(detected)
        wide = csv_source.redact_csv(df)["redacted"]

        def full():
            self.clear()
            with tracer.wrap(csv_source, "write_csv", "csv.write_csv"):
                self.run_pass(spark)

        steps = [
            ("csv.read", lambda: noop(df)),
            ("csvops.unpivot", lambda: noop(long)),
            ("csvops.detect", lambda: noop(detected)),
            ("csvops.redact", lambda: noop(redacted)),
            ("csv.reassemble", lambda: noop(wide)),
            ("csv.write", full),
        ]
        med = ladder_times(steps, LADDER_ROUNDS, tracer, untraced_pass)
        out, prev = {}, 0.0
        for name, _ in steps:
            out[f"{name}_s"] = med[name] - prev
            prev = med[name]
        out["trace.job_s"] = med["csv.write"]
        problems = self.check(spark, None)

        nonempty = F.col("cell").isNotNull() & (F.trim(F.col("cell")) != "")
        agg = detected.agg(
            F.count(F.lit(1)).alias("cells"),
            F.sum(nonempty.cast("long")).alias("nonempty"),
            F.sum(F.size("detections")).alias("dets"),
        ).collect()[0]
        out.update({
            "csv.cells": agg["cells"],
            "csv.nonempty_cells": agg["nonempty"],
            "csv.detections": agg["dets"],
            "csv.detections_per_cell": agg["dets"] / max(agg["nonempty"], 1),
        })
        return out, problems


WORKLOADS = {w.name: w for w in (ScrubPages, CsvWide)}
