"""End-to-end Spark pipeline vs the pure-Python oracle — the correctness gate.

Verifies, per url on the synthetic pages corpus:
- byte-identical extracted text (input_hint per-row invariant),
- langid / perplexity / quality flags equal the oracle exactly,
- detection spans equal ``analyze_long_text`` exactly,
- scrubbed text byte-identical to ``scrub_document``,
- keep/drop F1 == 1.0 vs oracle labels (north rule demands >= 0.99),
- snapshot resume reproduces identical results after a simulated partial run.
"""

import glob
import os
import shutil

import pytest

from pii_detection_redaction_spark.core import analyze_long_text, scrub_document
from pii_detection_redaction_spark.core.langid import detect_language
from pii_detection_redaction_spark.core.lm import perplexity
from pii_detection_redaction_spark.core.quality import quality_decision
from pii_detection_redaction_spark.core.scrub import select_nonoverlapping
from pii_detection_redaction_spark.core.toxicity import mask_toxicity
from pii_detection_redaction_spark.plans.pipeline import (
    PipelineConfig,
    read_output,
    run_pipeline,
)
from pii_detection_redaction_spark.testing.corpus import pages_df

CFG = PipelineConfig(num_buckets=16, groups=4)


@pytest.fixture(scope="module")
def pipeline_out(spark, pages_small, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("pipe") / "out")
    counters = run_pipeline(spark, pages_small, out, CFG)
    rows = {r["url"]: r.asDict() for r in read_output(spark, out).collect()}
    return counters, rows


@pytest.fixture(scope="module")
def oracle_rows():
    df = pages_df(500)
    out = {}
    for _, r in df.iterrows():
        lang, conf = detect_language(r.text)
        ppl = perplexity(r.text, lang)
        keep, reasons = quality_decision(r.text, lang, conf, ppl)
        dets = analyze_long_text(r.text) if keep else []
        scrubbed = mask_toxicity(scrub_document(r.text, dets)) if keep else None
        out[r.url] = {
            "text": r.text,
            "lang_true": r.lang,
            "lang_pred": lang,
            "lang_conf": conf,
            "ppl": ppl,
            "keep": keep,
            "drop_reasons": reasons,
            "detections": [d.as_tuple() for d in dets],
            "scrubbed_text": scrubbed,
        }
    return out


def test_counts_and_counters(pipeline_out, oracle_rows):
    counters, rows = pipeline_out
    assert len(rows) == 500
    assert counters["docs_seen"] == 500
    assert counters["docs_kept"] == sum(1 for o in oracle_rows.values() if o["keep"])
    assert counters["extract_mismatch"] == 0


def test_extraction_byte_identical(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    for url, o in oracle_rows.items():
        assert rows[url]["extract_ok"], url


def test_langid_and_ppl_match_oracle(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    for url, o in oracle_rows.items():
        r = rows[url]
        assert r["lang_pred"] == o["lang_pred"], url
        assert r["lang_conf"] == pytest.approx(o["lang_conf"], abs=0, rel=0), url
        assert r["ppl"] == pytest.approx(o["ppl"], rel=1e-12), url


def test_keep_drop_exact_match(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    mismatches = [u for u, o in oracle_rows.items() if rows[u]["keep"] != o["keep"]]
    assert mismatches == []  # F1 == 1.0
    for url, o in oracle_rows.items():
        assert list(rows[url]["drop_reasons"]) == o["drop_reasons"], url


def test_detections_match_oracle(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    for url, o in oracle_rows.items():
        got = [
            (d["entity_type"], d["start"], d["end"], d["score"], d["pattern_name"])
            for d in rows[url]["detections"]
        ]
        assert got == o["detections"], url


def test_scrubbed_text_byte_identical(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    for url, o in oracle_rows.items():
        assert rows[url]["scrubbed_text"] == o["scrubbed_text"], url


def test_langid_accuracy_against_ground_truth(pipeline_out, oracle_rows):
    _, rows = pipeline_out
    scored = [
        (rows[u]["lang_pred"], o["lang_true"])
        for u, o in oracle_rows.items()
        if len(o["text"]) > 50 and rows[u]["keep"]
    ]
    acc = sum(1 for p, t in scored if p == t) / len(scored)
    assert acc >= 0.98, acc


def test_resume_after_partial_commit(spark, pages_small, tmp_path):
    out = str(tmp_path / "resume_out")
    # full reference run
    full = run_pipeline(spark, pages_small, out, CFG)
    full_rows = read_output(spark, out).count()

    # simulate a crash: drop the last snapshot + its data directory
    manifests = sorted(glob.glob(os.path.join(out, "_snapshots", "manifest-*.json")))
    import json

    with open(manifests[-1]) as f:
        last = json.load(f)
    os.remove(manifests[-1])
    for p in last["data_paths"]:
        shutil.rmtree(p)

    partial = read_output(spark, out).count()
    assert partial < full_rows

    # resume: only the missing group is reprocessed; results identical
    resumed = run_pipeline(spark, pages_small, out, CFG)
    assert resumed == full
    assert read_output(spark, out).count() == full_rows


def test_dedup_pass_removes_planted_duplicates(spark, tmp_path):
    """scrub -> dedup second pass: planted cross-bucket exact duplicates are
    removed, keeper is the smallest url, non-duplicates untouched."""
    import pandas as pd

    from pii_detection_redaction_spark.plans.dedup_pass import dedup_pass, duplicate_report
    from pii_detection_redaction_spark.plans.pipeline import run_pipeline
    from pii_detection_redaction_spark.testing.corpus import pages_df, render_html

    df = pages_df(120)
    # plant exact duplicates: copy text/html of three kept-looking docs onto
    # new urls (different hosts -> different url-hash buckets)
    donors = df[(df.index % 20).isin([13, 14])].head(3)
    clones = []
    for i, (_, d) in enumerate(donors.iterrows()):
        clones.append(
            {
                "url": f"https://zzz-clone{i}.example.net/copy-{i}",
                "warc_ts": d["warc_ts"],
                "html": d["html"],
                "text": d["text"],
                "lang": d["lang"],
            }
        )
    full = pd.concat([df, pd.DataFrame(clones)], ignore_index=True)
    src = str(tmp_path / "pages.parquet")
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us")),
         ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
    )
    pq.write_table(pa.Table.from_pandas(full, schema=schema, preserve_index=False), src)

    out = str(tmp_path / "out")
    run_pipeline(spark, src, out, CFG)
    dest = str(tmp_path / "final")
    counters = dedup_pass(spark, out, dest)
    assert counters["exact_dups_removed"] == 3, counters

    rep = {r["content_md5"]: r for r in duplicate_report(spark, out).collect()}
    assert len(rep) == 3
    for r in rep.values():
        assert r["n_docs"] == 2
        assert not r["keeper_id"].startswith("https://zzz-clone")
    final_urls = {r["url"] for r in spark.read.parquet(dest).select("url").collect()}
    assert not any(u.startswith("https://zzz-clone") for u in final_urls)


def test_near_dedup_pass_transitive_chain(spark, tmp_path):
    """near-dup pass: a chain of small edits (A~B~C) collapses to ONE keeper
    via connected components; unrelated docs survive."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pii_detection_redaction_spark.plans.dedup_pass import near_dedup_pass
    from pii_detection_redaction_spark.plans.pipeline import run_pipeline
    from pii_detection_redaction_spark.testing.corpus import pages_df, render_html

    df = pages_df(120)
    # an ENGLISH plain doc: the chain verifies word-3-gram Jaccard >= 0.7
    # per edit, which needs whitespace-tokenized text (a zh/ja donor's lines
    # are single "words", so one edit would crater the shingle overlap)
    donor = df[((df.index % 20) == 13) & (df.lang == "en")].iloc[0]
    base_lines = donor["text"].split("\n")
    variants = []
    for i in range(3):
        lines = list(base_lines)
        # successive small edits: each variant differs a bit more
        for j in range(i):
            lines[j] = lines[j] + f" edit{j}"
        text = "\n".join(lines)
        variants.append(
            {
                "url": f"https://aaa-chain{i}.example.org/v-{i}",
                "warc_ts": donor["warc_ts"],
                "html": render_html(text),
                "text": text,
                "lang": donor["lang"],
            }
        )
    full = pd.concat([df, pd.DataFrame(variants)], ignore_index=True)
    src = str(tmp_path / "pages.parquet")
    schema = pa.schema(
        [("url", pa.string()), ("warc_ts", pa.timestamp("us")),
         ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string())]
    )
    pq.write_table(pa.Table.from_pandas(full, schema=schema, preserve_index=False), src)

    out = str(tmp_path / "out")
    run_pipeline(spark, src, out, CFG)
    dest = str(tmp_path / "final")
    counters = near_dedup_pass(spark, out, dest, threshold=0.7)
    final_urls = {r["url"] for r in spark.read.parquet(dest).select("url").collect()}
    chain = {u for u in final_urls if "chain" in u} | (
        {donor["url"]} & final_urls
    )
    # the donor + 3 variants form one near-dup cluster -> exactly one survives
    assert len(chain) == 1, sorted(chain)
    assert counters["near_dups_removed"] >= 3


def test_connected_components_basic(spark):
    from pii_detection_redaction_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [("b", "c"), ("a", "b"), ("x", "y"), ("q", "q")],
        "id_a string, id_b string",
    )
    got = {r["id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x", "q": "q"}


def test_pipeline_adversarial_inputs(spark):
    """Nulls, malformed HTML, invalid UTF-8, and a 120k-char doc flow
    through transform_pages without crashing, with sane lineage."""
    import pyspark.sql.types as T
    from pyspark.sql import functions as F

    from pii_detection_redaction_spark.plans.pipeline import transform_pages, with_bucket
    from pii_detection_redaction_spark.testing.corpus import render_html

    # digit-free distinct lines: digits would legitimately detect as
    # AU_POSTCODE/TFN spans and get scrubbed
    big_text = "\n".join(
        "the data and report of that system have with value line %s%s%s"
        % (chr(97 + i % 26), chr(97 + (i // 26) % 26), chr(97 + (i // 676) % 26))
        for i in range(2400)
    )  # ~150k chars -> multi-chunk detect path
    rows = [
        ("https://x.example/null-html", None, None, "en"),
        ("https://x.example/null-both", None, None, None),
        ("https://x.example/no-p-tags", b"<html><body>plain <b>bold</b></body></html>", None, "en"),
        ("https://x.example/bad-utf8", b"<p>\xff\xfe broken</p>", None, "en"),
        ("https://x.example/empty-bytes", b"", "orphan text", "en"),
        ("https://x.example/big", render_html(big_text), big_text, "en"),
    ]
    schema = T.StructType(
        [
            T.StructField("url", T.StringType()),
            T.StructField("html", T.BinaryType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    df = spark.createDataFrame(rows, schema).withColumn(
        "warc_ts", F.current_timestamp()
    )
    from pii_detection_redaction_spark.plans.pipeline import PipelineConfig

    out = {
        r["url"]: r.asDict()
        for r in transform_pages(
            with_bucket(df, PipelineConfig(num_buckets=4, groups=1)),
            PipelineConfig(num_buckets=4, groups=1),
        ).collect()
    }
    assert len(out) == len(rows)
    # null/empty/garbage docs are dropped, never crash
    for u in ("https://x.example/null-html", "https://x.example/null-both",
              "https://x.example/no-p-tags", "https://x.example/empty-bytes"):
        assert out[u]["keep"] is False, u
        assert out[u]["scrubbed_text"] is None
    # the big structured doc survives byte-identically
    big = out["https://x.example/big"]
    assert big["extract_ok"] and big["keep"]
    # == on the raw strings (no pytest repr: difflib on 150k chars is O(n^2))
    assert (big["scrubbed_text"] == big_text) is True  # nothing to scrub
    # bad utf-8 inside <p>: JVM decode replaces, doc proceeds (then dropped
    # as too short) — the point is no exception and honest lineage
    assert out["https://x.example/bad-utf8"]["keep"] is False


def test_salted_host_metrics_equals_unsalted(spark, pipeline_out, pages_small):
    """The salted two-stage host aggregation must equal a plain one-stage
    groupBy(host) — salting changes the shuffle shape, never the numbers."""
    from pyspark.sql import functions as F

    from pii_detection_redaction_spark.plans.pipeline import host_metrics

    out_df = spark.createDataFrame(
        [
            {
                "url": u,
                "keep": bool(r["keep"]),
                "n_entities_scrubbed": int(r["n_entities_scrubbed"]),
            }
            for u, r in pipeline_out[1].items()
        ]
    )
    salted = {r["host"]: r.asDict() for r in host_metrics(out_df).collect()}
    host = F.regexp_extract(F.col("url"), r"https?://([^/]+)/", 1).alias("host")
    plain = {
        r["host"]: r.asDict()
        for r in out_df.select(host, "keep", "n_entities_scrubbed")
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("docs_seen"),
            F.sum(F.col("keep").cast("long")).alias("docs_kept"),
            (F.count(F.lit(1)) - F.sum(F.col("keep").cast("long"))).alias("docs_dropped"),
            F.sum("n_entities_scrubbed").alias("entities_scrubbed"),
        )
        .collect()
    }
    assert salted == plain and len(salted) >= 10


def test_corpus_near_dup_families(spark, pages_small):
    """Corpus v8 plants 3-member near-dup families at arch 11 (members are
    one marker token apart): exact dedup must leave them (never
    byte-identical) while the LSH candidate + Jaccard-verify path forms the
    full clique — the material the benched near-dedup pass collapses."""
    from pyspark.sql import functions as F

    from pii_detection_redaction_spark.operators.dedup import (
        exact_duplicates,
        jaccard_verify_pairs,
        minhash_candidate_pairs,
    )

    df = spark.read.parquet(pages_small).select("url", "text")
    fam = df.filter(F.col("url").rlike("page-(11|31|51)$"))
    assert fam.count() == 3
    assert exact_duplicates(fam, id_col="url", text_col="text").count() == 0
    cand = minhash_candidate_pairs(fam, id_col="url", text_col="text")
    ver = jaccard_verify_pairs(fam, cand, id_col="url", text_col="text",
                               threshold=0.8)
    assert ver.count() == 3  # full 3-clique of verified near-dup pairs


# --- snapshot lifecycle (expire / compact / orphan GC) -----------------------


def test_manifest_compaction_preserves_state():
    """compact_manifests merges N manifests into ONE checkpoint with
    identical table state (groups, paths, counters); expire_snapshots then
    removes only the superseded files and nothing observable changes."""
    import tempfile

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    with tempfile.TemporaryDirectory() as root:
        store = SnapshotStore(root)
        for gid in range(3):
            store.commit([gid], [store.group_path(gid)], {"docs": 10 + gid})
        before = (store.committed_groups(), store.data_paths(), store.counters())

        cp = store.compact_manifests()
        assert cp.checkpoint and cp.snapshot_id == 4
        after = (store.committed_groups(), sorted(store.data_paths()),
                 store.counters())
        assert after == (before[0], sorted(before[1]), before[2])

        assert store.expire_snapshots() == 3
        assert [s.snapshot_id for s in store.snapshots()] == [4]
        assert (store.committed_groups(), store.counters()) == (
            before[0], before[2])

        # post-checkpoint commits append normally and a re-compaction
        # folds them into the next checkpoint
        store.commit([7], [store.group_path(7)], {"docs": 1})
        assert store.counters()["docs"] == 34
        store.compact_manifests()
        store.expire_snapshots()
        assert len(store.snapshots()) == 1
        assert store.counters()["docs"] == 34


def test_time_travel_as_of():
    """as_of resolves historical table state (Iceberg time-travel analog):
    groups/paths/counters as of snapshot N include exactly commits ≤ N; a
    checkpoint ≤ N supersedes its ancestors within the filtered view;
    unknown or expired ids raise KeyError."""
    import tempfile

    import pytest

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    with tempfile.TemporaryDirectory() as root:
        store = SnapshotStore(root)
        for gid in range(3):
            store.commit([gid], [store.group_path(gid)], {"docs": 10 + gid})

        assert store.committed_groups(as_of=1) == {0}
        assert store.counters(as_of=2) == {"docs": 21}  # 10 + 11
        assert store.data_paths(as_of=2) == [
            store.group_path(0), store.group_path(1)
        ]
        # head == explicit latest id
        assert store.counters(as_of=3) == store.counters()

        with pytest.raises(KeyError, match="snapshot 99"):
            store.live_snapshots(as_of=99)

        # checkpoint at 4; a later commit at 5; as_of=4 sees the merged
        # pre-checkpoint state, as_of=5 adds the new group
        store.compact_manifests()
        store.commit([7], [store.group_path(7)], {"docs": 1})
        assert store.committed_groups(as_of=4) == {0, 1, 2}
        assert store.counters(as_of=5)["docs"] == 34
        # history lists every on-disk manifest oldest-first
        hist = store.history()
        assert [h["snapshot_id"] for h in hist] == [1, 2, 3, 4, 5]
        assert hist[3]["checkpoint"] is True

        # expiry removes the pre-checkpoint manifests -> those ids now raise
        store.expire_snapshots()
        with pytest.raises(KeyError, match="expired"):
            store.counters(as_of=2)
        assert store.counters(as_of=4) == {"docs": 33}


def test_read_output_as_of(spark, pages_small, tmp_path):
    """read_output(as_of=) returns exactly the rows committed up to that
    snapshot — the row count grows monotonically along the history and the
    head read equals the default read."""
    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    out = str(tmp_path / "tt_out")
    run_pipeline(spark, pages_small, out, CFG)
    store = SnapshotStore(out)
    sids = [s.snapshot_id for s in store.snapshots()]
    assert len(sids) >= 2  # groups commit independently
    counts = [read_output(spark, out, as_of=sid).count() for sid in sids]
    assert all(a < b for a, b in zip(counts, counts[1:]))
    assert counts[-1] == read_output(spark, out).count()
    # per-snapshot delta matches the manifest's own counters (the table
    # keeps dropped rows as lineage, so the row count is docs_seen)
    per_group = [s.counters.get("docs_seen", 0) for s in store.snapshots()]
    assert counts[0] == per_group[0]
    assert counts[-1] == sum(per_group)


def test_remove_orphans_age_guard():
    """Orphan GC removes only UNreferenced group dirs older than the age
    window: a live group and a fresh (possibly in-flight) dir survive."""
    import tempfile

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    with tempfile.TemporaryDirectory() as root:
        store = SnapshotStore(root)
        for gid in (0, 1):
            os.makedirs(store.group_path(gid))
            with open(os.path.join(store.group_path(gid), "part-0.parquet"), "w") as f:
                f.write("x")
        store.commit([0], [store.group_path(0)], {})

        # group 1 is orphaned but FRESH -> kept under the default window
        assert store.remove_orphans() == []
        # with the window at zero it is collected; the live group survives
        assert store.remove_orphans(min_age_s=0.0) == [store.group_path(1)]
        assert os.path.isdir(store.group_path(0))


def test_resume_after_expiry(spark, pages_small, tmp_path):
    """GC safety: a partially-committed run whose manifests were compacted
    and expired still resumes exactly — the checkpoint carries the committed
    group set, so only the missing groups are reprocessed and the final
    counters equal a clean full run's."""
    import json

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    ref = str(tmp_path / "ref_out")
    full = run_pipeline(spark, pages_small, ref, CFG)

    out = str(tmp_path / "gc_out")
    run_pipeline(spark, pages_small, out, CFG)
    # simulate the crash AFTER two commits: drop the last two snapshots +
    # their data dirs (groups 2 and 3 never committed)
    manifests = sorted(glob.glob(os.path.join(out, "_snapshots", "manifest-*.json")))
    for m in manifests[-2:]:
        with open(m) as f:
            d = json.load(f)
        os.remove(m)
        for p in d["data_paths"]:
            shutil.rmtree(p)

    store = SnapshotStore(out)
    store.compact_manifests()
    assert store.expire_snapshots() == 2
    assert store.committed_groups() == {0, 1}

    resumed = run_pipeline(spark, pages_small, out, CFG)
    assert resumed == full
    assert read_output(spark, out).count() == read_output(spark, ref).count()


def test_remove_orphans_path_spelling_safe(tmp_path, monkeypatch):
    """Liveness is by group-dir BASENAME: a store opened under a different
    spelling of the same root (relative vs the committing run's absolute
    paths) must NOT collect live committed groups."""
    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    root = tmp_path / "store"
    store = SnapshotStore(str(root))
    os.makedirs(store.group_path(0))
    with open(os.path.join(store.group_path(0), "part-0.parquet"), "w") as f:
        f.write("x")
    # commit records the ABSOLUTE path
    store.commit([0], [os.path.abspath(store.group_path(0))], {})

    # reopen under a relative spelling and GC with a zero age window
    monkeypatch.chdir(tmp_path)
    rel = SnapshotStore("store")
    assert rel.remove_orphans(min_age_s=0.0) == []
    assert os.path.isdir(store.group_path(0))


def test_snapshot_commit_rejects_concurrently_committed_group(tmp_path):
    """The sid CAS serializes snapshot IDS, not groups: two runs that both
    read committed_groups()={} before either published would each commit
    the same group under different sids — readers would then double-read
    and double-count it silently. The post-link validation must roll the
    later manifest back and abort loudly; checkpoint commits (which
    legitimately re-list every live group) stay exempt."""
    import pytest

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "store"))
    store.commit([0], [store.group_path(0)], {"docs": 10})
    # a second committer (same store dir, raced past the resume guard)
    other = SnapshotStore(str(tmp_path / "store"))
    with pytest.raises(RuntimeError, match="committed concurrently"):
        other.commit([0], [store.group_path(0)], {"docs": 10})
    # the duplicate manifest was rolled back: state is single-commit
    assert [s.snapshot_id for s in store.snapshots()] == [1]
    assert store.counters() == {"docs": 10}
    # disjoint groups and checkpoint compaction still commit fine
    other.commit([1], [store.group_path(1)], {"docs": 5})
    ck = store.compact_manifests()
    assert ck.checkpoint and sorted(ck.group_ids) == [0, 1]


def test_remove_orphans_sweeps_stale_commit_tmp_files(tmp_path):
    """A crash between mkstemp and link strands a *.tmp in _snapshots that
    nothing else cleans; remove_orphans collects it under the same age
    guard that protects in-flight writers."""
    import os
    import time

    from pii_detection_redaction_spark.sources.snapshots import SnapshotStore

    store = SnapshotStore(str(tmp_path / "store"))
    store.commit([0], [store.group_path(0)], {"docs": 1})
    stale = os.path.join(store.snap_dir, "stranded123.tmp")
    fresh = os.path.join(store.snap_dir, "inflight456.tmp")
    for p in (stale, fresh):
        with open(p, "w") as f:
            f.write("{}")
    old = time.time() - 7200
    os.utime(stale, (old, old))
    removed = store.remove_orphans(min_age_s=3600)
    assert stale in removed and not os.path.exists(stale)
    assert os.path.exists(fresh)  # in-flight committer survives
    assert [s.snapshot_id for s in store.snapshots()] == [1]


def test_run_pipeline_refuses_no_resume_on_committed_store(spark, pages_small, tmp_path):
    """resume=False into a store with live commits would append duplicate
    snapshots for every group — counters 2x, read_output doubled. Must
    refuse up front."""
    import pytest

    from pii_detection_redaction_spark.plans.pipeline import run_pipeline

    out = str(tmp_path / "store")
    run_pipeline(spark, pages_small, out)
    with pytest.raises(ValueError, match="double-commit"):
        run_pipeline(spark, pages_small, out, resume=False)
