"""run_pipeline writes every pending bucket group in one Spark job: the plan
shape of the shuffle rule, the job count, per-group commits after a crash
between commits, and groups that receive no rows."""

import glob
import os
import re

import py4j.clientserver
import pytest
from pyspark import SparkContext

from pii_detection_redaction_spark.plans import pipeline as P
from pii_detection_redaction_spark.plans.pipeline import (
    PipelineConfig,
    pending_output,
    read_output,
    run_pipeline,
    scan_bytes,
)
from pii_detection_redaction_spark.sources.snapshots import SnapshotStore
from pii_detection_redaction_spark.testing.corpus import write_pages_parquet

CFG = PipelineConfig(num_buckets=16, groups=4)


def _pages_files(tmp_path, name, n_docs, n_files):
    return write_pages_parquet(str(tmp_path / name), n_docs, n_files=n_files)


@pytest.fixture
def one_file_per_partition(spark):
    """Each input file is its own scan partition (no small-file packing), so
    a test picks the scan's partition count with the number of files."""
    key = "spark.sql.files.openCostInBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, str(1 << 30))
    yield
    spark.conf.set(key, old)


def _count_jobs(spark, fn):
    """(fn(), number of Spark jobs fn launched): job ids are sequential, so
    the count is the rise of the newest id the status store has seen."""
    store = spark.sparkContext._jsc.sc().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def newest():
        bus.waitUntilEmpty()
        jobs = store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    before = newest()
    result = fn()
    return result, newest() - before


def _sorted_rows(spark, out):
    return sorted(
        (r.asDict(recursive=True) for r in read_output(spark, out).collect()),
        key=lambda r: r["url"],
    )


def _files(path):
    return {f: os.path.getmtime(os.path.join(path, f)) for f in os.listdir(path)}


def test_shuffle_only_for_partial_waves(
    spark, tmp_path, one_file_per_partition, monkeypatch
):
    """A scan that fills whole waves is written as is. A par+1 scan (one
    task in a second wave) gets one Exchange, sized by the scan's file
    bytes: a scan too small to give every bucket ``TASK_MIN_BYTES`` is
    range-partitioned on (grp, url) into one wave of par tasks, a larger
    one hashed on bucket into num_buckets tasks."""
    par = spark.sparkContext.defaultParallelism
    one_wave = f"rangepartitioning(grp ASC NULLS FIRST, url ASC NULLS FIRST, {par}"
    buckets = f"hashpartitioning(bucket, {CFG.num_buckets}"

    def exchanges(raw):
        out = pending_output(raw, CFG, range(CFG.groups), par)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan
        return re.sub(r"#\d+", "", " ".join(re.findall(r"Exchange (\w+\([^)]*)", plan)))

    whole = spark.read.parquet(_pages_files(tmp_path, "whole", 120, par))
    assert whole.rdd.getNumPartitions() == par
    assert exchanges(whole) == ""
    src = _pages_files(tmp_path, "partial", 120, par + 1)
    raw = spark.read.parquet(src)
    assert raw.rdd.getNumPartitions() == par + 1
    n_bytes = scan_bytes(raw)
    assert n_bytes == sum(os.path.getsize(os.path.join(src, f)) for f in os.listdir(src))
    assert exchanges(raw) == one_wave
    monkeypatch.setattr(P, "TASK_MIN_BYTES", n_bytes // CFG.num_buckets + 1)
    assert exchanges(raw) == one_wave
    monkeypatch.setattr(P, "TASK_MIN_BYTES", n_bytes // CFG.num_buckets)
    assert exchanges(raw) == buckets


def test_one_file_input_runs_one_wave(spark, tmp_path):
    """A 1-file input is one scan partition, a partial wave: its write stage
    runs exactly one task per core (one Python worker setup each), not one
    per bucket, and each task writes a contiguous run of groups."""
    sc = spark.sparkContext
    src = write_pages_parquet(str(tmp_path / "pages1.parquet"), 120)
    sc.setLocalProperty("spark.jobGroup.id", "one_wave")
    try:
        counters = run_pipeline(spark, src, str(tmp_path / "out"), CFG)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert counters["docs_seen"] == 120
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    write_job = tracker.getJobInfo(max(tracker.getJobIdsForGroup("one_wave")))
    write_stage = tracker.getStageInfo(max(write_job.stageIds))
    assert write_stage.numTasks == sc.defaultParallelism != CFG.num_buckets
    part_files = glob.glob(str(tmp_path / "out" / "data" / "group=*" / "*.parquet"))
    assert len(part_files) <= sc.defaultParallelism + CFG.groups - 1


def test_one_write_job_per_run(spark, tmp_path, one_file_per_partition):
    """Every pending group is written by one job whatever ``groups`` is; a
    resume with every group committed launches none."""
    src = _pages_files(tmp_path, "pages", 120, spark.sparkContext.defaultParallelism)
    # the input's schema inference is the only other job of a run
    _, read_jobs = _count_jobs(spark, lambda: spark.read.parquet(src).schema)
    for groups in (1, 4):
        out = str(tmp_path / f"out{groups}")
        cfg = PipelineConfig(num_buckets=16, groups=groups)
        counters, n_jobs = _count_jobs(spark, lambda: run_pipeline(spark, src, out, cfg))
        assert counters["docs_seen"] == 120
        assert n_jobs == read_jobs + 1
        store = SnapshotStore(out)
        assert store.committed_groups() == set(range(groups))
        # every part file carries the one write job's id
        job_ids = {
            re.match(r"part-\d+-([0-9a-f-]{36})", f).group(1)
            for p in store.data_paths()
            for f in os.listdir(p)
            if f.startswith("part-")
        }
        assert len(job_ids) == 1, job_ids
        resumed, n_jobs = _count_jobs(spark, lambda: run_pipeline(spark, src, out, cfg))
        assert resumed == counters
        assert n_jobs == 0


def test_crash_between_commits_resumes_uncommitted_groups(spark, tmp_path, monkeypatch):
    src = _pages_files(tmp_path, "pages", 120, 2)
    clean = str(tmp_path / "clean")
    want_counters = run_pipeline(spark, src, clean, CFG)

    out = str(tmp_path / "out")
    real_commit = SnapshotStore.commit

    def commit_once(self, group_ids, *args, **kwargs):
        if self.snapshots():
            raise RuntimeError("driver lost after the first commit")
        return real_commit(self, group_ids, *args, **kwargs)

    monkeypatch.setattr(SnapshotStore, "commit", commit_once)
    with pytest.raises(RuntimeError, match="driver lost"):
        run_pipeline(spark, src, out, CFG)
    monkeypatch.undo()

    store = SnapshotStore(out)
    assert store.committed_groups() == {0}
    committed = _files(store.group_path(0))
    # the job wrote every group; 1..3 are orphans until a resume commits them
    orphans = {g: _files(store.group_path(g)) for g in (1, 2, 3)}
    assert all(orphans.values())

    assert run_pipeline(spark, src, out, CFG) == want_counters
    assert _files(store.group_path(0)) == committed
    for g, before in orphans.items():
        after = _files(store.group_path(g))
        # dynamic overwrite replaced the orphan directory's files
        assert after and not set(after) & set(before), g
    assert [s.group_ids for s in store.snapshots()] == [[0], [1], [2], [3]]
    clean_counters = [s.counters for s in SnapshotStore(clean).snapshots()]
    assert [s.counters for s in store.snapshots()] == clean_counters
    assert _sorted_rows(spark, out) == _sorted_rows(spark, clean)

    # a driver lost mid-job leaves the write's staging directory behind
    staging = os.path.join(store.data_dir, ".spark-staging-lost-job")
    os.makedirs(os.path.join(staging, "group=2"))
    with open(os.path.join(staging, "group=2", "part-0.parquet"), "w") as f:
        f.write("partial")
    assert store.remove_orphans(min_age_s=0.0) == [staging]
    assert _sorted_rows(spark, out) == _sorted_rows(spark, clean)


def test_empty_groups_commit_zero_counters(spark, tmp_path):
    """3 docs over 4 groups: a group with no rows gets no directory but
    still commits (zero counters, no data path), so a resume writes
    nothing; read_output has the schema of a run with no empty group."""
    src = write_pages_parquet(str(tmp_path / "pages3.parquet"), 3)
    out = str(tmp_path / "out")
    counters = run_pipeline(spark, src, out, CFG)
    assert counters["docs_seen"] == 3

    store = SnapshotStore(out)
    assert store.committed_groups() == {0, 1, 2, 3}
    empty = [s for s in store.snapshots() if s.counters["docs_seen"] == 0]
    assert empty
    for s in empty:
        assert s.data_paths == []
        assert set(s.counters.values()) == {0}
        assert list(s.counters) == list(store.snapshots()[0].counters)
        assert not os.path.exists(store.group_path(s.group_ids[0]))

    resumed, n_jobs = _count_jobs(spark, lambda: run_pipeline(spark, src, out, CFG))
    assert resumed == counters
    assert n_jobs == 0

    one = str(tmp_path / "one_group")
    run_pipeline(spark, src, one, PipelineConfig(num_buckets=16, groups=1))
    assert read_output(spark, out).schema == read_output(spark, one).schema
    assert _sorted_rows(spark, out) == _sorted_rows(spark, one)


def test_warm_run_py4j_budget(spark, tmp_path, monkeypatch):
    """A warm run takes its constant Column trees from the pipeline's
    per-gateway cache and adds each stage's columns in one pass: it stays
    within 1,000 py4j round trips (building the trees afresh took ~2,600)."""
    src = _pages_files(tmp_path, "pages", 120, spark.sparkContext.defaultParallelism)
    run_pipeline(spark, src, str(tmp_path / "warm"), CFG)
    sent = []
    real = py4j.clientserver.ClientServerConnection.send_command

    def counting(self, command):
        sent.append(1)
        return real(self, command)

    monkeypatch.setattr(py4j.clientserver.ClientServerConnection, "send_command", counting)
    counters = run_pipeline(spark, src, str(tmp_path / "out"), CFG)
    monkeypatch.undo()
    assert counters["docs_seen"] == 120
    assert len(sent) <= 1000, len(sent)


def test_plan_trees_rebuilt_per_gateway(spark, monkeypatch):
    """The same gateway returns the cached Column objects; a new gateway
    (a relaunched JVM) rebuilds them, with the same expressions."""
    first = P._plan_trees("bucket", 16, 4)
    assert P._plan_trees("bucket", 16, 4) is first
    live = SparkContext._gateway

    class Relaunched:
        def __getattr__(self, name):
            return getattr(live, name)

    monkeypatch.setattr(SparkContext, "_gateway", Relaunched())
    rebuilt = P._plan_trees("bucket", 16, 4)
    assert rebuilt is not first
    assert {k: str(c) for k, c in rebuilt.items()} == {k: str(c) for k, c in first.items()}
    assert P._plan_trees("bucket", 16, 4) is rebuilt
