"""Streaming stateful first-seen dedup (applyInPandasWithState)."""


def test_stateful_first_seen_dedup_across_drains(spark, tmp_path):
    """applyInPandasWithState: first-seen exact dedup — duplicates suppressed
    within a batch, across batches, and across query restarts (state store +
    checkpoint persistence)."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pii_detection_redaction_spark.streaming.stateful import run_first_seen_dedup

    src = tmp_path / "src"
    src.mkdir()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    ddl = "url string, text string"

    def write(name, rows):
        t = pa.table(
            {"url": [r[0] for r in rows], "text": [r[1] for r in rows]}
        )
        pq.write_table(t, str(src / name))

    # batch 1: 'aaa' duplicated within the batch
    write("b1.parquet", [("u1", "aaa"), ("u2", "aaa"), ("u3", "bbb")])
    q = run_first_seen_dedup(spark, str(src), out, ckpt, schema_ddl=ddl)
    q.awaitTermination(120)

    # batch 2 (fresh drain, same checkpoint): 'aaa'/'bbb' repeat, 'ccc' is new
    write("b2.parquet", [("u4", "aaa"), ("u5", "ccc"), ("u6", "bbb")])
    q2 = run_first_seen_dedup(spark, str(src), out, ckpt, schema_ddl=ddl)
    q2.awaitTermination(120)

    got = {
        (r["content_md5"], r["url"])
        for r in spark.read.parquet(out).collect()
    }
    import hashlib

    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got == {
        (md5("aaa"), "u1"),  # within-batch winner: smallest url
        (md5("bbb"), "u3"),
        (md5("ccc"), "u5"),  # only the genuinely-new hash from drain 2
    }


def test_streaming_url_dedup_first_seen(spark, tmp_path):
    """Canonical-URL first-seen dedup across micro-batch drains: the crawl
    table's decorated re-crawls collapse onto their first-seen record, and a
    second drain with no new files emits nothing (state survives)."""
    import os

    from pii_detection_redaction_spark.streaming.stateful import (
        first_seen_url_dedup_stream,
    )
    from pii_detection_redaction_spark.streaming.pipeline import PAGES_DDL
    from pii_detection_redaction_spark.testing.corpus import ensure_crawl_parquet

    src = tmp_path / "crawl_in"
    src.mkdir()
    os.symlink(ensure_crawl_parquet(), src / "part-0.parquet")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def drain():
        stream = (
            spark.readStream.schema(PAGES_DDL).format("parquet").load(str(src))
        )
        q = (
            first_seen_url_dedup_stream(stream)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()
    got = spark.read.parquet(out)
    n_canon = got.select("canonical_url").distinct().count()
    assert got.count() == n_canon == 500  # 571 crawl records -> 500 pages
    drain()  # no new files: exactly-once, nothing re-emitted
    assert spark.read.parquet(out).count() == 500
