"""End-to-end CSV redaction source→sink (reference csv_redactor analog)."""

import csv
import glob
import io

import pytest
from pyspark.sql import types as T

from pii_detection_redaction_spark.operators.csvops import (
    cell_detections_long,
    detect_cells,
    detection_summary,
    redact_cells,
    unpivot_cells,
)
from pii_detection_redaction_spark.sources.batch import batch_redact
from pii_detection_redaction_spark.sources.csv import (
    ROW_FILE,
    ROW_ID,
    detections_to_json,
    read_csv,
    redact_csv,
    write_csv,
)
from pii_detection_redaction_spark.testing.corpus import write_wide_csv


def _write_input(path):
    rows = [
        ["name", "email", "phone", "notes"],
        ["Bob Smith", "bob.smith@ex.com", "0412 345 678", "meeting at noon"],
        ["Olivia Baker", "olivia.baker@ex.com", "", "tfn 123-456-789 on file"],
        ["", "", "", "no pii in this row"],
    ]
    with open(path, "w", newline="") as f:
        csv.writer(f).writerows(rows)


def test_csv_redaction_roundtrip(spark, tmp_path):
    src = str(tmp_path / "in.csv")
    _write_input(src)
    df = read_csv(spark, src)
    out = redact_csv(df)

    red = [r.asDict() for r in out["redacted"].collect()]
    assert len(red) == 3
    all_text = " ".join(str(v) for r in red for v in r.values())
    assert "bob.smith@ex.com" not in all_text
    assert "0412 345 678" not in all_text
    assert "123-456-789" not in all_text
    assert any("no pii in this row" in str(r["notes"]) for r in red)

    dets = out["detections"].collect()
    types = {r["entity_type"] for r in dets}
    assert {"EMAIL_ADDRESS", "AU_PHONE_NUMBER", "AU_TFN"} <= types
    # detection record shape: value column holds the matched text
    email_det = [r for r in dets if r["entity_type"] == "EMAIL_ADDRESS"]
    assert all("@" in r["value"] for r in email_det)

    summary = {r["entity_type"]: r["n_detections"] for r in out["summary"].collect()}
    assert summary["EMAIL_ADDRESS"] == 2

    # labels mode
    out2 = redact_csv(df, use_entity_labels=True)
    red2 = " ".join(
        str(v) for r in out2["redacted"].collect() for v in r.asDict().values()
    )
    assert "<EMAIL_ADDRESS>" in red2

    # sinks
    dst = str(tmp_path / "out_csv")
    write_csv(out["redacted"], dst)
    written = glob.glob(f"{dst}/*.csv")
    assert written
    j = detections_to_json(out["detections"]).collect()
    assert all(r["json"].startswith("{") for r in j)


def _csv_bytes(rows):
    buf = io.StringIO()
    csv.writer(buf, lineterminator="\n").writerows(rows)
    return buf.getvalue().encode()


def test_whitespace_cells_written_as_read(spark, tmp_path):
    """Cells of only whitespace and cells with leading or trailing blanks are
    written as read, as Python's ``csv`` writer writes them: Spark's CSV
    writer trims both ends of every cell unless told not to."""
    rows = [
        ["name", "notes", "pad"],
        [" ", "\t", " x "],
        ["bob.smith@ex.com", " spaced ", "  "],
        ["plain", "\t tab lead", "trail\t"],
    ]
    masked = [rows[0], rows[1], ["*" * 16, *rows[2][1:]], rows[3]]
    src = tmp_path / "in" / "ws.csv"
    src.parent.mkdir()
    src.write_bytes(_csv_bytes(rows))

    write_csv(redact_csv(read_csv(spark, str(src)))["redacted"], str(tmp_path / "out"))
    parts = _part_lines(tmp_path / "out")
    assert all(part[0] == parts[0][0] for part in parts)  # one header each
    lines = [parts[0][0]] + [line for part in parts for line in part[1:]]
    assert b"\n".join(lines) + b"\n" == _csv_bytes(masked)

    batch_redact(spark, str(src.parent), str(tmp_path / "batch"), save_json=False)
    assert (tmp_path / "batch" / "ws_redacted.csv").read_bytes() == _csv_bytes(masked)


def test_multifile_csv_preserves_input_order(spark, tmp_path):
    """Directory input: the ordered sink reproduces input row order —
    per file, files in lexicographic path order. File sizes are chosen
    anti-correlated with name order so Spark's size-descending split packing
    (the thing a bare monotonic-id sort would replay) would scramble it."""
    src = tmp_path / "csvdir"
    src.mkdir()
    sizes = {"part-a.csv": 2, "part-b.csv": 40, "part-c.csv": 10}
    seq = 0
    expected = []
    for fname, n in sorted(sizes.items()):
        with open(src / fname, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["seq", "email", "note"])
            for _ in range(n):
                w.writerow([f"s{seq:04d}", f"user{seq}@ex.com", f"note {seq}"])
                expected.append(f"s{seq:04d}")
                seq += 1

    df = read_csv(spark, str(src))
    out = redact_csv(df)
    dst = str(tmp_path / "ordered_out")
    write_csv(out["redacted"], dst)

    got = []
    all_rows = []
    for part in sorted(glob.glob(f"{dst}/part-*.csv")):
        with open(part, newline="") as f:
            rows = list(csv.reader(f))
        assert rows[0] == ["seq", "email", "note"]
        got.extend(r[0] for r in rows[1:])
        all_rows.extend(rows[1:])
    assert got == expected
    # every pii cell across EVERY part file was actually redacted
    assert all("@ex.com" not in ",".join(r) for r in all_rows)


def test_multiline_quoted_newlines(spark, tmp_path):
    """RFC-4180 quoted embedded newlines (reference's Python csv reader
    handles these): multiline=True parses the cell as ONE row; the default
    fast path documents the limitation."""
    src = str(tmp_path / "ml.csv")
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["name", "notes"])
        w.writerow(["Bob Smith", "line one\nemail bob.smith@ex.com, done"])
        w.writerow(["Plain", "nothing here"])
    df = read_csv(spark, src, multiline=True)
    assert df.count() == 2
    out = redact_csv(df)
    red = {r["name"]: r["notes"] for r in out["redacted"].collect()}
    assert "bob.smith@ex.com" not in red["Bob Smith"]
    assert "\n" in red["Bob Smith"]  # the cell is still one two-line value
    dets = out["detections"].collect()
    assert {r["entity_type"] for r in dets} >= {"EMAIL_ADDRESS"}


def test_quoted_header_names_survive_unpivot(spark, tmp_path):
    """Headers containing ' or ` are legitimate CSV — the stack() SQL must
    escape them instead of crashing the job."""
    src = str(tmp_path / "q.csv")
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["employee's email", "back`tick", "plain"])
        w.writerow(["bob.smith@ex.com", "x", "y"])
    out = redact_csv(read_csv(spark, src))
    red = out["redacted"].collect()[0]
    assert "bob.smith@ex.com" not in red["employee's email"]
    dets = out["detections"].collect()
    assert any(
        r["col_name"] == "employee's email"
        and r["entity_type"] == "EMAIL_ADDRESS"
        for r in dets
    )


def test_detections_json_rows_are_input_indices(spark, tmp_path):
    """detections_to_json(source=...) exports the 0-based input row index
    as 'row' (reference formatter.py shape) — never the partition-encoded
    raw __row_id — even when the scan splits into several partitions."""
    import json as _json

    src = str(tmp_path / "rows.csv")
    with open(src, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["seq", "contact"])
        for i in range(40):
            w.writerow([str(i), f"user{i}@ex.com"])
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "256")
    try:
        df = read_csv(spark, src)
        out = redact_csv(df, cache=True)
        lines = detections_to_json(out["detections"], source=df).collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    recs = [_json.loads(r["json"]) for r in lines]
    email_rows = sorted(
        r["row"] for r in recs if r["entity_type"] == "EMAIL_ADDRESS"
    )
    assert email_rows == list(range(40))
    assert all("__row_id" not in r for r in recs)
    # single-file export stays reference-shaped: no 'file' field
    assert all("file" not in r for r in recs)


def test_detections_json_directory_source_per_file_rows(spark, tmp_path):
    """For a directory source the reference CLI processes one file at a
    time, so 'row' restarts at 0 per input file; the export must carry the
    source file path too, or the per-file index locates nothing."""
    import json as _json

    d = tmp_path / "many"
    d.mkdir()
    # names with a space and a '+' pin the file field to the DECODED
    # filesystem path (the metadata column is a percent-encoded URI, and
    # naive url_decode would read '+' as a space)
    sizes = {"a report.csv": 3, "b+c.csv": 5}
    for name, n in sizes.items():
        with open(d / name, "w", newline="") as f:
            w = csv.writer(f)
            w.writerow(["seq", "contact"])
            for i in range(n):
                w.writerow([str(i), f"user{i}@ex.com"])
    df = read_csv(spark, str(d))
    out = redact_csv(df, cache=True)
    recs = [
        _json.loads(r["json"])
        for r in detections_to_json(out["detections"], source=df).collect()
    ]
    emails = [r for r in recs if r["entity_type"] == "EMAIL_ADDRESS"]
    assert all("file" in r for r in emails)
    by_file = {}
    for r in emails:
        by_file.setdefault(r["file"].rsplit("/", 1)[-1], []).append(r["row"])
    assert {k: sorted(v) for k, v in by_file.items()} == {
        name: list(range(n)) for name, n in sizes.items()
    }


def _edge_csv(path):
    """Headers with ' ` \\ and . in them; NULL (unquoted empty), "",
    " ", "\\t" and NBSP-only cells next to PII-bearing ones."""
    lines = [
        "employee's email,back`tick,price\\total,a.b,notes",
        'bob.smith@ex.com,,"", ,\t',
        '\u00a0,olivia.baker@ex.com,0412 345 678,tfn 123-456-789,"  "',
        ",,,,",
        'Call Bob Smith on 0412 345 678,x,\u00a0\u00a0,"a, b",plain',
    ]
    with open(path, "w", encoding="utf-8", newline="") as f:
        f.write("\n".join(lines) + "\n")
    return path


def _part_lines(out_dir):
    """Each part file under ``out_dir``, in name order, as its lines."""
    parts = []
    for part in sorted(glob.glob(f"{out_dir}/part-*.csv")):
        with open(part, "rb") as f:
            parts.append(f.read().split(b"\n")[:-1])
    return parts


def _long_form(df, use_entity_labels=False, redaction_char="*",
               min_score=0.0, entities=None):
    """The same redaction through the long-form operators: unpivot, one
    UDF per step, rows rebuilt on the driver in (file, row id) order."""
    value_cols = [c for c in df.columns if c not in (ROW_ID, ROW_FILE)]
    long = unpivot_cells(df, ROW_ID, value_cols, passthrough_cols=[ROW_FILE])
    detected = detect_cells(long, entities=entities, min_score=min_score)
    red = redact_cells(detected, use_entity_labels=use_entity_labels,
                       redaction_char=redaction_char)
    cells = {}
    for f, rid, col, cell in red.select(
        ROW_FILE, ROW_ID, "col_name", "redacted_cell"
    ).collect():
        cells.setdefault((f, rid), {})[col] = cell
    rows = [[cells[k][c] for c in value_cols] for k in sorted(cells)]
    dets = cell_detections_long(detected, ROW_ID, include_cell_value=True)
    return rows, dets


@pytest.mark.parametrize(
    "kw",
    [
        {},
        {"use_entity_labels": True},
        {"entities": ["EMAIL_ADDRESS", "AU_TFN"]},
        {"min_score": 0.6, "redaction_char": "#"},
    ],
    ids=["mask", "labels", "entity_subset", "min_score"],
)
def test_fused_redaction_equals_long_form(spark, tmp_path, kw):
    """``redact_csv``'s one-UDF wide plan gives exactly the long-form
    operators' cells (NULL stays NULL, blank cells pass through), the same
    detections with ``cell_value`` and the same summary — in input row
    order, both collected and written."""
    wide = write_wide_csv(str(tmp_path / "wide"), 240, n_files=3, seed=5)
    edge = _edge_csv(str(tmp_path / "edge.csv"))
    for src in (wide, edge):
        df = read_csv(spark, src)
        value_cols = df.columns[:-2]
        want_rows, want_dets = _long_form(df, **kw)
        out = redact_csv(df, cache=True, include_cell_value=True, **kw)
        try:
            red = out["redacted"]
            assert red.columns == [ROW_ID, ROW_FILE, *value_cols]
            assert [list(r)[2:] for r in red.collect()] == want_rows
            # the same writer over the long-form rows in one partition
            want_df = spark.createDataFrame(
                want_rows, T.StructType([T.StructField(c, T.StringType()) for c in value_cols])
            )
            write_csv(want_df.coalesce(1), str(tmp_path / "want"))
            write_csv(red, str(tmp_path / "got"))
            (want,) = _part_lines(tmp_path / "want")
            got = _part_lines(tmp_path / "got")
            assert all(part[0] == want[0] for part in got)  # one header each
            assert [line for part in got for line in part[1:]] == want[1:]
            got_dets = out["detections"]
            assert got_dets.columns == want_dets.columns
            assert sorted(got_dets.collect()) == sorted(want_dets.collect())
            assert want_dets.count() > 0
            assert (out["summary"].collect()
                    == detection_summary(want_dets, ROW_ID).collect())
        finally:
            out["cached"].unpersist()


@pytest.mark.parametrize(
    "n_files,split_bytes", [(1, None), (8, None), (1, 4096)],
    ids=["1_file", "8_files", "1_file_many_splits"],
)
def test_csv_redaction_runs_python_stage_once(spark, tmp_path, n_files, split_bytes):
    """read_csv -> redact_csv -> write_csv runs three stages: the range
    bounds' sample and the exchange's map stage over the scan, then ONE
    stage that runs the Python UDF and writes (an order-by above the UDF
    would add a second pass; ``sources.csv`` module docstring). That stage
    has defaultParallelism tasks, or the scan's split count when the scan
    has more splits than cores."""
    sc = spark.sparkContext
    src = write_wide_csv(str(tmp_path / "in"), 400, n_files=n_files, seed=3)
    key = "spark.sql.files.maxPartitionBytes"
    if split_bytes:
        spark.conf.set(key, split_bytes)
    group = f"csv_python_once_{n_files}_{split_bytes}"
    try:
        df = read_csv(spark, src)
        scan = df.rdd.getNumPartitions()
        sc.setLocalProperty("spark.jobGroup.id", group)
        write_csv(redact_csv(df)["redacted"], str(tmp_path / "out"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        if split_bytes:
            spark.conf.unset(key)
    n_python = max(scan, sc.defaultParallelism)
    if split_bytes:
        assert scan > sc.defaultParallelism
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    ran = [
        info.numTasks
        for j in sorted(tracker.getJobIdsForGroup(group))
        for info in map(tracker.getStageInfo, sorted(tracker.getJobInfo(j).stageIds))
        if info.numCompletedTasks
    ]
    assert ran == [scan, scan, n_python]
    parts = glob.glob(str(tmp_path / "out" / "part-*.csv"))
    assert len(parts) == n_python


def test_redact_csv_frame_not_from_read_csv(spark):
    """A frame without ``__row_file`` (not a ``read_csv`` file scan) is
    ordered on ``__row_id`` alone and comes back in row order."""
    df = spark.createDataFrame(
        [(i, f"user{i}@ex.com" if i % 2 else "plain") for i in range(40)],
        f"{ROW_ID} long, contact string",
    )
    red = redact_csv(df)["redacted"]
    assert red.columns == [ROW_ID, "contact"]
    rows = red.collect()
    assert [r[ROW_ID] for r in rows] == list(range(40))
    assert all((r["contact"] == "plain") == (r[ROW_ID] % 2 == 0) for r in rows)
    assert all("@" not in r["contact"] for r in rows)
