"""Real redacted-PDF bytes (S8 rendering half): the distributed render
consumes the value-gated redaction_plan rows and emits parseable PDFs whose
content streams carry the reference renderer's exact op patterns
(pdf_redactor/redactor.py:18-46, 100-143). Parsed text-level — no pdf libs
in this environment, which is the point of the pure-Python writer."""

import re

from pii_detection_redaction_spark.core import pdfwrite as PW
from pii_detection_redaction_spark.operators.layout import redaction_plan
from pii_detection_redaction_spark.sources.pdf import (
    render_redacted_pdfs,
    save_redacted_pdfs,
)

TEXT = (
    "call 0412 345 678 now\nemail bob@x.co today\nbob@x.co again\n"
    "owner: Jane Doe.\nre:\tAcme (Pty);;\n"
)
DETS = [
    ("u1", "AU_PHONE_NUMBER", 5, 17, 0.75),
    ("u1", "EMAIL_ADDRESS", 28, 36, 0.85),
    ("u1", "MYSTERY_TYPE", 0, 4, 1.0),
]


def _plan_and_pdfs(spark):
    pages = spark.createDataFrame(
        [("u1", TEXT), ("u2", "no pii on this page\n")], ["url", "text"]
    )
    d = spark.createDataFrame(
        DETS, "url string, entity_type string, start int, end int, score double"
    )
    plan = redaction_plan(spark, d, pages)
    rendered = {
        r["url"]: bytes(r["pdf"])
        for r in render_redacted_pdfs(plan, pages).collect()
    }
    return plan.collect(), rendered


def _streams(pdf: bytes):
    return re.findall(rb"stream\n(.*?)\nendstream", pdf, re.DOTALL)


def test_pdf_contains_every_plan_row_with_its_numbers(spark):
    plan_rows, rendered = _plan_and_pdfs(spark)
    assert set(rendered) == {"u1", "u2"}
    pdf = rendered["u1"]
    assert pdf.startswith(b"%PDF-1.4\n") and pdf.rstrip().endswith(b"%%EOF")
    body = b"".join(_streams(pdf)).decode("latin-1")
    u1_rows = [r for r in plan_rows if r["url"] == "u1"]
    assert len(u1_rows) == 3
    for r in u1_rows:
        # reference rect_stream byte pattern (redactor.py:26-29), with the
        # plan's gated numbers; our 'q' prefix balances the trailing Q
        rect = (
            f"q {r['fill_r']:.3f} {r['fill_g']:.3f} {r['fill_b']:.3f} rg "
            f"{r['x0']} {r['y0']} {r['rect_w']} {r['rect_h']} re f Q"
        )
        assert rect in body, rect
        # label op (redactor.py:42-45) at the plan's anchors, luminance color
        lum = "1.000 1.000 1.000" if r["label_white"] else "0.000 0.000 0.000"
        label = (
            f"BT /F1 8 Tf {lum} rg 1 0 0 1 {r['label_x']} {r['label_y']} Tm "
            f"({PW.escape_pdf_text(r['entity_type'])}) Tj ET"
        )
        assert label in body, label
        conf = (
            f"BT /F1 8 Tf 0.000 0.000 0.000 rg 1 0 0 1 {r['label_x']} "
            f"{r['conf_y']} Tm ({r['conf_text']}) Tj ET"
        )
        assert conf in body, conf
    # base text layer: parens in the source text are escaped
    assert r"Acme \(Pty\);;" in body
    # no-detection page still renders: base layer only, empty redaction ops
    pdf2 = rendered["u2"]
    streams2 = _streams(pdf2)
    assert b"no pii on this page" in streams2[0]
    assert streams2[1] == b""


def test_pdf_xref_offsets_are_exact(spark):
    _, rendered = _plan_and_pdfs(spark)
    for pdf in rendered.values():
        m = re.search(rb"xref\n0 (\d+)\n", pdf)
        assert m
        n_objs = int(m.group(1))
        table = pdf[m.end():]
        entries = re.findall(rb"(\d{10}) (\d{5}) ([nf]) \n", table)
        assert len(entries) == n_objs
        for i, (off, _gen, kind) in enumerate(entries):
            if kind == b"f":
                continue
            at = int(off)
            assert pdf[at:].startswith(f"{i} 0 obj".encode()), i
        sx = re.search(rb"startxref\n(\d+)\n%%EOF", pdf)
        assert sx and pdf[int(sx.group(1)):].startswith(b"xref")
        # /Contents is the reference's add-a-second-stream shape: 2 per page
        assert len(re.findall(rb"/Contents \[\d+ 0 R \d+ 0 R\]", pdf)) == 1


def test_save_redacted_pdfs_streams_and_caps(spark, tmp_path):
    pages = spark.createDataFrame(
        [("u1", "a@b.co\n"), ("u2", "c@d.co\n")], ["url", "text"]
    )
    d = spark.createDataFrame(
        [("u1", "EMAIL_ADDRESS", 0, 6, 0.85)],
        "url string, entity_type string, start int, end int, score double",
    )
    rendered = render_redacted_pdfs(redaction_plan(spark, d, pages), pages)
    out = tmp_path / "pdfs"
    assert save_redacted_pdfs(rendered, str(out)) == 2
    files = sorted(p.name for p in out.iterdir())
    assert files == ["u1.pdf", "u2.pdf"]
    for p in out.iterdir():
        data = p.read_bytes()
        assert data.startswith(b"%PDF-1.4\n")
    import pytest

    with pytest.raises(ValueError, match="max_files"):
        save_redacted_pdfs(rendered, str(tmp_path / "pdfs2"), max_files=1)
    # all-or-nothing: the failed export leaves NOTHING behind — no
    # half-written out_dir masquerading as a complete run, no temp dir
    assert not (tmp_path / "pdfs2").exists()
    assert not (tmp_path / "pdfs2.tmp-partial").exists()


def test_save_redacted_pdfs_colliding_urls_keep_both(spark, tmp_path):
    """Urls that sanitize to one file name (``/`` and ``?`` both map to
    ``_``) must not overwrite each other: every row lands in its own file
    and the returned count is what is on disk."""
    import os

    urls = ["http://a.com/x", "http://a.com?x"]
    pages = spark.createDataFrame(
        [(u, "a@b.co\n") for u in urls], ["url", "text"]
    )
    d = spark.createDataFrame(
        [(u, "EMAIL_ADDRESS", 0, 6, 0.85) for u in urls],
        "url string, entity_type string, start int, end int, score double",
    )
    rendered = render_redacted_pdfs(redaction_plan(spark, d, pages), pages)
    out = str(tmp_path / "pdfs")
    n = save_redacted_pdfs(rendered, out)
    assert n == len(urls) == len(os.listdir(out))
    assert sorted(os.listdir(out)) == [
        "http___a.com_x.pdf",
        "http___a.com_x_2.pdf",
    ]


def test_redaction_stream_non_ascii_label_prefix():
    """A user label prefix outside ASCII encodes like the base layer
    (latin-1, '?' beyond it) instead of raising UnicodeEncodeError."""
    row = {
        "start": 0, "end": 4, "entity_type": "EMAIL_ADDRESS", "value": "a@b",
        "fill_r": 0.0, "fill_g": 0.0, "fill_b": 0.0, "x0": 1.0, "y0": 2.0,
        "rect_w": 3.0, "rect_h": 4.0, "label_white": True, "label_x": 5.0,
        "label_y": 6.0, "conf_y": 7.0, "conf_text": "0.85",
    }
    out = PW.redaction_stream([row], label_prefix="PII: §→ ")
    assert b"(PII: \xa7? EMAIL_ADDRESS) Tj" in out
    assert PW.redaction_stream([row]).isascii()
