"""Minimal pure-Python redacted-PDF writer (S8's rendering half).

Consumes the VALUE-GATED ``redaction_plan`` rows (operators.layout /
core.layout — every number here is differentially verified against the
DuckDB oracle) and emits real, parseable PDF bytes. The content-stream op
patterns replicate the reference renderer byte-for-byte:

- rect: ``{r:.3f} {g:.3f} {b:.3f} rg {x0} {y0} {w} {h} re f``
  (``pdf_redactor/redactor.py:18-29`` rect_stream; w/h are the plan's
  rect_w/rect_h = max(0, x1-x0 / y1-y0));
- label: ``BT /F1 8 Tf {r:.3f} {g:.3f} {b:.3f} rg 1 0 0 1 {x} {y} Tm
  ({text}) Tj ET`` (``redactor.py:32-46`` label_stream; white/black by the
  plan's luminance bit, anchors = plan label_x/label_y, redactor.py:121-127);
- conf line: same op at (label_x, conf_y) in black with the plan's
  HALF_UP-rounded ``conf_text`` (redactor.py:129-143);
- text escaping: ``\\`` ``(`` ``)`` (``redactor.py:14-15`` escape_pdf_text).

One deliberate deviation: each rect op is PRECEDED by ``q`` (the reference
emits a bare trailing ``Q`` — a pop with no matching push, tolerated by
viewers only because pikepdf wraps added streams; we own the whole file, so
the state stack must balance). The trailing ``Q`` byte pattern itself is
kept identical.

Document structure (ours — the reference mutates an existing PDF with
pikepdf, this environment has none): PDF 1.4, one page per document on
US-Letter, ``/Contents`` an ARRAY of two streams per page — the base text
layer (the document text drawn on the same monospace grid the plan's
bboxes were computed on: Courier 10pt, cell 6x12pt — so the rects land
exactly on the text they redact) followed by the redaction layer, the
same add-a-second-stream shape as the reference's ``page.contents_add``
(redactor.py:146). Fonts: /F1 Helvetica for labels (ensure_helvetica_font,
redactor.py:49-68), /F2 Courier for the base layer. Uncompressed streams +
a classic xref table, so tests (and humans) can scan the bytes textually.

Declared seams: the grid model is single-page — lines beyond row 60 run
into the bottom margin and then below the media box, where they are
clipped (the PLAN's y-coordinates are the spec; pagination would fork
them); base-layer text is latin-1 with
non-encodable codepoints replaced by ``?`` (Type1 metrics; labels/conf
are ASCII by construction).
"""

from __future__ import annotations

from typing import Dict, List, Sequence, Tuple

from .layout import CHAR_W, LINE_H, MARGIN, PAGE_H, PAGE_W

WHITE = (1.0, 1.0, 1.0)
BLACK = (0.0, 0.0, 0.0)
LABEL_FONT_SIZE = 8  # redactor.py:37 size=8
BODY_FONT_SIZE = 10  # Courier advance 0.6em -> 6pt = CHAR_W at 10pt


def escape_pdf_text(s: str) -> str:
    """redactor.py:14-15."""
    return s.replace("\\", "\\\\").replace("(", "\\(").replace(")", "\\)")


def rect_op(x0: float, y0: float, w: float, h: float,
            rgb: Tuple[float, float, float]) -> str:
    r, g, b = rgb
    return f"q {r:.3f} {g:.3f} {b:.3f} rg {x0} {y0} {w} {h} re f Q\n"


def label_op(x: float, y: float, text: str,
             rgb: Tuple[float, float, float], font_tag: str = "/F1",
             size: int = LABEL_FONT_SIZE) -> str:
    r, g, b = rgb
    s = escape_pdf_text(text)
    return (
        f"BT {font_tag} {size} Tf {r:.3f} {g:.3f} {b:.3f} rg "
        f"1 0 0 1 {x} {y} Tm ({s}) Tj ET\n"
    )


def redaction_stream(plan_rows: Sequence[Dict], draw_labels: bool = True,
                     label_prefix: str = "") -> bytes:
    """Redaction layer for one document: per plan row (in (start, end,
    entity_type) order — the reference draws in its analyzer's span order;
    ours is pinned to the deterministic plan order) a severity-filled rect,
    then the entity label, then the conf line (redactor.py:100-143)."""
    ops: List[str] = []
    rows = sorted(
        plan_rows,
        key=lambda r: (r["start"], r["end"], r["entity_type"], r["value"]),
    )
    for row in rows:
        fill = (row["fill_r"], row["fill_g"], row["fill_b"])
        ops.append(rect_op(row["x0"], row["y0"], row["rect_w"],
                           row["rect_h"], fill))
        if draw_labels:
            text_rgb = WHITE if row["label_white"] else BLACK
            ops.append(label_op(row["label_x"], row["label_y"],
                                f"{label_prefix}{row['entity_type']}",
                                text_rgb))
            ops.append(label_op(row["label_x"], row["conf_y"],
                                row["conf_text"], BLACK))
    # latin-1 with '?' for the rest, like base_text_stream: the label
    # prefix and a custom bank's entity types are user text
    return "".join(ops).encode("latin-1", errors="replace")


def base_text_stream(text: str) -> bytes:
    """Base layer: the document text on the plan's monospace grid — line i
    occupies the y-band [PAGE_H-MARGIN-(i+1)*LINE_H, PAGE_H-MARGIN-i*LINE_H)
    (core.layout.span_bbox), baseline anchored 2pt above the band floor so
    10pt Courier glyphs sit inside their cells."""
    ops = []
    for i, line in enumerate(text.split("\n")):
        if not line:
            continue
        y = PAGE_H - MARGIN - (i + 1) * LINE_H + 2.0
        s = escape_pdf_text(
            line.encode("latin-1", errors="replace").decode("latin-1")
        )
        ops.append(f"BT /F2 {BODY_FONT_SIZE} Tf 0.000 0.000 0.000 rg "
                   f"1 0 0 1 {MARGIN} {y} Tm ({s}) Tj ET\n")
    return "".join(ops).encode("latin-1")


def _stream_obj(data: bytes) -> bytes:
    return (f"<< /Length {len(data)} >>\nstream\n".encode("ascii")
            + data + b"\nendstream")


def write_pdf(pages: Sequence[Tuple[str, Sequence[Dict]]],
              draw_labels: bool = True, label_prefix: str = "") -> bytes:
    """Assemble the full PDF: ``pages`` is [(text, plan_rows)] — one output
    page per document. Returns the complete file bytes (header, objects,
    xref, trailer); offsets are exact, so strict parsers accept it."""
    # object numbering: 1 catalog, 2 pages tree, 3 /F1 Helvetica,
    # 4 /F2 Courier, then per page: page, base stream, redaction stream
    objs: List[bytes] = []

    def obj_ref(n: int) -> str:
        return f"{n} 0 R"

    first_page_obj = 5
    page_refs = []
    page_objs: List[bytes] = []
    for i, (text, rows) in enumerate(pages):
        pg = first_page_obj + 3 * i
        page_refs.append(obj_ref(pg))
        page_objs.append(
            (f"<< /Type /Page /Parent 2 0 R "
             f"/MediaBox [0 0 {PAGE_W:g} {PAGE_H:g}] "
             f"/Resources << /Font << /F1 3 0 R /F2 4 0 R >> >> "
             f"/Contents [{obj_ref(pg + 1)} {obj_ref(pg + 2)}] >>"
             ).encode("ascii")
        )
        page_objs.append(_stream_obj(base_text_stream(text)))
        page_objs.append(_stream_obj(
            redaction_stream(rows, draw_labels=draw_labels,
                             label_prefix=label_prefix)
        ))

    objs.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objs.append((f"<< /Type /Pages /Kids [{' '.join(page_refs)}] "
                 f"/Count {len(pages)} >>").encode("ascii"))
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")
    objs.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Courier >>")
    objs.extend(page_objs)

    out = bytearray(b"%PDF-1.4\n")
    offsets = [0]  # object 0 is the free head
    for n, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += f"{n} 0 obj\n".encode("ascii") + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objs) + 1}\n".encode("ascii")
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode("ascii")
    out += (f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode("ascii")
    return bytes(out)


__all__ = [
    "escape_pdf_text",
    "rect_op",
    "label_op",
    "redaction_stream",
    "base_text_stream",
    "write_pdf",
]
