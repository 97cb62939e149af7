"""Image-redaction spec — the OCR surface's MATH (reference S4/S9), minus
the pixel work.

The reference's image redactor (``image_redactor/redactor.py``) is: Tesseract
OCR produces word-level text + boxes, the presidio analyzer runs over the
OCR text, each detection span maps to the OCR words it intersects (one
redaction box per word), and every box is padded (``RedactionStyle.padding``,
default 2 — ``redactor.py:26``) and filled/outlined/blurred/pixelated
(``redactor.py:20-27`` style defaults; ``analyzer.py`` CLI mirrors them).
Detections below ``score_threshold`` = 0.35 are dropped
(``redactor.py:48``). The decode + OCR step itself is the declared seam —
no PIL/tesseract in this environment — the same move as the PDF layout
model (core.layout): a deterministic kernel stands in for the engine, and
everything DOWNSTREAM of it (the word table, the span→word-box mapping, the
padding/clamp/style arithmetic) is real, Spark-native, and value-gated.

Declared OCR kernel: the page's words are the maximal runs of
non-whitespace (ASCII set, same ``WS_CHARS`` discipline as core.layout);
the OCR text is those words joined by single spaces (what
``pytesseract.image_to_string``-style output reduces to for clean scans);
word i's char interval [cs, ce) indexes the OCR text. Geometry places the
OCR text on a fixed character grid in PIXEL coordinates (top-left origin,
the PIL convention, unlike the PDF layout's bottom-left points): char
offset c sits at line = c // WRAP_COLS, col = c % WRAP_COLS; a word's box
is its first-line run (same first-line clamp as the PDF model). One spec,
three engines: these functions are the pure-Python oracle;
operators/ocr.py builds the same arithmetic as JVM columns;
plans/oracles.py re-derives it in DuckDB SQL.
"""

from __future__ import annotations

import re
from typing import List, Tuple

from .layout import WS_CHARS

# declared OCR glyph grid (pixels, top-left origin)
OCR_CHAR_PX = 9
OCR_LINE_PX = 16
OCR_MARGIN_PX = 12
OCR_WRAP_COLS = 80
# reference image_redactor/redactor.py:20-27 RedactionStyle defaults
IMG_PADDING = 2
IMG_FILL_RGB = (0.0, 0.0, 0.0)  # '#000000' (analyzer.py --fill default)
IMG_OUTLINE_RGB = (255, 0, 0)
IMG_BLUR_RADIUS = 8
IMG_PIXEL_SIZE = 12
IMG_STROKE_WIDTH = 3
# reference image_redactor/redactor.py:48 redact_file default
IMG_SCORE_THRESHOLD = 0.35

_WORD_RE = re.compile("[^" + re.escape(WS_CHARS) + "]+")


def ocr_words(text: str) -> Tuple[str, List[Tuple[str, int, int]]]:
    """The declared OCR kernel: (ocr_text, [(word, cs, ce)]) where cs/ce
    are char offsets into ocr_text (words joined by single spaces)."""
    words = _WORD_RE.findall(text or "")
    out = []
    pos = 0
    for w in words:
        out.append((w, pos, pos + len(w)))
        pos += len(w) + 1
    return " ".join(words), out


def image_dims(ocr_len: int) -> Tuple[int, int]:
    """Pixel dims of the fake scan: wide enough for the wrap grid, tall
    enough for every line (ceil-div; an empty text still renders one
    line)."""
    n_lines = max(1, -(-ocr_len // OCR_WRAP_COLS))
    return (
        2 * OCR_MARGIN_PX + OCR_WRAP_COLS * OCR_CHAR_PX,
        2 * OCR_MARGIN_PX + n_lines * OCR_LINE_PX,
    )


def word_box(cs: int, ce: int) -> Tuple[int, int, int, int]:
    """(left, top, width, height) of the word's first-line run on the
    glyph grid."""
    line, col = divmod(cs, OCR_WRAP_COLS)
    eff = min(ce - cs, OCR_WRAP_COLS - col)
    return (
        OCR_MARGIN_PX + col * OCR_CHAR_PX,
        OCR_MARGIN_PX + line * OCR_LINE_PX,
        eff * OCR_CHAR_PX,
        OCR_LINE_PX,
    )


def padded_box(
    left: int, top: int, width: int, height: int, img_w: int, img_h: int,
    padding: int = IMG_PADDING,
) -> Tuple[float, float, float, float]:
    """The redaction rectangle: the reference engine inflates each word box
    by ``padding`` before filling; clamp to the image so the rect is
    drawable."""
    return (
        float(max(0, left - padding)),
        float(max(0, top - padding)),
        float(min(img_w, left + width + padding)),
        float(min(img_h, top + height + padding)),
    )


def boxes_for_span(
    words: List[Tuple[str, int, int]], start: int, end: int
) -> List[Tuple[str, int, int]]:
    """presidio image-engine mapping: a detection over the OCR text redacts
    every OCR word whose char interval intersects [start, end) — one box
    per word."""
    return [w for w in words if w[1] < end and w[2] > start]
