"""Real pixel-format ingestion for the S4 image surface: uncompressed BMP
(24-bit BI_RGB) and PPM (P6) — both pure-Python codecs, so at least one
REAL image format flows through ``image_redaction_boxes`` end-to-end with
no codec libraries.

What is real here: the byte formats (headers, bottom-up BMP rows, 4-byte
row padding, P6 maxval framing), the pixel transport, and the glyph-grid
geometry (``core.ocr``'s declared grid: 9x16px cells, 12px margin, 80-col
wrap — the SAME constants ``image_redaction_boxes`` computes boxes from,
so a decoded word's pixel bounding box IS the operator's box). What stays
declared: the typeface. Glyphs are deterministic 5x7 dot patterns derived
from md5 of the codepoint (uniqueness asserted at import) rather than a
human font — the reference's Tesseract is a learned glyph classifier; ours
is an exact one over a declared glyph set (printable ASCII; anything else
renders — and therefore OCRs — as ``?``, ordinary OCR lossiness).

Pipeline shape: ``render_page_image`` writes the kernel's ocr_text
(``core.ocr.ocr_words`` — words single-space-joined) onto the grid;
``ocr_from_image`` decodes pixels, classifies each cell back to a char,
and rebuilds (ocr_text, word table) — bit-equal to the text-path kernel
on the declared glyph set (pinned by tests/test_image_ingest.py), so the
downstream detect + box math is exercised by REAL image bytes.

Reference: image_redactor/redactor.py:31-60 (image_to_data word boxes →
spans); the decode seam this closes was declared in core/ocr.py.
"""

from __future__ import annotations

import hashlib
import struct
from typing import Dict, List, Tuple

from .ocr import (
    OCR_CHAR_PX,
    OCR_LINE_PX,
    OCR_MARGIN_PX,
    OCR_WRAP_COLS,
    image_dims,
    ocr_words,
)

GLYPH_W, GLYPH_H = 5, 7          # dot matrix inside the 9x16 cell
GLYPH_DX, GLYPH_DY = 2, 4        # offset of the matrix within its cell
REPLACEMENT = "?"
_PRINTABLE = [chr(c) for c in range(33, 127)]  # space = blank cell


def _glyph_bits(ch: str) -> int:
    """35-bit deterministic dot pattern; bit (r*5+c) set = dark pixel."""
    h = hashlib.md5(f"glyph:{ord(ch)}".encode()).digest()
    bits = int.from_bytes(h[:5], "big") & ((1 << 35) - 1)
    return bits or 1  # never fully blank (blank means space)


GLYPHS: Dict[str, int] = {ch: _glyph_bits(ch) for ch in _PRINTABLE}
_DECODE: Dict[int, str] = {bits: ch for ch, bits in GLYPHS.items()}
assert len(_DECODE) == len(GLYPHS), "glyph pattern collision"


def _cells(text: str) -> List[Tuple[int, int, int]]:
    """(line, col, bits) for every non-space char of the wrapped text."""
    out = []
    for i, ch in enumerate(text):
        if ch == " ":
            continue
        bits = GLYPHS.get(ch, GLYPHS[REPLACEMENT])
        out.append((i // OCR_WRAP_COLS, i % OCR_WRAP_COLS, bits))
    return out


def _raster(text: str) -> Tuple[int, int, bytearray]:
    """(w, h, top-down grayscale bytes: 255 background, 0 glyph dots)."""
    ocr_text, _ = ocr_words(text)
    w, h = image_dims(len(ocr_text))
    px = bytearray(b"\xff" * (w * h))
    for line, col, bits in _cells(ocr_text):
        ox = OCR_MARGIN_PX + col * OCR_CHAR_PX + GLYPH_DX
        oy = OCR_MARGIN_PX + line * OCR_LINE_PX + GLYPH_DY
        for r in range(GLYPH_H):
            for c in range(GLYPH_W):
                if bits >> (r * GLYPH_W + c) & 1:
                    px[(oy + r) * w + (ox + c)] = 0
    return w, h, px


def render_page_bmp(text: str) -> bytes:
    """Windows BMP, 24-bit BI_RGB, bottom-up rows padded to 4 bytes —
    the classic uncompressed layout every viewer opens."""
    w, h, px = _raster(text)
    row_len = (w * 3 + 3) & ~3
    body = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up
        row = bytearray()
        for x in range(w):
            v = px[y * w + x]
            row += bytes((v, v, v))  # BGR; gray so order is moot
        row += b"\x00" * (row_len - len(row))
        body += row
    off = 14 + 40
    header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                       2835, 2835, 0, 0)
    return header + info + bytes(body)


def render_page_ppm(text: str) -> bytes:
    """Binary PPM (P6, maxval 255)."""
    w, h, px = _raster(text)
    body = bytearray()
    for v in px:
        body += bytes((v, v, v))
    return f"P6\n{w} {h}\n255\n".encode("ascii") + bytes(body)


def _decode_bmp(data: bytes) -> Tuple[int, int, bytes]:
    if len(data) < 34:
        raise ValueError("truncated BMP header")
    magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", data, 0)
    if magic != b"BM":
        raise ValueError("not a BMP")
    hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp}) "
                         f"— only uncompressed 24-bit BI_RGB")
    flipped = h > 0
    h = abs(h)
    row_len = (w * 3 + 3) & ~3
    if w < 0 or off + row_len * h > len(data):
        raise ValueError(f"truncated BMP raster ({w}x{h} needs "
                         f"{off + row_len * h} bytes, got {len(data)})")
    px = bytearray(w * h)
    for y in range(h):
        src = h - 1 - y if flipped else y
        base = off + src * row_len
        for x in range(w):
            px[y * w + x] = data[base + x * 3]  # blue of a gray pixel
    return w, h, bytes(px)


def _decode_ppm(data: bytes) -> Tuple[int, int, bytes]:
    """Manual header scan, NOT ``split(None, 4)``: split with sep=None
    strips leading whitespace from the remainder too, which would eat
    raster bytes whose pixel VALUES happen to be ASCII whitespace
    (9-13/32) at the start of the body — the spec is exactly ONE
    whitespace byte after maxval, then raw raster."""
    if data[:2] != b"P6":
        raise ValueError("not a P6 PPM")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(data) and data[pos] in b" \t\r\n\x0b\x0c":
            pos += 1
        if pos < len(data) and data[pos] == 0x23:  # '#' comment to EOL
            while pos < len(data) and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(data) and data[pos] not in b" \t\r\n\x0b\x0c":
            pos += 1
        if pos == start:
            raise ValueError("truncated PPM header")
        if not data[start:pos].isdigit():
            raise ValueError(f"PPM header field {bytes(data[start:pos])!r} is "
                             f"not a decimal number (a '#' comment must follow "
                             f"whitespace, and none may follow maxval)")
        vals.append(int(data[start:pos]))
    w, h, maxval = vals
    if maxval != 255:
        raise ValueError("only maxval 255 PPM")
    pos += 1  # the single whitespace byte terminating the header
    body = data[pos : pos + 3 * w * h]
    if len(body) < 3 * w * h:
        raise ValueError("truncated PPM raster")
    px = bytes(body[i * 3] for i in range(w * h))
    return w, h, px


def decode_image(data: bytes) -> Tuple[int, int, bytes]:
    """(w, h, top-down grayscale) for BMP or P6 PPM by magic sniff."""
    if data[:2] == b"BM":
        return _decode_bmp(data)
    if data[:2] == b"P6":
        return _decode_ppm(data)
    raise ValueError("unknown image format (expect BMP or P6 PPM)")


def ocr_from_image(data: bytes) -> Tuple[str, List[Tuple[str, int, int]]]:
    """The real-pixel OCR kernel: decode, classify each grid cell's dot
    pattern, rebuild (ocr_text, [(word, cs, ce)]) — the exact shape (and,
    on the declared glyph set, the exact values) of ``core.ocr.ocr_words``
    on the original text."""
    return ocr_pixels(*decode_image(data))


def ocr_pixels(w: int, h: int, px: bytes) -> Tuple[str, List[Tuple[str, int, int]]]:
    """Glyph classification over decoded pixels (``decode_image``'s
    output): (ocr_text, [(word, cs, ce)])."""
    cols = (w - 2 * OCR_MARGIN_PX) // OCR_CHAR_PX
    lines = (h - 2 * OCR_MARGIN_PX) // OCR_LINE_PX
    chars: List[str] = []
    for line in range(lines):
        for col in range(cols):
            ox = OCR_MARGIN_PX + col * OCR_CHAR_PX + GLYPH_DX
            oy = OCR_MARGIN_PX + line * OCR_LINE_PX + GLYPH_DY
            bits = 0
            for r in range(GLYPH_H):
                base = (oy + r) * w + ox
                for c in range(GLYPH_W):
                    if px[base + c] < 128:
                        bits |= 1 << (r * GLYPH_W + c)
            if bits == 0:
                chars.append(" ")
            else:
                # unknown pattern (bit-flipped pixel, foreign renderer)
                # degrades to the declared replacement — one bad cell must
                # not abort a whole Spark task+job the way a raise inside
                # the pandas UDF would; real OCR mis-reads per glyph too
                chars.append(_DECODE.get(bits, REPLACEMENT))
    ocr_text = "".join(chars).rstrip(" ")
    words: List[Tuple[str, int, int]] = []
    i, n = 0, len(ocr_text)
    while i < n:
        if ocr_text[i] == " ":
            i += 1
            continue
        j = i
        while j < n and ocr_text[j] != " ":
            j += 1
        words.append((ocr_text[i:j], i, j))
        i = j
    return ocr_text, words


__all__ = [
    "GLYPHS",
    "render_page_bmp",
    "render_page_ppm",
    "decode_image",
    "ocr_from_image",
    "ocr_pixels",
]
