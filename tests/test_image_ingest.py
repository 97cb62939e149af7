"""Real pixel ingestion for the S4 image surface (core.imagecodec): BMP /
P6 PPM bytes round-trip through the pixel decoder + glyph classifier to the
EXACT (ocr_text, word table) the text-path kernel produces, and the binary
Spark path yields box-for-box the same ``image_redaction_boxes`` output as
the text path — i.e. real image bytes now exercise the whole gated math."""

import struct

import pytest

from pii_detection_redaction_spark.core import imagecodec as IC
from pii_detection_redaction_spark.core import ocr as O

SAMPLES = [
    "call 0412 345 678 or email bob.smith@ex.com today",
    "short",
    "",
    "   leading and   multiple   spaces collapse\nnewlines too",
    "x" * 500,  # wraps over several 80-col lines
    "tab\tseparated\twords",
]


def test_roundtrip_equals_text_kernel():
    for t in SAMPLES:
        want = O.ocr_words(t)
        for render in (IC.render_page_bmp, IC.render_page_ppm):
            got = IC.ocr_from_image(render(t))
            assert got == want, (render.__name__, t[:40])


def test_non_ascii_is_ordinary_ocr_lossiness():
    """Outside the declared glyph set, render->decode reads '?' — the
    classifier never hallucinates the original codepoint."""
    ot, _ = IC.ocr_from_image(IC.render_page_bmp("café münchen"))
    assert ot == "caf? m?nchen"


def test_bmp_bytes_are_structurally_valid():
    data = IC.render_page_bmp("hello world")
    assert data[:2] == b"BM"
    size, off = struct.unpack_from("<I", data, 2)[0], struct.unpack_from("<I", data, 10)[0]
    assert size == len(data) and off == 54
    hsz, w, h, planes, bpp, comp = struct.unpack_from("<IiiHHI", data, 14)
    assert (hsz, planes, bpp, comp) == (40, 1, 24, 0)
    assert (w, h) == O.image_dims(len(O.ocr_words("hello world")[0]))
    row_len = (w * 3 + 3) & ~3
    assert len(data) == off + row_len * h


def test_decode_rejects_unknown_formats():
    with pytest.raises(ValueError, match="unknown image format"):
        IC.decode_image(b"GIF89a....")
    with pytest.raises(ValueError, match="only uncompressed 24-bit"):
        # flip bpp to 8 in an otherwise valid header
        data = bytearray(IC.render_page_bmp("x"))
        struct.pack_into("<H", data, 28, 8)
        IC.decode_image(bytes(data))


def test_binary_path_boxes_equal_text_path(spark):
    """Golden BMP fixtures -> fused binary UDF -> image_redaction_boxes:
    non-empty, and row-for-row equal to the text-path kernel's boxes
    (VERDICT round-4 item 8 done-condition)."""
    from pii_detection_redaction_spark.operators.ocr import (
        image_redaction_boxes,
        make_image_ocr_detect_udf,
        make_ocr_detect_udf,
    )
    from pyspark.sql import functions as F

    texts = [
        ("u1", "contact bob.smith@ex.com or ring 0412 345 678 re invoice"),
        ("u2", "no pii in this scan"),
    ]
    img_rows = [(u, IC.render_page_bmp(t)) for u, t in texts]
    imgs = spark.createDataFrame(img_rows, "url string, image binary")
    kb = make_image_ocr_detect_udf()
    via_image = image_redaction_boxes(
        imgs.select("url", kb(F.col("image")).alias("k"))
        .select("url", "k.ocr_text", "k.words", "k.detections")
    )
    kt = make_ocr_detect_udf()
    pages = spark.createDataFrame(texts, "url string, text string")
    via_text = image_redaction_boxes(
        pages.select("url", kt(F.col("text")).alias("k"))
        .select("url", "k.ocr_text", "k.words", "k.detections")
    )
    a = sorted(map(tuple, via_image.collect()))
    b = sorted(map(tuple, via_text.collect()))
    assert a == b and len(a) > 0
    assert any(r[1] == "EMAIL_ADDRESS" for r in a)


def test_truncated_image_costs_one_row(spark):
    """A frame holding a valid BMP, a blank page and a truncated BMP: the
    job finishes; the truncated row is marked unread (NULL ocr_text, words
    and detections), which tells it apart from the blank page (read: empty
    text, no detections); the valid row is what it is alone."""
    from pii_detection_redaction_spark.operators.ocr import make_image_ocr_detect_udf
    from pyspark.sql import functions as F

    good = IC.render_page_bmp("mail bob.smith@ex.com today")
    imgs = spark.createDataFrame(
        [
            ("good", good),
            ("blank", IC.render_page_bmp("")),
            ("cut", IC.render_page_bmp("hello world")[:60]),
        ],
        "url string, image binary",
    )
    kb = make_image_ocr_detect_udf()
    rows = {
        r.url: r.k
        for r in imgs.select("url", kb(F.col("image")).alias("k")).collect()
    }
    cut = rows["cut"]
    assert cut.ocr_text is None and cut.words is None and cut.detections is None
    blank = rows["blank"]
    assert blank.ocr_text == "" and blank.words == [] and blank.detections == []
    alone = spark.createDataFrame([("good", good)], "url string, image binary")
    assert rows["good"] == alone.select(kb(F.col("image")).alias("k")).first().k
    assert rows["good"].ocr_text == "mail bob.smith@ex.com today"
    assert any(d.entity_type == "EMAIL_ADDRESS" for d in rows["good"].detections)


def test_ppm_whitespace_valued_leading_pixels_decode_exactly():
    """The raster begins immediately after ONE whitespace byte following
    maxval; pixels whose VALUES are ASCII whitespace (9-13/32) at the
    body start must decode as pixels, not be eaten as header separators
    (the bytes.split(None) trap)."""
    body = bytes([10, 10, 10, 32, 32, 32, 9, 9, 9, 200, 200, 200])
    data = b"P6\n2 2\n255\n" + body
    w, h, px = IC.decode_image(data)
    assert (w, h) == (2, 2)
    assert list(px) == [10, 32, 9, 200]
    # comments in the header parse too
    data2 = b"P6\n# made by hand\n2 2\n255\n" + body
    assert IC.decode_image(data2) == (2, 2, px)


def test_corrupt_glyph_degrades_to_replacement_not_raise():
    """One flipped pixel must cost one character ('?', ordinary OCR
    lossiness), not abort the decode — inside the pandas UDF a raise
    would fail the whole Spark job for every other valid image."""
    data = bytearray(IC.render_page_bmp("hello world"))
    # find the first dark glyph byte in the raster and flip it
    off = 54
    i = next(i for i in range(off, len(data)) if data[i] == 0)
    data[i] = 255
    ot, words = IC.ocr_from_image(bytes(data))
    assert "?" in ot and ot != "hello world"
    # exactly one cell degraded; everything else still reads back
    assert len(ot) == len("hello world")
    assert sum(a == b for a, b in zip(ot, "hello world")) == len(ot) - 1


def test_truncated_bmp_raises_value_error():
    """A cut-off BMP is a ValueError naming the truncation, never an
    IndexError from the pixel loop or a struct.error from the header."""
    data = IC.render_page_bmp("hello world")
    for cut in (data[:-50], data[:60], data[:20]):
        with pytest.raises(ValueError, match="truncated BMP"):
            IC.decode_image(cut)


def test_ppm_comment_after_maxval_raises_clear_error():
    """A '#' glued to maxval leaves no single whitespace byte before the
    raster: rejected with a message naming the bad header field."""
    data = b"P6\n2 2\n255# comment\n" + bytes(12)
    with pytest.raises(ValueError, match=r"PPM header field b'255#'"):
        IC.decode_image(data)
