"""Image-redaction operator (reference S4/S9 math): fake-OCR kernel seam →
detection over the OCR text → presidio-style span→word-box mapping →
padding/clamp/fill arithmetic. Spec + constants: core.ocr (one spec, three
engines — the DuckDB re-derivation lives in plans.oracles).

Scale shape: the OCR kernel and the detector run inside ONE fused pandas
UDF (``make_ocr_detect_udf``) so text crosses Arrow exactly once — a
chained second UDF would land in its own ArrowEvalPython node and re-ship
the OCR text. The word table never leaves its row: the span→word mapping is
a row-local ``F.filter`` over the per-document word array, and the box
geometry/padding/clamp is whole-stage-codegen JVM arithmetic on the
exploded (detection, word) pairs. No join, no window, no shuffle: the
operator is a pure per-document map, which is exactly what the reference's
per-image loop is at cluster scale.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..core import ocr as O

OCR_TYPE = T.StructType(
    [
        T.StructField("ocr_text", T.StringType()),
        T.StructField(
            "words",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("word", T.StringType()),
                        T.StructField("cs", T.IntegerType()),
                        T.StructField("ce", T.IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def make_ocr_udf():
    """text (standing in for decoded image pixels — the declared seam) →
    struct(ocr_text, words). A real deployment swaps the kernel body for
    ``pytesseract.image_to_data`` over a binary column; the schema,
    batching, and everything downstream are unchanged."""

    @pandas_udf(OCR_TYPE)
    def ocr_udf(texts: pd.Series) -> pd.DataFrame:
        ocr_texts, words = [], []
        for t in texts:
            ot, ws = O.ocr_words(t)
            ocr_texts.append(ot)
            words.append(ws)
        return pd.DataFrame({"ocr_text": ocr_texts, "words": words})

    return ocr_udf


# fused-UDF output type: OCR struct + detections over the OCR text —
# ONE definition for both kernels (text stand-in and real-pixel)
OCR_DETECT_TYPE = T.StructType(
    list(OCR_TYPE.fields)
    + [
        T.StructField(
            "detections",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("entity_type", T.StringType()),
                        T.StructField("start", T.IntegerType()),
                        T.StructField("end", T.IntegerType()),
                        T.StructField("score", T.DoubleType()),
                    ]
                )
            ),
        )
    ]
)


def _make_fused_detect_udf(kernel):
    """One fused kernel+analyzer UDF body, parameterized by the OCR kernel
    (input value -> (ocr_text, words)). Chained pandas UDFs land in
    SEPARATE ArrowEvalPython nodes (a dependent UDF can't batch with its
    producer), so running the recognizer bank inside the SAME kernel UDF
    keeps each image surface at one Arrow crossing — the same
    single-eval-node discipline as the fused pipeline stage."""
    from ..core.chunker import analyze_long_text

    @pandas_udf(OCR_DETECT_TYPE)
    def fused_udf(values: pd.Series) -> pd.DataFrame:
        ocr_texts, words, dets = [], [], []
        for v in values:
            ot, ws = kernel(v)
            ocr_texts.append(ot)
            words.append(ws)
            dets.append(
                None
                if ot is None
                else [
                    (d.entity_type, d.start, d.end, d.score)
                    for d in (analyze_long_text(ot) if ot else [])
                ]
            )
        return pd.DataFrame(
            {"ocr_text": ocr_texts, "words": words, "detections": dets}
        )

    return fused_udf


def make_ocr_detect_udf():
    """Fused kernel + analyzer over the TEXT stand-in kernel
    (core.ocr.ocr_words — the declared seam): text -> struct(ocr_text,
    words, detections)."""
    return _make_fused_detect_udf(O.ocr_words)


def make_image_ocr_detect_udf():
    """The fused kernel over REAL image bytes: binary (BMP / P6 PPM) ->
    struct(ocr_text, words, detections). Kernel body =
    ``core.imagecodec.ocr_from_image`` (pure-Python pixel decode + glyph
    classification on the declared grid), closing the decode seam for the
    formats this environment can honestly decode. Everything downstream
    (``image_redaction_boxes``) is shared and unchanged. An image that does
    not decode (truncated, unknown or unsupported format) costs its own row,
    not the task: its ocr_text, words and detections are NULL — unread, which
    a consumer can tell from a read image with no text (``""``, no
    detections)."""
    from ..core.imagecodec import decode_image, ocr_pixels

    def kernel(data):
        if data is None:
            return "", []
        try:
            pixels = decode_image(bytes(data))
        except ValueError:
            return None, None
        return ocr_pixels(*pixels)

    return _make_fused_detect_udf(kernel)


def _grid_box(cs: Column, ce: Column) -> dict:
    """core.ocr.word_box / padded_box arithmetic as JVM columns; needs the
    document's ocr_len column for the clamp."""
    line = F.floor(cs / O.OCR_WRAP_COLS)
    col = cs % O.OCR_WRAP_COLS
    eff = F.least(ce - cs, F.lit(O.OCR_WRAP_COLS) - col)
    left = F.lit(O.OCR_MARGIN_PX) + col * O.OCR_CHAR_PX
    top = F.lit(O.OCR_MARGIN_PX) + line * O.OCR_LINE_PX
    return {"left": left, "top": top, "width": eff * O.OCR_CHAR_PX,
            "height": F.lit(O.OCR_LINE_PX)}


def image_redaction_boxes(
    d: DataFrame,
    id_col: str = "url",
    detections_col: str = "detections",
    words_col: str = "words",
    ocr_text_col: str = "ocr_text",
    padding: int = O.IMG_PADDING,
) -> DataFrame:
    """One padded redaction rectangle per (detection, intersecting OCR
    word) — the presidio image-engine mapping. Input carries per-document
    arrays (detections: entity_type/start/end/score structs over the OCR
    text; words: the kernel's word table); output is the flat box table a
    renderer consumes: (id, entity_type, value, start, end, score, x0, y0,
    x1, y1, rect_w, rect_h). Detections below IMG_SCORE_THRESHOLD are
    dropped (reference redactor.py:48) — on the ROUNDED 4dp score, the same
    value the golden oracle stores."""
    n_lines = F.greatest(
        F.lit(1), F.ceil(F.length(ocr_text_col) / O.OCR_WRAP_COLS)
    )
    img_w = F.lit(2 * O.OCR_MARGIN_PX + O.OCR_WRAP_COLS * O.OCR_CHAR_PX)
    img_h = F.lit(2 * O.OCR_MARGIN_PX) + n_lines * O.OCR_LINE_PX
    det = F.explode(
        F.filter(
            F.col(detections_col),
            lambda x: F.round(x["score"], 4) >= O.IMG_SCORE_THRESHOLD,
        )
    ).alias("det")
    d = d.select(
        F.col(id_col), F.col(ocr_text_col), F.col(words_col),
        img_w.alias("__img_w"), img_h.cast("int").alias("__img_h"), det
    )
    word = F.explode(
        F.filter(
            F.col(words_col),
            lambda w: (w["cs"] < F.col("det.end"))
            & (w["ce"] > F.col("det.start")),
        )
    ).alias("w")
    d = d.select(
        id_col, ocr_text_col, "__img_w", "__img_h", "det", word
    )
    g = _grid_box(F.col("w.cs"), F.col("w.ce"))
    pad = F.lit(padding)
    x0 = F.greatest(F.lit(0), g["left"] - pad).cast("double")
    y0 = F.greatest(F.lit(0), g["top"] - pad).cast("double")
    x1 = F.least(F.col("__img_w"), g["left"] + g["width"] + pad).cast("double")
    y1 = F.least(F.col("__img_h"), g["top"] + g["height"] + pad).cast("double")
    value = F.substring(
        F.col(ocr_text_col),
        F.col("det.start") + 1,
        F.col("det.end") - F.col("det.start"),
    )
    return d.select(
        F.col(id_col),
        F.col("det.entity_type").alias("entity_type"),
        value.alias("value"),
        F.col("det.start").alias("start"),
        F.col("det.end").alias("end"),
        F.round(F.col("det.score"), 4).alias("score"),
        x0.alias("x0"),
        y0.alias("y0"),
        x1.alias("x1"),
        y1.alias("y1"),
        (x1 - x0).alias("rect_w"),
        (y1 - y0).alias("rect_h"),
    )
