"""Cell-wise (CSV-redactor analog) detection and redaction.

Spark-first re-expression of the reference's structured-data pipeline
(``csv_redactor/redactor.py``, SURVEY.md §3.3). The per-cell semantics live
here once, as plain Python helpers:

- ``cell_detections``: the gate plus ``core.recognizers.analyze`` (no
  chunking — cells are short; the reference analyzes each cell
  independently, ``redactor.py:31-37``). NULL and blank cells get no
  detections (``redactor.py:34-35``); "blank" is what Spark's ``trim``
  would empty, i.e. only U+0020 spaces.
- ``redact_cell``: mask (default) or label replace (``redactor.py:104-113``).

Two Spark surfaces call them:

- ``make_wide_redact_udf``: the shipping path (``sources.csv.redact_csv``).
  One Arrow UDF over the WIDE frame returns, per row, every column's
  redacted cell and its detections array — one Python crossing per batch,
  no unpivot and no regroup shuffle.
- ``unpivot_cells`` → ``detect_cells`` → ``redact_cells``: the long-form
  (row_id, col_name, cell) operators, kept as a per-cell API (and as the
  reference the fused path is tested against).

``cell_detections_long`` turns (row, col_name, cell, detections) rows into
the reference's detection records, and the detection summary
(``csv_redactor/formatter.py:24-37``) is a plain hash aggregation: counts
per entity type + distinct affected cells.
"""

from __future__ import annotations

from typing import List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from ..core.recognizers import analyze
from ..core.scrub import mask_spans, replace_with_labels
from ..core.spans import Detection
from ..functions.udfs import DETECTIONS_TYPE, _coerce_detections


def cell_detections(
    cell: Optional[str],
    entities: Optional[Sequence[str]] = None,
    min_score: float = 0.0,
) -> List[Detection]:
    """Detections of one cell. NULL and blank cells are skipped
    (reference redactor.py:34-35); blank means empty after Spark's
    ``trim``, which strips only U+0020 — so a tab- or NBSP-only cell is
    still analyzed (and yields nothing)."""
    if cell is None or not cell.strip(" "):
        return []
    return analyze(cell, entities=entities, min_score=min_score)


def redact_cell(
    cell: Optional[str],
    dets: Sequence[Detection],
    use_entity_labels: bool = False,
    redaction_char: str = "*",
) -> Optional[str]:
    """One cell with its detected spans masked (default) or replaced by
    ``<ENTITY_TYPE>`` labels — reference operator semantics
    (redactor.py:104-113). A NULL cell passes through untouched."""
    if cell is None:
        return None
    if use_entity_labels:
        return replace_with_labels(cell, dets)
    return mask_spans(cell, dets, masking_char=redaction_char)


def make_wide_redact_udf(
    n_cols: int,
    entities: Optional[Sequence[str]] = None,
    min_score: float = 0.0,
    use_entity_labels: bool = False,
    redaction_char: str = "*",
):
    """Row-wise Arrow UDF over a wide row: takes a struct of the ``n_cols``
    value cells (as strings, in column order) and returns a struct whose
    ``r<i>`` is column i's ``redact_cell`` and ``d<i>`` its
    ``cell_detections`` — every column in one Python pass. Field names are
    positional, so no header text (quotes, backticks, dots) reaches a field
    path. Row order within a batch is kept, so a partition comes back in
    the order it went in."""
    ent = list(entities) if entities else None

    @pandas_udf(
        T.StructType(
            [T.StructField(f"r{i}", T.StringType()) for i in range(n_cols)]
            + [T.StructField(f"d{i}", DETECTIONS_TYPE) for i in range(n_cols)]
        )
    )
    def wide_redact_udf(cells: pd.DataFrame) -> pd.DataFrame:
        out = {}
        for i in range(n_cols):
            red, dets = [], []
            for c in cells.iloc[:, i]:
                ds = cell_detections(c, ent, min_score)
                red.append(redact_cell(c, ds, use_entity_labels, redaction_char))
                dets.append([d.as_tuple() for d in ds])
            out[f"r{i}"] = red
            out[f"d{i}"] = dets
        return pd.DataFrame(out)

    return wide_redact_udf


def unpivot_cells(
    df: DataFrame,
    id_col: str,
    value_cols: Sequence[str],
    passthrough_cols: Sequence[str] = (),
) -> DataFrame:
    """Wide -> long (id, [passthrough...], col_name, cell) via stack — one
    narrow projection, no shuffle. ``passthrough_cols`` ride along unchanged
    (e.g. the source file of each row)."""
    # escape before interpolating into SQL: a legitimate header like
    # "employee's email" or one containing a backtick would otherwise break
    # the stack() parse (SQL string literals double ', quoted identifiers
    # double `). Backslashes double too — Spark string literals process
    # backslash escapes by default, so an unescaped 'price\total' would
    # emit a TAB mid-name and a trailing backslash would swallow the
    # closing quote (ParseException for the whole stack()).
    pairs = ", ".join(
        "'{lit}', cast(`{ident}` as string)".format(
            lit=c.replace("\\", "\\\\").replace("'", "''"),
            ident=c.replace("`", "``"),
        )
        for c in value_cols
    )
    expr = f"stack({len(value_cols)}, {pairs}) as (col_name, cell)"
    keep = [F.col(id_col)] + [F.col(c) for c in passthrough_cols]
    return df.select(*keep, F.expr(expr))


def detect_cells(
    long_df: DataFrame,
    entities: Optional[Sequence[str]] = None,
    min_score: float = 0.0,
    cell_col: str = "cell",
) -> DataFrame:
    """Long cells + ``detections`` array per cell (``cell_detections``).
    Blank cells are gated inside the UDF, not filtered, so every
    (row, col) pair survives."""
    ent = list(entities) if entities else None

    @pandas_udf(DETECTIONS_TYPE)
    def cell_detect_udf(cells: pd.Series) -> pd.Series:
        return pd.Series(
            [[d.as_tuple() for d in cell_detections(c, ent, min_score)] for c in cells]
        )

    return long_df.withColumn("detections", cell_detect_udf(F.col(cell_col)))


def cell_detections_long(
    detected: DataFrame, id_col: str, include_cell_value: bool = False
) -> DataFrame:
    """Explode to one row per detection — the reference's detection-record
    shape {row, column, entity_type, start, end, score, value}
    (redactor.py:41-50). ``include_cell_value`` appends the full cell text
    as ``cell_value`` (the JSON export shape, formatter.py:8-21); off by
    default so the catalog query schema stays unchanged."""
    extra = (
        [F.col("cell").alias("cell_value")] if include_cell_value else []
    )
    return (
        detected.select(
            id_col, "col_name", "cell", F.explode("detections").alias("d")
        )
        .select(
            id_col,
            "col_name",
            F.col("d.entity_type").alias("entity_type"),
            F.col("d.start").alias("start"),
            F.col("d.end").alias("end"),
            F.round(F.col("d.score"), 4).alias("score"),
            F.expr("substring(cell, d.start + 1, d.end - d.start)").alias("value"),
            *extra,
        )
    )


def redact_cells(
    detected: DataFrame,
    use_entity_labels: bool = False,
    redaction_char: str = "*",
    cell_col: str = "cell",
) -> DataFrame:
    """Adds ``redacted_cell`` (``redact_cell`` of each cell and its
    ``detections``)."""

    @pandas_udf(T.StringType())
    def scrub_cell_udf(cells: pd.Series, dets: pd.Series) -> pd.Series:
        return pd.Series(
            [
                redact_cell(c, _coerce_detections(d), use_entity_labels, redaction_char)
                for c, d in zip(cells, dets)
            ]
        )

    return detected.withColumn(
        "redacted_cell", scrub_cell_udf(F.col(cell_col), F.col("detections"))
    )


def detection_summary(detections_long: DataFrame, id_col: str) -> DataFrame:
    """Counts per entity type + distinct affected cells
    (reference csv_redactor/formatter.py:24-37)."""
    return (
        detections_long.groupBy("entity_type")
        .agg(
            F.count(F.lit(1)).alias("n_detections"),
            F.countDistinct(F.col(id_col), F.col("col_name")).alias("n_cells"),
        )
        .orderBy("entity_type")
    )
