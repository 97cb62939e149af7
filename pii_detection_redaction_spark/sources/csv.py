"""End-to-end CSV redaction: the reference's ``csv_redactor`` pipeline
(redact_csv_file, ``csv_redactor/redactor.py:55-128``) as Spark source→sink.

read.csv (header/delimiter options == reference skip_header/delimiter params)
→ range partition + local sort on the row-order key → ONE Arrow UDF over the
wide rows (per-cell detect + mask/replace, ``operators.csvops``) →
write.csv, plus the JSON detections sink (``csv_redactor/cli.py:172-178``
analog) and the stderr summary (``formatter.py:24-37``).

Row-order contract: output rows come in input order — per file, files in
lexicographic path order (the reference CLI writes rows in input order,
redactor.py:124-126). ``redact_csv`` establishes that order BELOW the
Python node, and nothing above it moves rows, so every sink writes its
partitions in index order and the part files, read in name order, are the
input. The sort must sit below the UDF: PySpark's Arrow eval nodes drop
their child's partitioning, so an ``orderBy`` above the UDF adds a second
range exchange whose sampling job re-runs the whole Python pass.
"""

from __future__ import annotations

from typing import Dict, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.csvops import (
    cell_detections_long,
    detection_summary,
    make_wide_redact_udf,
)

ROW_ID = "__row_id"
ROW_FILE = "__row_file"
CELLS = "__cells"


def read_csv(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """CSV source with a row-order contract usable for multi-file inputs.

    ``__row_id`` (monotonically_increasing_id) is the unique row key;
    ``__row_file`` (the ``_metadata.file_path`` hidden column) records each
    row's source file. ``redact_csv`` orders on (file, id): a bare
    ``__row_id`` order would replay Spark's SCAN-PARTITION order — file
    splits are bin-packed in size-descending order, so for a directory input
    the biggest file would come first regardless of its name. Ordering by
    file first pins the contract to (file path lexicographic, position
    within file); within one file, ids rise with read order in every split,
    and splits of one file keep offset order under the planner's stable
    size sort (equal-size chunks), so the composite key is total.

    ``multiline=True`` enables RFC-4180 quoted embedded newlines (which the
    reference's Python ``csv`` reader always handles): without it Spark
    splits such a cell mid-field into bogus extra rows. It is an explicit
    knob, not the default, because multiLine makes each FILE a single
    unsplittable scan partition — the right trade for UI-parity inputs,
    the wrong default for the wide-table bench/scale path whose cells are
    newline-free."""
    df = spark.read.csv(
        path, sep=delimiter, header=header, inferSchema=False,
        multiLine=multiline,
    )
    return df.withColumn(ROW_FILE, F.col("_metadata.file_path")).withColumn(
        ROW_ID, F.monotonically_increasing_id()
    )


def _quoted(name: str) -> str:
    """``name`` as a column reference that Spark does not parse: dots
    would otherwise read as struct access."""
    return "`" + name.replace("`", "``") + "`"


def redact_csv(
    df: DataFrame,
    use_entity_labels: bool = False,
    redaction_char: str = "*",
    min_score: float = 0.0,
    entities: Optional[Sequence[str]] = None,
    cache: bool = False,
    include_cell_value: bool = False,
) -> Dict[str, DataFrame]:
    """Returns {'redacted': wide redacted frame, 'detections': long table,
    'summary': per-entity-type counts}. ``include_cell_value`` adds the full
    cell text to the detections table (the JSON export shape).

    Plan: the ``read_csv`` frame is range-partitioned on (``__row_file``,
    ``__row_id``) into ``max(defaultParallelism, scan partitions)``
    partitions — one wave on small inputs, the scan's own split count on
    large ones; an explicit count, so AQE does not coalesce the exchange
    into one task — and sorted within partitions on the same key. Then
    ``operators.csvops.make_wide_redact_udf`` runs once per row over all
    value columns. That exchange is the plan's only one; ``redacted``
    projects the redacted cells out of the UDF's struct, and
    ``detections`` is an ``inline`` of (column, cell, detections) per row
    fed to ``cell_detections_long`` — no shuffle either. ``redacted`` is in
    input order partition by partition, and sinks must not re-sort it
    (module docstring).

    ``cache=True`` persists the UDF's output frame: the three outputs share
    its lineage, and a caller materializing all three (the CLI job) would
    otherwise run the Python pass three times."""
    value_cols = [c for c in df.columns if c not in (ROW_ID, ROW_FILE)]
    passthrough = [ROW_FILE] if ROW_FILE in df.columns else []
    key = passthrough + [ROW_ID]
    n_parts = max(
        df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions(),
    )
    # value columns are renamed v<i>: header text never reaches a field path
    vals = [f"v{i}" for i in range(len(value_cols))]
    udf = make_wide_redact_udf(
        len(value_cols), entities=entities, min_score=min_score,
        use_entity_labels=use_entity_labels, redaction_char=redaction_char,
    )
    fused = (
        df.repartitionByRange(n_parts, *key)
        .sortWithinPartitions(*key)
        .select(
            *key,
            *[F.col(_quoted(c)).cast("string").alias(v) for c, v in zip(value_cols, vals)],
        )
        .withColumn(CELLS, udf(F.struct(*vals)))
    )
    if cache:
        fused = fused.persist()

    redacted = fused.select(
        ROW_ID,
        *passthrough,
        *[F.col(CELLS)[f"r{i}"].alias(c) for i, c in enumerate(value_cols)],
    )
    long = fused.select(
        ROW_ID,
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(v).alias("cell"),
                        F.col(CELLS)[f"d{i}"].alias("detections"),
                    )
                    for i, (c, v) in enumerate(zip(value_cols, vals))
                ]
            )
        ),
    )
    detections = cell_detections_long(
        long, ROW_ID, include_cell_value=include_cell_value
    )
    return {
        "redacted": redacted,
        "detections": detections,
        "summary": detection_summary(detections, ROW_ID),
        # the persisted handle (None when cache=False): callers that loop
        # over many files must unpersist it after materializing the outputs,
        # or the cached partitions accumulate for the whole batch
        "cached": fused if cache else None,
    }


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    header: bool = True,
) -> None:
    """CSV sink. The internal ``__row_id`` / ``__row_file`` columns are
    dropped before writing. Rows are written as they are partitioned, with
    no sort (module docstring): ``redact_csv``'s part files, read in name
    order, are the input rows. Cells keep their leading and trailing
    whitespace, as the reference's Python ``csv`` writer does (Spark's
    writer trims both by default)."""
    internal = [c for c in (ROW_FILE, ROW_ID) if c in df.columns]
    df.drop(*internal).write.mode("overwrite").csv(
        path, sep=delimiter, header=header,
        ignoreLeadingWhiteSpace=False, ignoreTrailingWhiteSpace=False,
    )


def detections_to_json(
    detections: DataFrame, source: Optional[DataFrame] = None
) -> DataFrame:
    """JSON detections sink shape (reference formatter.py:8-21): one JSON
    string per detection row.

    Pass ``source`` (the ``read_csv`` frame the detections came from) to
    export the reference's 0-based input row index as ``row``: the internal
    ``__row_id`` is ``monotonically_increasing_id``, whose VALUE jumps by
    2^33 at scan-partition boundaries — only its order is the row order, so
    the raw id must never leak into an artifact. The rank needs the FULL
    source row set (undetected rows still occupy indices), hence the
    parameter. ``row`` is PER FILE (window partitioned by ``__row_file``):
    the reference CLI redacts one file at a time, so its ``row`` restarts
    at 0 per input file (csv_redactor/cli.py:172-178); for a directory
    input the export also carries ``file`` (the source path) — a per-file
    index with the file identity dropped would locate nothing. Single-file
    sources are byte-identical to the reference (no ``file`` field, same
    indices; one window partition ≡ the old global sort). Without
    ``source`` the frame is serialized as-is (caller owns the columns)."""
    if source is not None and ROW_ID in detections.columns:
        if ROW_FILE in source.columns:
            w = Window.partitionBy(ROW_FILE).orderBy(ROW_ID)
            # driver-side file listing — CSV has no column pruning, so a
            # distinct() over the metadata column would re-parse every
            # input byte just to learn the file count
            multi = len(source.inputFiles()) > 1
        else:
            w, multi = Window.orderBy(ROW_ID), False
        sel = [F.col(ROW_ID), (F.row_number().over(w) - 1).alias("row")]
        if multi:
            # _metadata.file_path is a percent-encoded file:// URI; export
            # the real filesystem path (strip scheme, url_decode) so the
            # field joins against input names / the batch manifest keys.
            # Literal '+' pre-escapes to %2B: url_decode is form-decoding,
            # which would otherwise read '+' as a space.
            decoded = F.url_decode(
                F.regexp_replace(
                    F.regexp_replace(F.col(ROW_FILE), r"^file:(//)?", ""),
                    r"\+", "%2B",
                )
            )
            sel.append(decoded.alias("file"))
        rows = source.select(*sel)
        keep = [c for c in detections.columns if c not in (ROW_ID, ROW_FILE)]
        lead = ["file", "row"] if multi else ["row"]
        detections = detections.join(rows, ROW_ID).select(*lead, *keep)
    return detections.select(
        F.to_json(F.struct(*[F.col(c) for c in detections.columns])).alias("json")
    )
