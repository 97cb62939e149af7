"""Batch/zip redaction sink (reference S10): process a directory of mixed
CSV/TXT files, write one ``{stem}_redacted.{ext}`` per input (plus optional
``{stem}_detections.json``), and package everything into one deflate zip —
the reference's batch UI flow (``interface/csv_tab.py:195-230`` loops the
uploaded files through the per-file redactor CLI with exactly these output
names; ``interface/helpers.py:169-175`` zips the results with
``zipfile.ZIP_DEFLATED``).

Scale notes: this sink is the EXPORT surface, the analog of the reference's
download button — it exists for operator-sized batches (uploads, samples,
per-client extracts), not corpus-scale output (that is the snapshot-store /
directory sinks). Within that contract the heavy work is still distributed:
every CSV runs the single-Exchange cell-redaction plan, all TXT files are
ONE DataFrame (file-parallel ``spark.read.text(wholetext)``) through one
Arrow detect+scrub pass, and per-file artifacts come back through
``coalesce(1)`` Spark writes (one header, input row order) rather than a
driver collect of cell data. Only the zip packaging itself is driver-side
file IO, bounded by the export size — identical to the reference's
in-memory zip buffer.

JSON detections shape: a JSON array (``ensure_ascii=False, indent=2``) of
{row, column, entity_type, start, end, score, value, cell_value} —
``csv_redactor/formatter.py:8-21`` + ``cli.py:172-178``. Zip entry names go
through ``core.sanitize.safe_filename`` (C19) like every reference output
filename.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import zipfile
from typing import Dict, List, Optional, Sequence, Set
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..core.sanitize import claim_filename, safe_filename
from ..functions.udfs import make_detect_udf, make_scrub_udf
from ..operators.csvops import cell_detections_long
from .csv import ROW_FILE, ROW_ID, read_csv, redact_csv, write_csv


def _single_csv(df: DataFrame, dest: str, delimiter: str, header: bool) -> None:
    """Materialize one ordered CSV file: global sort on the row-order key,
    THEN coalesce(1) (coalesce preserves partition order over the sorted
    range partitions), so the single part carries one header and the input
    row order — reference redactor.py:124-126 writes rows in input order."""
    internal = [c for c in (ROW_FILE, ROW_ID) if c in df.columns]
    if internal:
        df = df.orderBy(*internal)
    tmp = dest + ".spark-tmp"
    write_csv(df.coalesce(1), tmp, delimiter=delimiter, header=header,
              ordered=False)
    (part,) = glob.glob(os.path.join(tmp, "part-*"))
    os.replace(part, dest)
    shutil.rmtree(tmp)


def _detections_json(rows: List[dict]) -> str:
    rows = sorted(
        rows, key=lambda r: (r["row"], r["column"], r["start"], r["end"])
    )
    return json.dumps(rows, ensure_ascii=False, indent=2)


def batch_redact(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    delimiter: str = ",",
    header: bool = True,
    use_entity_labels: bool = False,
    min_score: float = 0.0,
    entities: Optional[Sequence[str]] = None,
    scrub_mode: str = "relationship",
    save_json: bool = True,
    zip_name: str = "redacted_bundle.zip",
    multiline: bool = False,
    max_export_rows: Optional[int] = 1_000_000,
) -> Dict:
    """Redact every ``*.csv`` and ``*.txt`` under ``input_dir``; returns the
    manifest dict (also written as ``manifest.json`` and zipped).

    Per input file the outputs mirror the reference CLI loop:
    ``{stem}_redacted.csv`` / ``{stem}_redacted.txt`` and (``save_json``)
    ``{stem}_detections.json``. The zip holds all artifacts + the manifest;
    per-file summaries are the reference's ``summarize_detections`` shape
    (total_detections / affected_cells / by_entity_type).

    Driver-memory contract: the TXT pass streams one file at a time
    (``toLocalIterator`` — resident driver state is the largest single
    file, not the batch), and the per-CSV row-order map and detections
    list are bounded by ``max_export_rows`` PER FILE — past it the job
    fails loudly (this sink is the operator-sized download surface; a
    bigger extract belongs on the corpus-scale directory/snapshot sinks).
    ``None`` disables the bound."""
    os.makedirs(output_dir, exist_ok=True)
    csv_files = sorted(glob.glob(os.path.join(input_dir, "*.csv")))
    txt_files = sorted(glob.glob(os.path.join(input_dir, "*.txt")))
    if not csv_files and not txt_files:
        raise ValueError(f"no .csv or .txt files under {input_dir}")

    artifacts: List[str] = []
    manifest: Dict = {"files": {}, "total_detections": 0}
    used_names: Set[str] = set()

    def _summary(det_rows: List[dict]) -> Dict:
        by_type: Dict[str, int] = {}
        cells = set()
        for d in det_rows:
            by_type[d["entity_type"]] = by_type.get(d["entity_type"], 0) + 1
            cells.add((d["row"], d["column"]))
        return {
            "total_detections": len(det_rows),
            "affected_cells": len(cells),
            "by_entity_type": dict(sorted(by_type.items())),
        }

    for path in csv_files:
        stem = os.path.splitext(os.path.basename(path))[0]
        df = read_csv(
            spark, path, delimiter=delimiter, header=header,
            multiline=multiline,
        )
        out = redact_csv(
            df,
            use_entity_labels=use_entity_labels,
            min_score=min_score,
            entities=entities,
            cache=True,  # redacted + detections share the detect pass
            include_cell_value=True,
        )
        try:
            if max_export_rows is not None:
                # BEFORE the expensive reassembly+write: the guard exists
                # to veto the work, not to complain after it ran. The
                # counts are the first action, so they also materialize
                # the shared detect cache that everything below reads.
                n_rows = df.limit(max_export_rows + 1).count()
                n_det = out["detections"].limit(max_export_rows + 1).count()
                if max(n_rows, n_det) > max_export_rows:
                    raise ValueError(
                        f"{os.path.basename(path)}: "
                        f"{'rows' if n_rows > max_export_rows else 'detections'}"
                        f" exceed max_export_rows={max_export_rows} — batch_"
                        f"redact is the operator-sized zip-download surface; "
                        f"use run_csv_redact / the directory sinks for large "
                        f"extracts, or pass max_export_rows=None"
                    )
            red_name = claim_filename(f"{stem}_redacted.csv", used_names)
            red_path = os.path.join(output_dir, red_name)
            _single_csv(out["redacted"], red_path, delimiter, header)
            artifacts.append(red_path)
            # 0-based input row numbers for the JSON (reference
            # formatter.py shape): __row_id is monotonically_increasing_id,
            # whose VALUE jumps by 2^33 at scan-partition boundaries — only
            # its ORDER is the row order. Rank it. The collect is one long
            # per row of one file — bounded by max_export_rows above.
            row_order = {
                rid: i
                for i, (rid,) in enumerate(
                    df.select(ROW_ID).orderBy(ROW_ID).collect()
                )
            }
            det_rows = [
                {
                    "row": row_order[r[ROW_ID]],
                    "column": r["col_name"],
                    "entity_type": r["entity_type"],
                    "start": r["start"],
                    "end": r["end"],
                    "score": r["score"],
                    "value": r["value"],
                    "cell_value": r["cell_value"],
                }
                for r in out["detections"].collect()
            ]
            if save_json:
                jp = os.path.join(
                    output_dir,
                    claim_filename(f"{stem}_detections.json", used_names),
                )
                with open(jp, "w", encoding="utf-8") as f:
                    f.write(_detections_json(det_rows))
                artifacts.append(jp)
            manifest["files"][os.path.basename(path)] = {
                "kind": "csv", "output": red_name, **_summary(det_rows)
            }
            manifest["total_detections"] += len(det_rows)
        finally:
            if out["cached"] is not None:
                # release before the next file's pass — and on the raise
                # path, or the persisted detect partitions would pin
                # executor memory for the rest of the driver lifetime
                out["cached"].unpersist()

    if txt_files:
        detect = make_detect_udf(entities=entities, min_score=min_score)
        scrub = make_scrub_udf(mode=scrub_mode)
        tdf = (
            spark.read.text(txt_files, wholetext=True)
            .withColumn("path", F.input_file_name())
            .withColumn("detections", detect(F.col("value")))
            .select(
                "path",
                scrub(F.col("value"), F.col("detections")).alias("scrubbed"),
                F.transform(
                    "detections",
                    lambda d: F.struct(
                        d["entity_type"].alias("entity_type"),
                        d["start"].alias("start"),
                        d["end"].alias("end"),
                        F.round(d["score"], 4).alias("score"),
                    ),
                ).alias("dets"),
                F.col("value").alias("text"),
            )
        )
        # toLocalIterator, not collect: one row per txt file, each holding
        # the full text twice (raw + scrubbed) — streaming keeps resident
        # driver memory at the largest single file instead of the batch
        for r in tdf.toLocalIterator():
            # input_file_name() returns a percent-encoded URI
            # ('file:///.../my%20memo.txt'): parse + unquote so output names
            # and manifest keys carry the real filesystem name (matching the
            # csv entries, which are keyed from decoded glob paths)
            base = os.path.basename(unquote(urlparse(r["path"]).path))
            stem = os.path.splitext(base)[0]
            red_name = claim_filename(f"{stem}_redacted.txt", used_names)
            red_path = os.path.join(output_dir, red_name)
            with open(red_path, "w", encoding="utf-8") as f:
                f.write(r["scrubbed"])
            artifacts.append(red_path)
            det_rows = [
                {
                    "row": 0,
                    "column": "text",
                    "entity_type": d["entity_type"],
                    "start": d["start"],
                    "end": d["end"],
                    "score": d["score"],
                    "value": r["text"][d["start"] : d["end"]],
                    "cell_value": None,
                }
                for d in r["dets"]
            ]
            if save_json:
                jp = os.path.join(
                    output_dir,
                    claim_filename(f"{stem}_detections.json", used_names),
                )
                with open(jp, "w", encoding="utf-8") as f:
                    f.write(_detections_json(det_rows))
                artifacts.append(jp)
            manifest["files"][base] = {
                "kind": "txt", "output": red_name, **_summary(det_rows)
            }
            manifest["total_detections"] += len(det_rows)

    # set the zip key BEFORE the manifest is written so the on-disk and
    # in-bundle manifest.json match the returned/printed dict exactly
    zip_path = os.path.join(output_dir, safe_filename(zip_name))
    manifest["zip"] = os.path.basename(zip_path)
    man_path = os.path.join(output_dir, "manifest.json")
    with open(man_path, "w", encoding="utf-8") as f:
        json.dump(manifest, f, ensure_ascii=False, indent=2, sort_keys=True)
    artifacts.append(man_path)

    # helpers.py:169-175: one deflate zip of every produced artifact
    with zipfile.ZipFile(zip_path, "w", zipfile.ZIP_DEFLATED) as zf:
        for a in artifacts:
            zf.write(a, arcname=os.path.basename(a))
    return manifest
