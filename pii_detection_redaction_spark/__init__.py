"""PySpark-native web-text quality-filter + PII/toxicity-scrub engine.

A from-scratch rebuild of the query/data-processing capabilities of the
reference repo ``manansvr/pii-detection-redaction`` (studied read-only at
/root/reference), re-expressed Spark-first:

- ``core``       pure-Python semantics library (the label oracle): recognizer
                 bank, chunker, relationship masking, scrub operators, quality
                 rules, language-ID, n-gram LM. Importable without Spark.
- ``functions``  vectorized pandas/Arrow UDF factories wrapping ``core``.
- ``operators``  text operators (dedup, web, text stats, layout, OCR).
- ``sources``    readers + snapshot-manifest sink with checkpoint resume.
- ``plans``      end-to-end pipeline assembly + SparkSession builder.
- ``testing``    deterministic synthetic corpus generators (seeded, no I/O).
"""

__version__ = "0.1.0"
