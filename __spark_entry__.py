"""Driver contract for the spark-graft builder (PySpark target).

``entry`` runs the flagship PII-scrub + quality pipeline over the sf0.001
documents table; ``queries``/``oracle_sql`` expose the full operator catalog
(pii_detection_redaction_spark.plans.queries / .oracles) for the driver's
DuckDB differential check at sf0.01.

Every catalog query carries a value-level oracle. SQL-expressible queries
are re-derived independently in DuckDB SQL; the non-SQL-expressible parts
(full regex bank with context boost + conflict resolution, LM perplexity,
trained classifier matrices, the deflate codec) are value-gated via golden
parquets computed by the pure-Python oracle library over the same
deterministic inputs (``testing.goldens`` — zero Spark code) and read back
with ``read_parquet``. ``pii_counts`` additionally re-counts the bank's
RE2-expressible subset with the bank's own regexes in SQL.

The catalog holds 30 entries, each serving the page scrub pipeline, a
redaction surface or the dedup lifecycle: related operators share one
gated entry as a tagged union or join of the individually-verified
components (see plans/queries.py's consolidation note). The
documents-table goldens assume the sf0.01 differential scale (override:
``SPARK_GRAFT_ORACLE_SF_DIR``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full quality-filter pipeline (langid + perplexity + Gopher/
    C4 rules → keep/drop) over sf0.001 documents — one row per document."""
    from pii_detection_redaction_spark.plans.queries import q_quality_pipeline

    return q_quality_pipeline(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from pii_detection_redaction_spark.plans.queries import QUERIES

    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    from pii_detection_redaction_spark.plans.oracles import all_oracles

    return all_oracles()
