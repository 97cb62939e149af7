"""Differential test: every Spark query vs its DuckDB oracle, exactly.

Replicates the driver's CORRECTNESS gate locally (row count + schema-ish +
exact values after column-name sort), at sf0.001 for speed; the driver runs
sf0.01. Exact equality (no tolerance) — the rounding discipline in the query
catalog is what makes that possible.
"""

import os

import duckdb
import pandas as pd
import pytest

# the documents-table goldens must be computed from the SAME sf dir the
# Spark queries under test read (the driver uses sf0.01; locally sf0.001)
os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = os.environ.get(
    "PII_TEST_SF_DIR", "/root/testdata/sf0.001"
)

import __spark_entry__ as entrymod  # noqa: E402

# the only testdata table the surviving oracles read (everything else comes
# from the pages corpus / goldens via read_parquet)
TABLES = ["documents"]


@pytest.fixture(scope="module")
def ddb(sf001_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf001_dir}/{t}.parquet')"
        )
    return con


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


from pii_detection_redaction_spark.testing.diffnorm import (
    normalize_for_diff as _normalize,
)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_duckdb_oracle(name, spark, sf001_dir, ddb):
    sdf = QUERIES[name](spark, sf001_dir).toPandas()
    odf = ddb.execute(ORACLES[name]).df()
    assert len(sdf) == len(odf), f"{name}: row count {len(sdf)} vs {len(odf)}"
    a, b = _normalize(sdf), _normalize(odf)
    assert list(a.columns) == list(b.columns), f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    pd.testing.assert_frame_equal(a, b, check_exact=True, obj=name)


def test_every_query_has_a_value_oracle():
    """Catalog invariant since round 3: zero rows-only entries — the golden
    parquet machinery closes the non-SQL-expressible gap."""
    assert sorted(set(QUERIES) - set(ORACLES)) == []


def test_catalog_has_no_dead_code(monkeypatch):
    """Dead catalog code must not creep back: every ``ORACLE_SQL`` entry is
    read while ``all_oracles()`` assembles the catalog, and every ``q_*``
    function in plans/queries.py is named somewhere in that module besides
    its own ``def`` (a catalog entry or a consolidated entry composing it)."""
    import ast
    import inspect

    from pii_detection_redaction_spark.plans import oracles as O
    from pii_detection_redaction_spark.plans import queries as Q

    read = set()

    class _Recording(dict):
        def __getitem__(self, key):
            read.add(key)
            return super().__getitem__(key)

    monkeypatch.setattr(O, "ORACLE_SQL", _Recording(O.ORACLE_SQL))
    O.all_oracles()
    assert sorted(set(O.ORACLE_SQL) - read) == []

    tree = ast.parse(inspect.getsource(Q))
    defined = {
        n.name for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name.startswith("q_")
    }
    named = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    assert sorted(defined - named) == []


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) == 500
    assert set(df.columns) == {"doc_id", "lang_pred", "ppl", "keep"}
