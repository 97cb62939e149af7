#!/usr/bin/env python
"""Run any catalog query from the shell (the driver contract, hand-driven):

    python jobs/run_query.py --name doc_quality_agg [--sf-dir SF_DIR]
    python jobs/run_query.py --list
    python jobs/run_query.py --name host_quota --check   # also run its DuckDB oracle and diff

``--check`` reruns the query's value oracle in DuckDB over the same inputs
and reports row-count plus value equality — the same differential the
driver and tests/test_entry_oracle.py run.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--name", help="catalog query name")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--list", action="store_true", help="list catalog queries")
    p.add_argument("--check", action="store_true",
                   help="also run the DuckDB oracle and compare values")
    p.add_argument("--show", type=int, default=20, help="rows to print")
    p.add_argument("--master", default=None)
    args = p.parse_args()

    from pii_detection_redaction_spark.plans.queries import QUERIES

    if args.list or not args.name:
        for name in QUERIES:
            print(name)
        return 0
    if args.name not in QUERIES:
        p.error(f"unknown query {args.name!r} (see --list)")

    from pii_detection_redaction_spark.plans.session import build_session

    spark = build_session(app_name=f"query-{args.name}", master=args.master)
    df = QUERIES[args.name](spark, args.sf_dir)
    df.show(args.show, truncate=40)
    rc = 0
    if args.check:
        import duckdb
        import pandas as pd

        from pii_detection_redaction_spark.plans.oracles import all_oracles

        sql = all_oracles()[args.name]
        con = duckdb.connect()
        # the only testdata table the oracles read; the rest is read_parquet
        f = os.path.join(args.sf_dir, "documents.parquet")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{f}')")
        from pii_detection_redaction_spark.testing.diffnorm import (
            normalize_for_diff,
        )

        want = con.execute(sql).df()
        got = df.toPandas()
        cols = sorted(got.columns)
        same_rows = len(got) == len(want)
        if sorted(want.columns) != cols:
            print(f"column mismatch: spark={cols} oracle={sorted(want.columns)}")
            same_vals = False
        else:
            try:
                # THE gate's normalization (testing.diffnorm — rows sorted
                # by all columns, dtypes coerced) then exact values: raw
                # engine row order differs on tied ORDER BY keys and NULLS
                # FIRST/LAST, which is not a drift
                pd.testing.assert_frame_equal(
                    normalize_for_diff(got),
                    normalize_for_diff(want),
                    check_dtype=False,
                    check_exact=True,
                )
                same_vals = True
            except AssertionError as e:
                same_vals = False
                print(str(e).splitlines()[-1])
        print(f"oracle check: rows {len(got)}/{len(want)} "
              f"{'MATCH' if same_rows and same_vals else 'MISMATCH'}")
        rc = 0 if same_rows and same_vals else 1
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
