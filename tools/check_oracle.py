"""Local emulation of the driver's correctness gate: run each
__spark_entry__.queries() entry at sf0.01 and compare against
oracle_sql() via DuckDB (row count + order-insensitive values).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys

import duckdb

sys.path.insert(0, ".")

import __spark_entry__ as entrymod  # noqa: E402
from paragrapher_spark import get_spark  # noqa: E402

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark(app_name="oracle-check", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        df = fn(spark, sf_dir)
        got = df.toPandas()
        want = con.execute(oracles[name]).fetchdf()
        ok = True
        if sorted(got.columns) != sorted(want.columns):
            print(f"{name}: SCHEMA MISMATCH spark={sorted(got.columns)} duck={sorted(want.columns)}")
            ok = False
        elif len(got) != len(want):
            print(f"{name}: ROWCOUNT MISMATCH spark={len(got)} duck={len(want)}")
            ok = False
        else:
            cols = sorted(got.columns)
            g = got[cols].sort_values(cols).reset_index(drop=True)
            w = want[cols].sort_values(cols).reset_index(drop=True)
            try:
                import pandas.testing as pt

                pt.assert_frame_equal(g, w, check_dtype=False)
            except AssertionError as e:
                print(f"{name}: VALUE MISMATCH: {str(e)[:500]}")
                ok = False
        if ok:
            print(f"{name}: OK rows={len(got)}")
        else:
            failures += 1
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
