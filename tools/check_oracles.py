"""Driver-mimicking correctness harness: runs every __spark_entry__
queries() entry at sf0.01 and compares against oracle_sql() via DuckDB
(row count + column names + order-insensitive value comparison).

Usage: python tools/check_oracles.py [name ...]
"""

from __future__ import annotations

import math
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 9) + 0.0  # + 0.0: -0.0 and 0.0 must sort/repr the same
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def compare(name, spark_df, sql, con):
    cols = sorted(spark_df.columns)
    s_rows = [tuple(norm(r[c]) for c in cols) for r in spark_df.collect()]
    try:
        d = con.sql(sql)
    except Exception as exc:
        return f"FAIL {name}: duckdb error: {exc}"
    d_cols_raw = d.columns
    if sorted(c.lower() for c in d_cols_raw) != [c.lower() for c in cols]:
        return f"FAIL {name}: columns spark={cols} duckdb={sorted(d_cols_raw)}"
    idx = [d_cols_raw.index(next(dc for dc in d_cols_raw if dc.lower() == c.lower())) for c in cols]
    d_rows = [tuple(norm(row[i]) for i in idx) for row in d.fetchall()]
    if len(s_rows) != len(d_rows):
        return f"FAIL {name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}"
    if sorted(s_rows, key=repr) != sorted(d_rows, key=repr):
        sset, dset = sorted(s_rows, key=repr), sorted(d_rows, key=repr)
        diffs = [(a, b) for a, b in zip(sset, dset) if a != b][:3]
        return f"FAIL {name}: values differ; first diffs: {diffs}"
    return f"PASS {name}: {len(s_rows)} rows"


def main():
    import __spark_entry__ as entry
    from handprint_spark.session import get_spark

    sf_dir = "/root/testdata/sf0.01"
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    queries = entry.queries()
    oracles = entry.oracle_sql()
    only = set(sys.argv[1:])
    failures = 0
    for name, fn in queries.items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
        except Exception as exc:
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        if name not in oracles:
            n = df.count()
            print(f"ROWS-ONLY {name}: {n} rows")
            continue
        msg = compare(name, df, oracles[name], con)
        print(msg)
        failures += msg.startswith("FAIL")
    print("done;", failures, "failures")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
