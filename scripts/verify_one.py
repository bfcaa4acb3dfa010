#!/usr/bin/env python
"""Focused oracle check: one or more registry queries vs their DuckDB
oracles at given SF dirs (driver-identical string compare).

Usage: python scripts/verify_one.py <query> [query ...] [--sf dir ...]
Defaults to sf0.001 and sf0.01.
"""
import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = sys.argv[1:]
sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]
if "--sf" in args:
    i = args.index("--sf")
    sfs = args[i + 1 :]
    args = args[:i]
names = args

from filter_vectordb_spark import TABLES, get_spark  # noqa: E402
from filter_vectordb_spark.registry import ORACLES, QUERIES  # noqa: E402

unknown = [n for n in names if n not in QUERIES]
if unknown or not names:
    print(
        f"unknown query name(s): {' '.join(unknown) or '(none given)'}\n"
        f"valid names: {' '.join(sorted(QUERIES))}",
        file=sys.stderr,
    )
    sys.exit(2)

spark = get_spark("verify_one")
bad = 0
for sf in sfs:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    for name in names:
        left = QUERIES[name](spark, sf).toPandas()
        sql = ORACLES.get(name)
        if sql is None:
            print(f"{sf} {name} rows-only: {len(left)}", flush=True)
            continue
        right = con.sql(sql).df()
        cols = sorted(left.columns)
        if cols != sorted(right.columns):
            print(
                f"{sf} {name} MISMATCH (cols) {cols} vs {sorted(right.columns)}",
                flush=True,
            )
            bad += 1
            continue
        l = left[cols].sort_values(cols).reset_index(drop=True).astype(str)
        r = right[cols].sort_values(cols).reset_index(drop=True).astype(str)
        ok = l.equals(r)
        print(f"{sf} {name} {'MATCH' if ok else 'MISMATCH'}", flush=True)
        bad += 0 if ok else 1
spark.stop()
sys.exit(1 if bad else 0)
