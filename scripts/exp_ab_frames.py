#!/usr/bin/env python
"""Frame fingerprints of registered queries, from one Spark session.

Usage: python scripts/exp_ab_frames.py <query> [<query> ...] --sf <dir>[,<dir>...] [--runs N]

Prints one `<query> <sf_dir> rows=<n> hash=<h>` line per query and sf
dir, hashed over the sorted collected rows (schema on the line before).
With --runs N, each query is also timed N times through a noop write
and twice through count().  For a frame-identity A/B, run the same names in two checkouts
(for example the parent commit from `git archive` and the working tree)
and compare the lines.
"""
import hashlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

args = sys.argv[1:]
opts = {"--sf": "", "--runs": "0"}
for flag in opts:
    if flag in args:
        i = args.index(flag)
        opts[flag] = args[i + 1]
        del args[i : i + 2]
names, sf_dirs, runs = args, opts["--sf"].split(","), int(opts["--runs"])

from filter_vectordb_spark.session import get_spark  # noqa: E402
from filter_vectordb_spark.registry import QUERIES  # noqa: E402

unknown = [n for n in names if n not in QUERIES]
if unknown or not names or not sf_dirs[0]:
    sys.exit(__doc__.splitlines()[2] + "".join(f"\nunknown query: {n}" for n in unknown))

spark = get_spark("exp_ab")
spark.range(1000).count()
for sf_dir, name in ((s, n) for s in sf_dirs for n in names):
    fn = QUERIES[name]
    df = fn(spark, sf_dir)
    print(f"{name} {sf_dir} schema:", df.schema.simpleString(), flush=True)
    rows = sorted(map(tuple, df.collect()))
    h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
    print(f"{name} {sf_dir} rows={len(rows)} hash={h}", flush=True)
    for i in range(runs):
        spark.sparkContext.setJobDescription(f"{name} noop run {i}")
        t0 = time.time()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        print(f"{name} noop run {i}: {time.time() - t0:.2f}s", flush=True)
    for i in range(2 if runs else 0):
        t0 = time.time()
        fn(spark, sf_dir).count()
        print(f"{name} count run {i}: {time.time() - t0:.2f}s", flush=True)
spark.stop()
