#!/usr/bin/env python
"""Frame fingerprint of a registered query, plus noop and count timings.

Usage: python scripts/exp_ab_frames.py <query> [<sf_dir>] [runs]

Prints the schema and a `rows=<n> hash=<h>` line over the sorted
collected rows.  For a frame-identity A/B, run it in two checkouts (for
example the parent commit from `git archive` and the working tree) and
compare the two lines.
"""
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

name = sys.argv[1]
sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

from filter_vectordb_spark.session import get_spark  # noqa: E402
from filter_vectordb_spark.registry import QUERIES  # noqa: E402

spark = get_spark("exp_ab")
spark.range(1000).count()
fn = QUERIES[name]

df = fn(spark, sf_dir)
print("schema:", df.schema.simpleString(), flush=True)
rows = sorted(map(tuple, df.collect()))
import hashlib

h = hashlib.sha256(repr(rows).encode()).hexdigest()[:16]
print(f"rows={len(rows)} hash={h}", flush=True)
for i in range(runs):
    spark.sparkContext.setJobDescription(f"{name} noop run {i}")
    t0 = time.time()
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
    print(f"noop run {i}: {time.time() - t0:.2f}s", flush=True)
for i in range(2):
    t0 = time.time()
    fn(spark, sf_dir).count()
    print(f"count run {i}: {time.time() - t0:.2f}s", flush=True)
spark.stop()
