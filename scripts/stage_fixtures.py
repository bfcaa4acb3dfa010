#!/usr/bin/env python
"""Pre-stage every scale fixture into the per-host /tmp cache.

The bench's warm phase stages these too, but on a FRESH host (wiped
/tmp) cold staging takes tens of minutes — far past the driver's
bounded bench window.  Run this once per host (idempotent: every
stager is content-addressed and no-ops when its _SUCCESS marker
exists) so the recorded bench measures serving, not fixture builds —
the reference's fit-then-measure protocol (BASELINE QPS excludes
build, `filter/run.py:15-52`).
"""

from __future__ import annotations

import sys
import time


def main() -> None:
    from filter_vectordb_spark import get_spark
    from filter_vectordb_spark.queries import fixtures as fx

    spark = get_spark("stage_fixtures")

    def run(label, fn, *args):
        t0 = time.perf_counter()
        try:
            fn(spark, *args)
            print(f"stage: {label} {time.perf_counter() - t0:.1f}s", flush=True)
        except Exception as exc:  # keep staging the rest
            print(f"stage: {label} FAILED: {exc}", file=sys.stderr, flush=True)

    # light stagers first, the heavy 10M builds last — a partial run
    # (time-boxed host, concurrent build) still leaves the cheap
    # fixtures staged
    run("synth100k_base", fx._synth100k_base)
    run("synth_queries_2048", fx._synth_queries_staged, 2048)
    run("synth_queries_8192", fx._synth_queries_staged, 8192)
    run("ood_queries_8192", fx._synth_ood_queries_staged, 8192)
    run("synth1m_base", fx._synth1m_base)
    run("ivfsq_1m", fx._ivfsq_1m)
    run("yfcc100k_index", fx._yfcc100k_index)
    run("yfcc_queries_8192", fx._yfcc_queries_8192)
    run("sparse1m_terms", fx._synth_sparse1m_terms_dir)
    run("sparse1m_queries", fx._synth_sparse1m_queries)
    run("msturing1m_base", fx._synth_msturing1m)
    run("msturing1m_clustered", fx._synth_msturing1m_clustered)
    run("sparse8m84_terms", fx._synth_sparse8m84_terms_dir)
    run("sparse8m84_skewed", fx._synth_sparse8m84_skewed_terms_dir)
    run("synth10m_base", fx._synth10m_base)
    run("msturing10m_base", fx._synth_msturing10m)
    run("msturing10m_clustered", fx._synth_msturing10m_clustered)
    run("ivfsq_10m", fx._ivfsq_10m)
    run("gt_kth_10m", fx._gt_kth_10m)
    run("yfcc10m_index", fx._yfcc10m_index)
    print("stage: all done", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
