#!/usr/bin/env python3
"""Recall-gated QPS benchmark of filter_vectordb_spark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One closed-loop client issues query
batches one after another on `local[<cpus>]`; each batch is timed from
the call to its materialised answers.  Inputs come from --seed; a seeded
sample of every batch is checked against exact numpy ground truth.  The
last stdout line is one JSON object: `correct`, `attempted` (timed
batches), `failed` (timed batches with recall below 1.0 or an error) and
`metrics` — the end-to-end metrics with --trace 0, the per-layer metrics
(from the event log, the status tracker and direct layer calls) with
--trace 1.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import sys
import tempfile
import time
from typing import Any, NamedTuple

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")
sys.path.insert(0, HERE)

from stats import p50, result_line, summarize  # noqa: E402
from tracing import GROUP_FIELDS, mem_total_mb, parse_event_log, peak_rss_mb  # noqa: E402

#: verify-and-load repetitions in set-up; setup_s takes their median
SETUP_REPS = 3


def launch_settings(event_dir: str | None) -> dict[str, str]:
    """Environment the session is launched with: cores pinned to this
    process's CPU set, driver heap sized from MemTotal, every scratch
    path inside the checkout, one BLAS thread per process, and — for the
    traced run — Spark's event log into event_dir."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    submit = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp}",
        "--conf", f"spark.local.dir={local}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if event_dir is not None:
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{event_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{max(1024, mem_total_mb() // 4)}m",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
        "PYSPARK_PYTHON": sys.executable,
    }
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        env[var] = "1"
    return env


def stop() -> None:
    """Stop the active session, if any, and wait for the JVM it launched
    to exit.  Safe to call twice."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


#: batch indices of warm batches start here; timed batches count from 1
WARM = 1 << 20


class Batch(NamedTuple):
    index: int
    wall: float
    result: Any  # materialised answers, or the exception the call raised
    sample: Any  # query ids checked against numpy
    inputs: Any  # what the program was given


def run_batch(spark, wl, i: int, n: int | None = None, group: str | None = None) -> Batch:
    """Make batch i's inputs, then time the call to its materialised
    answers."""
    inputs, sample = wl.batch(spark, i, n)
    if group is not None:
        spark.sparkContext.setJobGroup(f"{group}#{i}", "timed batch")
    t0 = time.perf_counter()
    try:
        res = wl.run(spark, inputs)
    except Exception as exc:  # a failed batch is counted, not fatal
        print(f"batch {i} failed: {exc!r}", file=sys.stderr)
        res = exc
    return Batch(i, time.perf_counter() - t0, res, sample, inputs)


def timed_loop(spark, wl, seconds: float, first: int, group: str | None = None):
    """Batches first, first+1, ... until their timed walls sum to
    `seconds` (at least one)."""
    out = []
    spent = 0.0
    while not out or spent < seconds:
        out.append(run_batch(spark, wl, first + len(out), group=group))
        spent += out[-1].wall
    return out


def warm_up(spark, wl, first: int = WARM):
    return [run_batch(spark, wl, first + j, n) for j, n in enumerate(wl.warm_sizes())]


def check(wl, warm, timed):
    """(correct, failed timed batches, lowest timed recall).  A batch that
    raised scores 0."""
    wl.truth([b.sample for b in warm + timed])
    recalls = [
        0.0 if isinstance(b.result, Exception) else wl.recall(b.result, b.sample)
        for b in warm + timed
    ]
    low = recalls[len(warm):]
    return min(recalls) >= 1.0, sum(r < 1.0 for r in low), min(low)


def set_up(spark, wl, cache):
    """Verify-and-load SETUP_REPS times, then the warm batches.  Returns
    (median verify-and-load wall, summed warm wall, warm batches)."""
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        path = cache.ensure(spark, wl.fixture)
        wl.load(spark, path)
        reps.append(time.perf_counter() - t0)
    warm = warm_up(spark, wl)
    return p50(reps), sum(b.wall for b in warm), warm


def staged_workloads(workload: str) -> list[str]:
    """The workload plus every workload BENCHMARK.json declares: the first
    run in a checkout stages all their fixtures, so the first run of any
    other workload only verifies."""
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = [w["name"] for w in json.load(fh)["workloads"]]
    except (OSError, ValueError, KeyError):
        declared = []
    return [workload] + [w for w in declared if w != workload]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the package under test; without it the benchmark fails here
    from filter_vectordb_spark.session import get_spark

    from fixtures import FixtureCache
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    os.makedirs(os.path.join(CACHE, "tmp"), exist_ok=True)
    event_dir = tempfile.mkdtemp(prefix="eventlog-", dir=CACHE) if args.trace else None
    env = launch_settings(event_dir)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    cpus = int(env["SPARK_GRAFT_CPUS"])
    print(
        json.dumps({"settings": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")}}),
        flush=True,
    )
    try:
        cache = FixtureCache(CACHE)
        staging = [
            WORKLOADS[w].fixture for w in staged_workloads(args.workload)
            if cache.manifest(WORKLOADS[w].fixture) is None
        ]
        if staging:
            # cold staging in a session of its own, so the measured one
            # starts as every later run's does
            t0 = time.perf_counter()
            spark = get_spark("perfbench-stage", cpus)
            for name in staging:
                cache.stage(spark, name)
            stop()
            print(f"staged {staging} in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus)
        session_s = time.perf_counter() - t0
        wl = WORKLOADS[args.workload](args.seed)
        load_s, warm_s, warm = set_up(spark, wl, cache)
        setup_s = session_s + load_s + warm_s
        print(
            f"set-up: session {session_s:.2f} s, verify+load {load_s:.2f} s, "
            f"warm {warm_s:.2f} s",
            file=sys.stderr,
        )
        if not args.trace:
            batches = timed_loop(spark, wl, args.seconds, 1)
            rss = peak_rss_mb()
            stop()
            metrics, correct, failed = end_to_end(wl, warm, batches, setup_s, rss)
            n = len(batches)
        else:
            metrics, correct, failed, n = traced(spark, wl, warm, args, cache, cpus, event_dir)
    finally:
        stop()
        if event_dir is not None:
            shutil.rmtree(event_dir, ignore_errors=True)
    print(f"run wall {time.perf_counter() - T0:.1f} s", file=sys.stderr)
    print(result_line(correct, n, failed, metrics), flush=True)
    return 0


def end_to_end(wl, warm, batches, setup_s, rss):
    t0 = time.perf_counter()
    correct, failed, recall = check(wl, warm, batches)
    print(f"ground truth and checks {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    walls = [b.wall for b in batches]
    summary = summarize(walls)
    print(
        f"{wl.name}: batch_s.p50 {summary['p50']:.3f} s over {summary['count']} "
        f"timed batches {[round(w, 3) for w in walls]}",
        file=sys.stderr,
    )
    metrics = {
        "qps": (wl.nq * wl.answers_per_query * len(walls) / sum(walls), "1/s"),
        "batch_s.p50": (summary["p50"], "s"),
        "recall_at_10": (recall, "ratio"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (rss, "MB"),
        "stored_bytes_per_vector_byte": (wl.stored_bytes_per_vector_byte(), "ratio"),
    }
    return metrics, correct, failed


#: every per-layer metric of the declared workloads and its unit; a layer
#: the workload leaves idle reports 0.  A workload may add its own
#: (`Workload.extra_layers`).
PER_LAYER = {
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.jvm_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.pyworker_start_s": "s",
    "spark.slot_idle_frac": "ratio",
    "spark.shuffle_bytes": "B",
    "spark.py_bytes_in": "B",
    "filteridx.route_s": "s",
    "filteridx.q_pair": "count",
    "filteridx.q_tag": "count",
    "filteridx.q_meta": "count",
    "filteridx.cand_per_result": "ratio",
    "filteridx.wall_accounted": "ratio",
    "filteridx_kernels.pairview_s": "s",
    "filteridx_kernels.tagview_s": "s",
    "filteridx_kernels.meta_s": "s",
    "topk.merge_s": "s",
    "topk.rows_in": "count",
    "knn.read_s": "s",
    "knn.decode_s": "s",
    "knn.cast_s": "s",
    "knn.gemm_topk_s": "s",
    "knn.rows": "count",
    "knn.bytes_read": "B",
    "knn.gflop": "GFLOP",
    "knn.gflops_per_core": "GFLOP/s",
    "knn.kernel_share": "ratio",
    "sources.stage_s": "s",
    "trace.batch_s": "s",
    "trace.overhead_frac": "ratio",
}


def traced(spark, wl, warm, args, cache, cpus, event_dir):
    """Traced batches (event log on, one job group per batch), then the
    layer probes, then untraced reference batches in a fresh session with
    the event log off; the event log is parsed after both."""
    from filter_vectordb_spark.session import get_spark

    from tracing import group_counts

    batches = timed_loop(spark, wl, args.seconds, 1, group="batch")
    sc = spark.sparkContext
    counts = [group_counts(sc, f"batch#{b.index}") for b in batches]
    probe = wl.layers(spark, batches[-1].inputs, "probe")
    # the reference session: same JVM, event log off
    jvm = sc._jvm
    spark.stop()
    jvm.java.lang.System.setProperty("spark.eventLog.enabled", "false")
    spark = get_spark("perfbench", cpus)
    wl.load(spark, wl.path)
    ref_warm = warm_up(spark, wl, 2 * WARM)
    ref = timed_loop(spark, wl, args.seconds, 1 + len(batches))
    stop()

    correct, failed, _recall = check(wl, warm + ref_warm, batches + ref)
    log = parse_event_log(event_dir)
    nb = len(batches)
    tot = {k: sum(log.get(f"batch#{b.index}", {}).get(k, 0.0) for b in batches) / nb
           for k in GROUP_FIELDS}
    wall = p50([b.wall for b in batches])
    units = {**PER_LAYER, **wl.extra_layers}
    m = dict.fromkeys(units, 0.0)
    m.update({
        "spark.jobs": sum(c["jobs"] for c in counts) / nb,
        "spark.stages": sum(c["stages"] for c in counts) / nb,
        "spark.tasks": sum(c["tasks"] for c in counts) / nb,
        "spark.task_s": tot["task_s"],
        "spark.jvm_cpu_s": tot["jvm_cpu_s"],
        "spark.gc_s": tot["gc_s"],
        "spark.pyworker_start_s": tot["pyworker_start_s"],
        "spark.slot_idle_frac": 1.0 - tot["task_s"] / (cpus * wall),
        "spark.shuffle_bytes": tot["shuffle_bytes"],
        "spark.py_bytes_in": tot["py_bytes_in"],
        "trace.batch_s": wall,
        "trace.overhead_frac": wall / p50([b.wall for b in ref]) - 1.0,
    })
    m.update({k: v for k, (v, _unit) in probe.items() if k in units})
    if "knn.replay_s" in probe:
        m["knn.kernel_share"] = probe["knn.replay_s"][0] / tot["task_s"]
        m["knn.gflops_per_core"] = m["knn.gflop"] / tot["task_s"]
    if "runbook.live_rows" in probe:
        m["runbook.rows_read_per_live_row"] = tot["input_rows"] / probe["runbook.live_rows"][0]
    if wl.name == "filter-yfcc-100k":
        parts = sum(m[k] for k in ("filteridx.route_s", "topk.merge_s", "filteridx_kernels.pairview_s",
                                   "filteridx_kernels.tagview_s", "filteridx_kernels.meta_s"))
        m["filteridx.wall_accounted"] = parts / wall
    m["sources.stage_s"] = cache.manifest(wl.fixture)["stage_s"]
    metrics = {k: (v, units[k]) for k, v in m.items()}
    return metrics, correct, failed, len(batches) + len(ref)


if __name__ == "__main__":
    sys.exit(main())
