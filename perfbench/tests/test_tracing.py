"""Tests of the traced run's readers: the event-log fold (hand-made log
and the log of a tiny real traced run), and /proc memory.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tracing import PY_SENT, PY_START, descendants, parse_event_log, peak_rss_mb  # noqa: E402


def _write_log(path, events):
    with open(path, "w") as fh:
        for ev in events:
            fh.write(json.dumps(ev) + "\n")
        fh.write('{"Event": "SparkListenerTaskEnd", "Stage')  # torn last line


def _task(stage, run_ms, cpu_ns, gc_ms, shuffle_w=0, rows=0, py=None):
    acc = [{"Name": k, "Update": v} for k, v in (py or {}).items()]
    return {
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage,
        "Task Info": {"Accumulables": acc},
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle_w},
            "Input Metrics": {"Records Read": rows},
        },
    }


def test_fold_hand_made_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "batch#1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {}},
        _task(0, 1000, 5e8, 10, shuffle_w=100, rows=7, py={PY_START: 30, PY_SENT: 4096}),
        _task(0, 500, 2e8, 0, shuffle_w=50, rows=3),
        _task(1, 250, 1e8, 5),
        _task(2, 9000, 0, 0),
    ]
    _write_log(tmp_path / "local-123", events)
    out = parse_event_log(str(tmp_path))
    g = out["batch#1"]
    assert g["tasks"] == 3
    assert g["task_s"] == 1.75
    assert abs(g["jvm_cpu_s"] - 0.8) < 1e-12
    assert g["gc_s"] == 0.015
    assert g["pyworker_start_s"] == 0.03
    assert g["py_bytes_in"] == 4096
    assert g["shuffle_bytes"] == 150
    assert g["input_rows"] == 10
    assert out[""]["task_s"] == 9.0


def test_rolling_log_layout(tmp_path):
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    _write_log(d / "events_1_local-1", [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.jobGroup.id": "g"}},
        _task(0, 2000, 0, 0),
    ])
    assert parse_event_log(str(tmp_path))["g"]["task_s"] == 2.0


def test_tiny_traced_run(tmp_path):
    """A real local session with the event log on: the job group's tasks,
    run time and Python-worker traffic come back out of the log."""
    import pandas as pd
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "log"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("tracing-test")
        .config("spark.ui.enabled", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    try:
        sc = spark.sparkContext
        sc.setJobGroup("tiny#1", "tiny traced batch")

        def plus_one(it):
            for pdf in it:
                yield pd.DataFrame({"id": pdf["id"] + 1})

        df = spark.range(0, 1000, numPartitions=4).mapInPandas(plus_one, "id long")
        assert df.groupBy((df.id % 3).alias("m")).count().count() == 3
        from tracing import group_counts

        counts = group_counts(sc, "tiny#1")
        assert counts["jobs"] >= 1 and counts["tasks"] >= 4
    finally:
        spark.stop()
    g = parse_event_log(str(log_dir))["tiny#1"]
    assert g["tasks"] >= 4
    assert g["task_s"] > 0
    assert g["py_bytes_in"] > 0
    assert g["shuffle_bytes"] > 0
    assert g["input_rows"] >= 0


def test_peak_rss_of_children():
    import subprocess

    # the child touches 200 MB, frees it, then idles
    code = "b = bytearray(200 << 20); del b; import time; time.sleep(5)"
    child = subprocess.Popen([sys.executable, "-c", code])
    try:
        time.sleep(1.5)
        assert child.pid in descendants(os.getpid())
        # the freed 200 MB still counts: VmHWM is the peak
        assert peak_rss_mb() > 200
    finally:
        child.kill()
        child.wait()
