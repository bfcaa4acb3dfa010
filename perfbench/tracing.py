"""What the traced run reads from outside the program: Spark's event log,
the status tracker's job/stage/task counts, and process memory from
/proc.  Nothing here imports the package under test."""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

#: task accumulables the Python runner publishes (display names)
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"

#: what parse_event_log totals per job group
GROUP_FIELDS = (
    "tasks",
    "task_s",
    "jvm_cpu_s",
    "gc_s",
    "pyworker_start_s",
    "py_bytes_in",
    "shuffle_bytes",
    "input_rows",
)


def _event_files(log_dir: str) -> list[str]:
    """Every event-log file under log_dir: plain (`local-…`) or rolling
    (`eventlog_v2_*/events_*`), finished or in progress."""
    out = []
    for p in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if os.path.isdir(p):
            out.extend(sorted(glob.glob(os.path.join(p, "events_*"))))
        else:
            out.append(p)
    return out


def _accum(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            try:
                return float(a.get("Update", 0) or 0)
            except (TypeError, ValueError):
                return 0.0
    return 0.0


def parse_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold the event log into per-job-group totals.

    For each `spark.jobGroup.id`: tasks, summed task run time, JVM CPU,
    GC, Python-worker start time, bytes sent to Python workers, shuffle
    bytes written and input rows read.  Jobs without a group land under
    "".
    """
    stage_group: dict[int, str] = {}
    per_group: dict[str, dict[str, float]] = defaultdict(
        lambda: dict.fromkeys(GROUP_FIELDS, 0.0)
    )
    tasks: list[tuple[int, dict]] = []
    for path in _event_files(log_dir):
        if path.endswith((".zstd", ".lz4", ".lzf", ".snappy")):
            raise ValueError(f"compressed event log {path}: launch with spark.eventLog.compress=false")
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a partly flushed last line of a live log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", ()):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev))
    for sid, ev in tasks:
        g = per_group[stage_group.get(sid, "")]
        m = ev.get("Task Metrics") or {}
        info = ev.get("Task Info") or {}
        g["tasks"] += 1
        g["task_s"] += m.get("Executor Run Time", 0) / 1e3
        g["jvm_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
        g["pyworker_start_s"] += _accum(info, PY_START) / 1e3
        g["py_bytes_in"] += _accum(info, PY_SENT)
        g["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        g["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return dict(per_group)


def group_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks of one job group, from the status tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    ntasks = 0
    for sid in stages:
        s = st.getStageInfo(sid)
        if s is not None:
            ntasks += s.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": ntasks}


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                out.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in _children(p):
            if c not in seen:
                seen.append(c)
                todo.append(c)
    return seen


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(pid: int | None = None) -> float:
    """Summed peak resident set (VmHWM) of every process this one started:
    the driver JVM, the Python worker daemon and its workers."""
    pid = os.getpid() if pid is None else pid
    return sum(_status_kb(p, "VmHWM") for p in descendants(pid)) / 1024.0


def mem_total_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")
