"""Pure helpers: metric names, medians, tie-aware recall and the result
line.  No Spark, no package imports — unit-tested on their own."""

from __future__ import annotations

import json
import math
import re

import numpy as np

#: a metric name: starts with a letter or digit, then up to 63 letters,
#: digits, `_`, `.` or `-`
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
#: a unit: 1-16 letters, digits, `_`, `/`, `%`, `.` or `-`
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def check_name(name: str) -> str:
    if not NAME_RE.match(name):
        raise ValueError(f"bad metric name {name!r}")
    return name


def check_unit(unit: str) -> str:
    if not UNIT_RE.match(unit):
        raise ValueError(f"bad metric unit {unit!r}")
    return unit


def p50(values) -> float:
    """Median of a non-empty sample (mean of the middle pair when even)."""
    v = sorted(float(x) for x in values)
    if not v:
        raise ValueError("median of an empty sample")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2.0


def summarize(walls) -> dict:
    """Median batch wall with its sample count."""
    return {"p50": p50(walls), "count": len(walls)}


def tie_aware_recall(returned: dict, truth_dist, k: int, larger: bool) -> float:
    """Recall@k where a returned id is a hit when its TRUE score is no
    worse than the exact k-th best (big-ann-benchmarks' rule, so ties at
    the boundary never count as misses).

    returned: {id: true score of that id, or None when the id is not a
    legal answer (filtered out, deleted, unknown)}.  truth_dist: the true
    scores of every legal answer (any order).  A query with fewer than k
    legal answers must return all of them."""
    legal = np.asarray(truth_dist, dtype=np.float64)
    need = min(k, legal.size)
    if need == 0:
        return 1.0 if not returned else 0.0
    key = -legal if larger else legal
    kth = np.partition(key, need - 1)[need - 1]
    kth = -kth if larger else kth
    hits = 0
    for score in list(returned.values())[:k]:
        if score is None or (isinstance(score, float) and math.isnan(score)):
            continue
        if (score >= kth) if larger else (score <= kth):
            hits += 1
    return min(hits, need) / need


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The benchmark's last stdout line.  metrics: {name: (value, unit)}."""
    out = {}
    for name, (value, unit) in metrics.items():
        v = float(value)
        if not math.isfinite(v):
            raise ValueError(f"metric {name} is not finite: {value!r}")
        out[check_name(name)] = {"value": v, "unit": check_unit(unit)}
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": out,
        }
    )
