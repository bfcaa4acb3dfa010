"""Unit tests of the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stats import check_name, check_unit, p50, result_line, summarize, tie_aware_recall  # noqa: E402


@pytest.mark.parametrize(
    "name",
    ["qps", "batch_s.p50", "recall_at_10", "runbook.search_s.c1",
     "sources.stage_s.yfcc100k-index", "9lives", "a" * 64],
)
def test_good_metric_names(name):
    assert check_name(name) == name


@pytest.mark.parametrize(
    "name", ["", "_x", ".x", "-x", "a b", "a/b", "qps!", "a" * 65, "é"]
)
def test_bad_metric_names(name):
    with pytest.raises(ValueError):
        check_name(name)


@pytest.mark.parametrize("unit", ["s", "ms", "1/s", "count", "B", "GFLOP/s", "%", "ratio"])
def test_good_units(unit):
    assert check_unit(unit) == unit


@pytest.mark.parametrize("unit", ["", "a b", "x" * 17, "s:"])
def test_bad_units(unit):
    with pytest.raises(ValueError):
        check_unit(unit)


def test_p50_odd_even_and_count():
    assert p50([3.0]) == 3.0
    assert p50([5, 1, 3]) == 3.0
    assert p50([4, 1, 3, 2]) == 2.5
    assert summarize([2.0, 9.0, 1.0]) == {"p50": 2.0, "count": 3}
    with pytest.raises(ValueError):
        p50([])


def test_recall_exact_hit():
    truth = [1.0, 2.0, 3.0, 4.0]
    assert tie_aware_recall({7: 1.0, 8: 2.0}, truth, 2, larger=False) == 1.0


def test_recall_tie_at_boundary_counts_as_hit():
    # ids 5 and 6 tie at the exact 2nd-best distance: either is a hit
    truth = [1.0, 2.0, 2.0, 9.0]
    assert tie_aware_recall({4: 1.0, 6: 2.0}, truth, 2, larger=False) == 1.0
    assert tie_aware_recall({4: 1.0, 9: 9.0}, truth, 2, larger=False) == 0.5


def test_recall_larger_is_better_and_illegal_ids():
    truth = [10.0, 8.0, 8.0, 1.0]
    assert tie_aware_recall({1: 10.0, 2: 8.0}, truth, 2, larger=True) == 1.0
    # an id that is not a legal answer (filtered out, deleted) never hits
    assert tie_aware_recall({1: 10.0, 2: None}, truth, 2, larger=True) == 0.5


def test_recall_fewer_legal_answers_than_k():
    assert tie_aware_recall({1: 3.0}, [3.0], 10, larger=False) == 1.0
    assert tie_aware_recall({}, [3.0], 10, larger=False) == 0.0
    assert tie_aware_recall({}, [], 10, larger=False) == 1.0


def test_result_line_shape():
    line = result_line(True, 3, 0, {"qps": (12.5, "1/s"), "setup_s": (0.25, "s")})
    out = json.loads(line)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["metrics"]["qps"] == {"value": 12.5, "unit": "1/s"}
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"x": (float("nan"), "s")})
