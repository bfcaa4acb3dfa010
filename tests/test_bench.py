"""bench.py emit contract: the driver records only the LAST 2000 chars
of stdout and parses the JSON line from that tail (r6 regression:
a 2.1 KB line came back "parsed": null).  format_bench_line must keep
the recorded line inside the window by spilling detail to stderr —
these pin both spill stages so they work the round the registry
outgrows the window (VERDICT r7 #7: the branch had never run)."""

import json
import sys

sys.path.insert(0, "/root/repo")

from bench import BENCH_QUERIES, RERUN_COUNTS, format_bench_line


def _payload(nq: int, runs_names=()):
    return {
        "metric": "headline_queries_total_wall",
        "value": 123.45,
        "unit": "sec",
        "queries": {f"some_query_name_{i:03d}": round(0.5 + i / 7, 2) for i in range(nq)},
        "runs": {n: [1.23, 4.56, 7.89] for n in runs_names},
        "sf": 0.1,
    }


def test_small_payload_passes_through():
    p = _payload(5)
    line = format_bench_line(dict(p))
    assert json.loads(line) == p  # verbatim, runs intact


def test_runs_spill_to_stderr(capsys):
    # sized so the full line exceeds the window but dropping runs saves it
    p = _payload(45, runs_names=[f"scale_point_{i}" for i in range(25)])
    assert len(json.dumps(p, separators=(",", ":"))) > 1950
    line = format_bench_line(p)
    out = json.loads(line)
    assert len(line) <= 1950
    assert "runs" not in out
    assert len(out["queries"]) == 45  # queries survive stage-1 spill
    err = capsys.readouterr().err
    assert "bench runs:" in err and "scale_point_0" in err


def test_query_truncation_keeps_scale_points(capsys):
    p = _payload(120)
    p["queries"]["knn_ip_1m"] = 7.6
    p["queries"]["streaming_replay_1m_clustered"] = 60.0
    line = format_bench_line(p)
    out = json.loads(line)
    assert len(line) <= 1950
    assert out["queries"]["knn_ip_1m"] == 7.6
    assert out["queries"]["streaming_replay_1m_clustered"] == 60.0
    assert out["queries_truncated"] > 0
    assert out["value"] == 123.45  # the headline total always survives
    err = capsys.readouterr().err
    assert "bench queries (full):" in err and "some_query_name_000" in err


def test_real_registry_line_fits_after_runs_spill():
    # the ACTUAL bench shape this round: every BENCH_QUERIES name with a
    # worst-case 6-char timing + the full runs map.  The recorded line
    # must fit within the window after at most the runs spill — if this
    # fails, the bench grew past what the driver can record.
    p = {
        "metric": "headline_queries_total_wall",
        "value": 9999.99,
        "unit": "sec",
        "queries": {n: 999.99 for n in BENCH_QUERIES},
        "runs": {n: [999.99] * c for n, c in RERUN_COUNTS.items()},
        "sf": 0.1,
    }
    line = format_bench_line(p)
    out = json.loads(line)
    assert len(line) <= 1950
    assert "queries_truncated" not in out, "bench registry outgrew the window"
    assert set(out["queries"]) == set(BENCH_QUERIES)


def test_taxed_retry_granted_protocol():
    """VERDICT r9 wrong #1: a min-of-N row whose run 1 exceeds 3x its
    recorded min gets exactly one rerun while inside the scale cutoff —
    the r9 artifacts (yfcc 110.29 s vs 6.32, sparse 140.25 s vs 12.77)
    must both qualify; a genuinely slow second run must not loop."""
    from bench import SCALE_CUTOFF_SEC, taxed_retry_granted

    ok = SCALE_CUTOFF_SEC / 2
    assert taxed_retry_granted("filtered_knn_yfcc_10m", 110.29, 1, ok)
    assert taxed_retry_granted("sparse_mips_1m", 140.25, 1, ok)
    # only the FIRST run earns the grant
    assert not taxed_retry_granted("sparse_mips_1m", 140.25, 2, ok)
    from bench import HARD_WALL_SEC, HIST_MIN_SEC, TAXED_RATIO

    # inside 3x the recorded min = plausibly real, no grant
    assert not taxed_retry_granted("knn_ip_10m", 2 * HIST_MIN_SEC["knn_ip_10m"], 1, ok)
    # past the scale cutoff the grant holds while a conservatively-taxed
    # rerun still fits under the hard wall (the taxed run itself pushed
    # the loop over — the exact case the grant exists for) ...
    assert taxed_retry_granted("sparse_mips_1m", 140.25, 1, SCALE_CUTOFF_SEC + 1)
    # ... but not when even that budget is gone

    too_late = HARD_WALL_SEC - TAXED_RATIO * HIST_MIN_SEC["sparse_mips_1m"] + 1
    assert not taxed_retry_granted("sparse_mips_1m", 140.25, 1, too_late)
    # a row with no history can't be judged taxed
    assert not taxed_retry_granted("some_new_row", 500.0, 1, ok)


def test_scale_block_membership():
    """VERDICT r9 missing #1: the ~2 s streaming_replay row was skipped
    by the old substring match; the scale gate is now an explicit set."""
    from bench import BENCH_QUERIES, HEADLINE_MIN_N, HIST_MIN_SEC, SCALE_BLOCK

    assert "streaming_replay" not in SCALE_BLOCK
    assert "streaming_replay_1m" in SCALE_BLOCK
    assert "knn_ip_10m" in SCALE_BLOCK
    assert SCALE_BLOCK <= set(BENCH_QUERIES)
    assert HEADLINE_MIN_N <= SCALE_BLOCK
    # every scale row the taxed-retry protocol covers has a history pin
    assert SCALE_BLOCK <= set(HIST_MIN_SEC)


def test_hist_min_derived_from_records(tmp_path):
    """VERDICT r10 wrong #4: the taxed-grant baseline is derived from
    the committed BENCH_r*.json history at startup, not hand-edited —
    a stale table entry can no longer miscalibrate the grant."""
    from bench import HIST_MIN_SEC, HIST_SEED_SEC, SCALE_BLOCK, load_hist_min

    # the live table covers every grant-scoped row
    assert SCALE_BLOCK <= set(HIST_MIN_SEC)
    # derivation can only improve on the seed (mins merge downward)
    for k, v in HIST_SEED_SEC.items():
        assert HIST_MIN_SEC[k] <= v, (k, HIST_MIN_SEC[k], v)
    # known committed records flow through: r8's knn_ip_10m_ivfsq_lo
    # 1.97 s min-of-3 is the best ever recorded and has no seed entry
    assert HIST_MIN_SEC["knn_ip_10m_ivfsq_lo"] <= 1.97
    # synthetic round-trip: queries map + runs arrays + failed rows
    rec = {
        "parsed": {
            "queries": {"knn_ip_10m": 40.0, "sparse_mips_1m": -1.0},
            "runs": {"knn_ip_10m": [40.0, 17.5]},
        }
    }
    (tmp_path / "BENCH_r99.json").write_text(json.dumps(rec))
    got = load_hist_min(str(tmp_path))
    assert got["knn_ip_10m"] == 17.5  # runs array min wins
    # -1 (failed) never becomes a baseline: with only the failed record
    # and no seed entry, the row has no history at all
    assert "sparse_mips_1m" not in got


def test_taxed_marker_and_payload():
    """VERDICT r10 wrong #2: a taxed record must be machine-visible in
    the payload (`taxed` key), and partial lines keep the real metric
    name so a killed run still records (ADVICE r10 resolution)."""
    import time as _time

    from bench import HIST_MIN_SEC, TAXED_RATIO, make_payload, taxed_rows

    hist = HIST_MIN_SEC["filtered_knn_yfcc_10m_ivf"]
    timings = {
        "filtered_knn_yfcc_10m_ivf": round(TAXED_RATIO * hist + 1, 2),
        "knn_l2": 0.5,  # fast row: never taxed
        "broken_row": -1.0,  # failed rows are not taxed
    }
    assert taxed_rows(timings) == ["filtered_knn_yfcc_10m_ivf"]
    p = make_payload(timings, {}, "0.1", _time.perf_counter(), partial=True)
    assert p["metric"] == "headline_queries_total_wall"
    assert p["partial"] is True
    assert p["taxed"] == ["filtered_knn_yfcc_10m_ivf"]
    # untaxed payload omits the key entirely (line budget)
    p2 = make_payload({"knn_l2": 0.5}, {}, "0.1", _time.perf_counter())
    assert "taxed" not in p2 and "partial" not in p2
    line = format_bench_line(dict(p))
    assert json.loads(line)["taxed"] == ["filtered_knn_yfcc_10m_ivf"]


def test_scale_block_order_record_debt_first():
    """VERDICT r10 wrong #1: the cheap record-debt rows must run before
    the 100-250 s yfcc pair so one taxed row cannot starve them past
    the scale cutoff; the exact 10M anchor stays sacrificial-last."""
    from bench import BENCH_QUERIES

    pos = {n: i for i, n in enumerate(BENCH_QUERIES)}
    debt = [
        "knn_ip_10m_ivfsq",
        "knn_ip_10m_ivfsq_lo",
        "sparse_mips_8m84_budget",
        "streaming_replay_1m",
        "streaming_replay_1m_clustered",
        "sparse_mips_1m",
    ]
    for n in debt:
        assert pos[n] < pos["filtered_knn_yfcc_10m"], n
        assert pos[n] < pos["filtered_knn_yfcc_10m_ivf"], n
    assert pos["filtered_knn_yfcc_10m_ivf"] < pos["knn_ip_10m"]


def test_arena_warm_capped_at_half_mem_available(tmp_path, monkeypatch):
    """ADVICE r12: ncpu × 768 MB at once can OOM the host — the warm is
    capped at half of MemAvailable, the env override still applies
    under the cap, and an unreadable meminfo leaves the size uncapped."""
    from bench import arena_warm_mb

    meminfo = tmp_path / "meminfo"
    meminfo.write_text("MemTotal:       16000000 kB\nMemAvailable:    8388608 kB\n")
    monkeypatch.delenv("SPARK_GRAFT_ARENA_WARM_MB", raising=False)
    assert arena_warm_mb(4, str(meminfo)) == 768  # 8 GB / 2 / 4 = 1024 ≥ 768
    assert arena_warm_mb(32, str(meminfo)) == 128  # 8 GB / 2 / 32
    monkeypatch.setenv("SPARK_GRAFT_ARENA_WARM_MB", "256")
    assert arena_warm_mb(4, str(meminfo)) == 256
    assert arena_warm_mb(64, str(meminfo)) == 64  # the cap binds the override too
    monkeypatch.setenv("SPARK_GRAFT_ARENA_WARM_MB", "0")
    assert arena_warm_mb(4, str(meminfo)) == 0
    monkeypatch.setenv("SPARK_GRAFT_ARENA_WARM_MB", "768")
    assert arena_warm_mb(32, str(tmp_path / "missing")) == 768
    meminfo.write_text("MemTotal:       16000000 kB\n")  # no MemAvailable line
    assert arena_warm_mb(32, str(meminfo)) == 768
