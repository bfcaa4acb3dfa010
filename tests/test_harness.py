"""Harness lifecycle tests: config-driven run loop, best-of-N timing,
recall evaluation, results sink."""

from __future__ import annotations

import json
import os

import pytest

from filter_vectordb_spark.harness.runner import load_config, run_benchmark
from tests.conftest import SF_DIR

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "engines.yaml")


def test_run_benchmark_end_to_end(spark, tmp_path):
    config = load_config(FIXTURE)
    out = str(tmp_path / "results")
    records = run_benchmark(spark, config, SF_DIR, out_dir=out, k=10)
    assert len(records) == 9  # 2 bf + 2 ivf + 1 filtered + 1 lsh + 3 sparse
    by_engine = {}
    for r in records:
        by_engine.setdefault(r["engine"], []).append(r)
    # exact engines must have recall 1.0
    for r in by_engine["bruteforce"]:
        assert r["recall_at_k"] == 1.0
    # sparse exact config has recall 1.0; truncated configs can only lose
    sp = by_engine["sparse"]
    assert max(r["recall_at_k"] for r in sp) == 1.0
    # lsh is approximate but must find something
    assert by_engine["lsh"][0]["recall_at_k"] > 0.2
    # full-probe ivf exact; reduced probe can only lose recall
    ivf = sorted(by_engine["ivf"], key=lambda r: r["attrs"]["nprobe"])
    assert ivf[-1]["recall_at_k"] == 1.0
    assert ivf[0]["recall_at_k"] <= 1.0
    for r in records:
        assert r["best_query_s"] > 0
    # S6 sink: parquet + attrs sidecar per run point
    sidecars = [f for f in os.listdir(out) if f.endswith(".attrs.json")]
    assert len(sidecars) == 9
    with open(os.path.join(out, sidecars[0])) as f:
        attrs = json.load(f)
    assert {"engine", "best_query_s", "recall_at_k", "attrs"} <= set(attrs)
    # results parquet is readable and well-formed
    dirs = [f for f in os.listdir(out) if not f.endswith(".json")]
    df = spark.read.parquet(os.path.join(out, dirs[0]))
    assert set(df.columns) == {"qid", "rank", "id"}
    assert df.count() > 0


def test_recall_qps_curve_artifact(spark, tmp_path):
    """The reference's figure of merit (README.md:129-141, 241-243): a
    (engine, qargs, recall@k, qps) point per grid entry, Parquet + CSV."""
    import json as _json

    from filter_vectordb_spark.harness.runner import curve_report, write_curve

    config = load_config(FIXTURE)
    records = run_benchmark(spark, config, SF_DIR, k=10)
    curve = curve_report(records)
    assert len(curve) == len(records)
    # monotone recall along the ivf nprobe grid, anchor exact
    ivf = sorted(
        (p for p in curve if p["engine"] == "ivf"),
        key=lambda p: _json.loads(p["qargs"])["nprobe"],
    )
    recalls = [p["recall_at_k"] for p in ivf]
    assert recalls == sorted(recalls) and recalls[-1] == 1.0
    assert all(p["qps"] > 0 for p in curve)
    # artifact: parquet dir + csv twin, both readable, identical content
    dest = str(tmp_path / "curve")
    df = write_curve(spark, records, dest)
    back = spark.read.parquet(dest)
    assert back.count() == len(curve) == df.count()
    import pandas as pd

    csv = pd.read_csv(dest + ".csv")
    assert len(csv) == len(curve)
    assert set(csv.columns) == {"engine", "qargs", "recall_at_k", "qps", "k"}


def test_filtered_engine_recall_is_exact(spark):
    """filtered_knn is exact in both branches: with the truth-sized
    denominator (queries whose predicate matches < k rows exist in the
    fixture) its recall must be exactly 1.0 at every mt_threshold."""
    config = {
        "run_groups": [
            {
                "engine": "filtered",
                "run_count": 1,
                "query_args": [{"mt_threshold": t} for t in (0.001, 0.1)],
            }
        ]
    }
    records = run_benchmark(spark, config, SF_DIR, k=10)
    assert [r["recall_at_k"] for r in records] == [1.0, 1.0]


def test_quantization_engines_refine_tradeoff(spark):
    """PQ/SQ engines: recall monotone in refine; SQ8 (tighter codec)
    reaches 1.0 by refine=40 on the fixture."""
    import json as _json

    config = {
        "run_groups": [
            {
                "engine": "pq",
                "run_count": 1,
                "query_args": [{"refine": r} for r in (10, 160)],
            },
            {
                "engine": "sq8",
                "run_count": 1,
                "query_args": [{"refine": r} for r in (10, 40)],
            },
        ]
    }
    records = run_benchmark(spark, config, SF_DIR, k=10)
    by = {}
    for r in records:
        by.setdefault(r["engine"], []).append(
            (_json.loads(r["qargs"])["refine"], r["recall_at_k"])
        )
    for eng, pts in by.items():
        pts.sort()
        assert [p[1] for p in pts] == sorted(p[1] for p in pts), eng
    assert by["sq8"][-1][1] == 1.0


def test_index_engines_refuse_a_metric_their_codec_cannot_score(spark):
    """A run group's metric reaches the index search: an engine whose
    codec cannot score it raises, naming the codec and the metric,
    instead of recording L2 results against that metric's ground
    truth."""
    for engine, codec, metric in (("ivfsq", "sq8", "cos"), ("pq", "pq", "ip")):
        config = {"run_groups": [{"engine": engine, "metric": metric, "run_count": 1}]}
        with pytest.raises(ValueError, match=f"{codec} .*'{metric}'"):
            run_benchmark(spark, config, SF_DIR, k=10)


@pytest.mark.parametrize("engine", ["ivf", "pq", "sq8", "ivfsq"])
def test_index_engine_fit_saves_what_a_fresh_engine_loads(spark, engine):
    """fit() builds, persists and loads the index: a fresh engine of the
    same name then loads it from the shared cache instead of rebuilding,
    and serves the same frame."""
    from filter_vectordb_spark.harness.engines import ENGINES

    fitted = ENGINES[engine]()
    fitted.fit(spark, SF_DIR)
    fresh = ENGINES[engine]()
    assert fresh.load_index(spark, SF_DIR)
    q = fitted.default_queries(spark, SF_DIR)
    want = fitted.query(q, 10).select("qid", "rank", "id")
    got = fresh.query(q, 10).select("qid", "rank", "id")
    assert want.count() > 0
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_bruteforce_scans_the_staged_base_raw(spark):
    """On the staged synth100k source the exact scan reads the base files
    raw (`emb` BINARY, decoded by the scan kernel) and ranks exactly as a
    scan over the generator's list frame does."""
    from filter_vectordb_spark.harness.engines import BruteForceEngine
    from filter_vectordb_spark.operators.knn import knn_join
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    eng = BruteForceEngine(metric="ip", index_params={"source": "synth100k"})
    eng.fit(spark, SF_DIR)
    assert dict(eng.base.dtypes)["emb"] == "binary"
    q = eng.default_queries(spark, SF_DIR).filter("qid < 8")
    got = eng.query(q, 10).select("qid", "rank", "id", "dist")
    lists = synth_uint8_base(spark).select("id", "emb")
    want = knn_join(q, lists, 10, metric="ip").select("qid", "rank", "id", "dist")
    assert got.count() == 80
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_lsh_rescores_the_staged_base_raw(spark):
    """LSH on the staged synth100k source buckets and rescores the raw
    BINARY base and answers exactly as over the generator's list frame.
    One query: the uncentred uint8 vectors share most buckets, so each
    query rescores most of the base."""
    from filter_vectordb_spark.harness.engines import LSHEngine
    from filter_vectordb_spark.index.lsh import lsh_cosine_knn
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    eng = LSHEngine(metric="cos", index_params={"source": "synth100k"})
    eng.fit(spark, SF_DIR)
    assert dict(eng.base.dtypes)["emb"] == "binary"
    q = eng.default_queries(spark, SF_DIR).filter("qid = 0")
    got = sorted(map(tuple, eng.query(q, 10).collect()))
    lists = synth_uint8_base(spark).select("id", "emb")
    want = lsh_cosine_knn(q, lists, 10, eng.dim).select("qid", "id", "rank").collect()
    assert len(got) == 10 and got == sorted(map(tuple, want))
