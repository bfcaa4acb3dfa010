"""Product-quantization index tests (index/pq.py).

Methodology mirrors the reference's recall-vs-config measurement (SURVEY.md
§5): the approximate cut is measured against the in-engine exact plan, and
the composed ADC+rescore plan is pinned EQUAL to exact k-NN at the refine
the registry uses (margin test: recall 1.0 already at refine=64, registry
runs 128)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from filter_vectordb_spark.index.ivf import build_index, list_scores, load_index, search
from filter_vectordb_spark.index.pq import _lloyd, encode_pq, pq_codec, train_pq
from filter_vectordb_spark.operators.knn import knn_join
from filter_vectordb_spark.operators.topk import per_group_topk
from filter_vectordb_spark.sources.vectors import dense_queries, dense_vectors
from tests.conftest import SF_DIR

K = 10
NSUB, KSUB = 32, 64


@pytest.fixture(scope="module")
def base(spark):
    return dense_vectors(spark, SF_DIR).select("id", "emb")


@pytest.fixture(scope="module")
def codebooks(base):
    return train_pq(base, nsub=NSUB, ksub=KSUB)


@pytest.fixture(scope="module")
def codes(base, codebooks):
    return encode_pq(base, codebooks).localCheckpoint()


@pytest.fixture(scope="module")
def exact(spark, base):
    q = dense_queries(spark, SF_DIR)
    return knn_join(q, base, K).select("qid", "rank", "id")


def test_training_is_deterministic(base):
    a = train_pq(base, nsub=NSUB, ksub=KSUB)
    b = train_pq(base, nsub=NSUB, ksub=KSUB)
    assert np.array_equal(a, b)
    assert a.shape == (NSUB, KSUB, 64 // NSUB)


def test_lloyd_handles_fewer_points_than_clusters():
    X = np.arange(6, dtype=np.float64).reshape(3, 2)
    C = _lloyd(X, 5, iters=3)
    assert C.shape == (5, 2) and np.isfinite(C).all()


def test_encode_shape_and_range(codes):
    pdf = codes.toPandas()
    M = np.stack(pdf["codes"].to_numpy())
    assert M.shape[1] == NSUB
    assert M.min() >= 0 and M.max() < KSUB
    # one code row per base row, codes deterministic across invocations
    assert pdf["id"].is_unique


def test_adc_cut_recall_margin(spark, codes, codebooks, exact):
    """The registry's correctness story: true top-k survive the ADC cut
    with margin — recall 1.0 already at refine=64 (registry uses 128)."""
    q = dense_queries(spark, SF_DIR)
    scored = list_scores(q, codes, None, pq_codec(codebooks), 1, 64)
    cut = per_group_topk(
        scored, ["qid"], [F.col("adist").asc(), F.col("id").asc()], 64
    ).select("qid", "id")
    missed = exact.select("qid", "id").exceptAll(cut).count()
    assert missed == 0


def test_adc_rescore_equals_exact(spark, base, codes, codebooks, exact):
    q = dense_queries(spark, SF_DIR)
    res = search(q, codes, None, pq_codec(codebooks), base, K, 1, 128).select(
        "qid", "rank", "id"
    )
    assert res.exceptAll(exact).count() == 0
    assert exact.exceptAll(res).count() == 0


def test_save_load_roundtrip(tmp_path, spark, base, codes, codebooks, exact):
    out = str(tmp_path / "pq")
    build_index(base, out, "pq", nsub=NSUB, ksub=KSUB)
    codes2, _, codec = load_index(spark, out)
    (cb2,) = codec.state
    assert np.array_equal(cb2, codebooks)
    q = dense_queries(spark, SF_DIR)
    res = search(q, codes2, None, codec, base, K, 1, 128).select(
        "qid", "rank", "id"
    )
    assert res.exceptAll(exact).count() == 0


def test_full_refine_is_exact_regardless_of_quantization(spark, base, codes, codebooks, exact):
    """refine ≥ n degrades to exact brute force no matter how bad the
    codebook is — the oracle-checkable configuration (IVF full-probe
    analog)."""
    n = base.count()
    q = dense_queries(spark, SF_DIR)
    res = search(q, codes, None, pq_codec(codebooks), base, K, 1, int(n)).select(
        "qid", "rank", "id"
    )
    assert res.exceptAll(exact).count() == 0


# ---------------------------------------------------------------- IVF+PQ


@pytest.fixture(scope="module")
def ivfpq_dir(base, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ivfpq"))
    build_index(base, out, "pq", 8, nsub=NSUB, ksub=KSUB)
    return out


@pytest.fixture(scope="module")
def ivfpq(spark, ivfpq_dir):
    entries, centroids, codec = load_index(spark, ivfpq_dir)
    return entries.localCheckpoint(), centroids.localCheckpoint(), codec


def test_ivfpq_full_probe_equals_exact(spark, base, ivfpq, exact):
    entries, centroids, codec = ivfpq
    q = dense_queries(spark, SF_DIR)
    res = search(q, entries, centroids, codec, base, K, 8, 128).select(
        "qid", "rank", "id"
    )
    assert res.exceptAll(exact).count() == 0
    assert exact.exceptAll(res).count() == 0


def test_ivfpq_recall_improves_with_nprobe(spark, base, ivfpq, exact):
    """The reference's recall-vs-QPS methodology: recall@10 is monotone
    non-decreasing in nprobe and high even at partial probe."""
    entries, centroids, codec = ivfpq
    q = dense_queries(spark, SF_DIR)
    e = exact.select("qid", "id").toPandas()
    eset = set(map(tuple, e.values))
    recalls = []
    for nprobe in (1, 4, 8):
        res = search(
            q, entries, centroids, codec, base, K, nprobe, 128
        ).select("qid", "id").toPandas()
        got = set(map(tuple, res.values))
        recalls.append(len(got & eset) / len(eset))
    assert all(b >= a - 1e-9 for a, b in zip(recalls, recalls[1:])), recalls
    assert recalls[-1] == 1.0
    assert recalls[0] > 0.3  # even 1/8 of the lists finds a solid fraction


def test_ivfpq_save_load_roundtrip(spark, base, codebooks, ivfpq_dir, exact):
    e2, c2, codec = load_index(spark, ivfpq_dir)
    (cb2,) = codec.state
    assert np.array_equal(cb2, codebooks)
    q = dense_queries(spark, SF_DIR)
    res = search(q, e2, c2, codec, base, K, 8, 128).select(
        "qid", "rank", "id"
    )
    assert res.exceptAll(exact).count() == 0


# ------------------------------------------------------------ plan shapes


def test_adc_scan_reads_codes_only(spark, codes, codebooks):
    """The ADC pass must scan (id, codes) — never the float vectors."""
    import tempfile

    from filter_vectordb_spark.plans.audit import physical_plan

    out = tempfile.mkdtemp(prefix="pq_plan_")
    codes.write.mode("overwrite").parquet(out)
    q = dense_queries(spark, SF_DIR)
    scored = list_scores(q, spark.read.parquet(out), None, pq_codec(codebooks), 1, 64)
    scan = [ln for ln in physical_plan(scored).splitlines() if "ReadSchema" in ln][0]
    assert "codes" in scan and "emb" not in scan, scan


def test_ivfpq_probe_prunes_partitions(spark, base, ivfpq_dir):
    """Probing must reach the entries scan as a partition filter (static
    or dynamic) — the 'probe = partition pruning' contract."""
    from filter_vectordb_spark.plans.audit import assert_partition_pruned

    e2, c2, codec = load_index(spark, ivfpq_dir)
    q = dense_queries(spark, SF_DIR)
    # .alias() breaks the load_index identity match so the search stays
    # on the DataFrame route — whose pruning contract this test pins
    # (the identical-object case auto-delegates to the direct read)
    res = search(q, e2.alias("e"), c2, codec, base, K, 2, 64)
    assert_partition_pruned(res)


# ------------------------------------------------------- IVF incremental


def test_ivf_insert_assigns_to_nearest_existing_centroid(spark, base):
    from filter_vectordb_spark.index.ivf import build_ivf, ivf_insert

    n = base.count()
    cut = (3 * n) // 4
    assignments, centroids = build_ivf(base.filter(F.col("id") < cut), 8)
    merged = ivf_insert(assignments, centroids, base.filter(F.col("id") >= cut))
    assert merged.count() == n
    assert merged.select("id").distinct().count() == n
    # inserted rows: centroid must be the argmin over existing centroids
    cpdf = centroids.toPandas()
    C = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
    cids = cpdf["centroid_id"].to_numpy()
    got = merged.filter(F.col("id") >= cut).toPandas()
    X = np.stack(got["emb"].to_numpy()).astype(np.float64)
    want = cids[(((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)).argmin(axis=1)]
    assert (got["centroid_id"].to_numpy() == want).all()


def test_adc_chunks_above_broadcast_cap(spark, base, codes, codebooks, exact, monkeypatch):
    """Chunk-and-union above the broadcast cap must equal single-shot."""
    from filter_vectordb_spark.operators import knn as knn_mod

    q = dense_queries(spark, SF_DIR)
    want = search(q, codes, None, pq_codec(codebooks), base, K, 1, 64).select(
        "qid", "rank", "id"
    )
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 3)
    got = search(q, codes, None, pq_codec(codebooks), base, K, 1, 64).select(
        "qid", "rank", "id"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_ivfpq_chunks_above_broadcast_cap(spark, base, ivfpq, monkeypatch):
    """Chunk-and-union above the broadcast cap must equal single-shot
    (VERDICT r5 #1: every scan family streams the query side)."""
    from filter_vectordb_spark.operators import knn as knn_mod

    entries, centroids, codec = ivfpq
    q = dense_queries(spark, SF_DIR)
    want = search(q, entries, centroids, codec, base, K, 8, 128).select(
        "qid", "rank", "id"
    )
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 3)
    got = search(q, entries, centroids, codec, base, K, 8, 128).select(
        "qid", "rank", "id"
    )
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
