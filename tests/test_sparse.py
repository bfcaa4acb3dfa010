"""Sparse MIPS operator properties (oracle parity is covered by
test_oracle_parity via the registry)."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from filter_vectordb_spark.operators.sparse import (
    budget_truncate,
    docs_to_terms,
    sparse_topk,
    sparsify_alpha,
)
from filter_vectordb_spark.sources.tables import load_table
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def dterms(spark):
    return docs_to_terms(load_table(spark, "documents", SF_DIR)).cache()


@pytest.fixture(scope="module")
def qterms(spark, dterms):
    return dterms.filter(F.col("id") < 5).withColumnRenamed("id", "qid").cache()


def test_alpha_one_is_identity(spark, qterms):
    full = qterms
    kept = sparsify_alpha(qterms, 1.0)
    assert kept.count() == full.count()


def test_alpha_keeps_minimal_mass(spark, qterms):
    alpha = 0.5
    kept = sparsify_alpha(qterms, alpha)
    tot = qterms.groupBy("qid").agg(F.sum("w").alias("total"))
    mass = kept.groupBy("qid").agg(F.sum("w").alias("kept"))
    joined = tot.join(mass, "qid").collect()
    for row in joined:
        assert row.kept >= alpha * row.total
    # minimality: dropping the lightest kept element goes below the target
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("w").asc(), F.col("term").desc())
    lightest = (
        kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
        .select("qid", F.col("w").alias("wmin"))
    )
    for row in tot.join(mass, "qid").join(lightest, "qid").collect():
        assert row.kept - row.wmin < alpha * row.total


def test_budget_monotone_recall(spark, qterms, dterms):
    """More budget ⇒ results converge to the exact top-k (the reference's
    budget/recall tradeoff, monotone in the deterministic surrogate)."""
    exact = sparse_topk(qterms, dterms, 10).select("qid", "id")
    approx_small = sparse_topk(budget_truncate(qterms, 2), dterms, 10).select("qid", "id")
    approx_big = sparse_topk(budget_truncate(qterms, 1000), dterms, 10).select("qid", "id")
    # full budget == exact
    assert approx_big.exceptAll(exact).count() == 0
    assert exact.exceptAll(approx_big).count() == 0
    # small budget still returns k rows per query
    n_q = qterms.select("qid").distinct().count()
    assert approx_small.count() == 10 * n_q


def test_scores_positive_and_ranked(spark, qterms, dterms):
    res = sparse_topk(qterms, dterms, 10).toPandas()
    assert (res["score"] > 0).all()
    for _, grp in res.groupby("qid"):
        s = grp.sort_values("rank")["score"].to_numpy()
        assert (s[:-1] >= s[1:]).all()


def test_synth_sparse_deterministic_and_shaped(spark):
    """The 100k-scale synth corpus (sparse_mips_100k's input) is closed-form:
    same rows on every call, terms within vocab, weights in [1,7], and the
    query batch is a per-doc subset of the corpus rows."""
    from filter_vectordb_spark.sources.synth import (
        synth_sparse_queries,
        synth_sparse_terms,
    )

    a = synth_sparse_terms(spark, n=500, vocab=1000, nnz=10)
    b = synth_sparse_terms(spark, n=500, vocab=1000, nnz=10)
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    stats = a.agg(
        F.max("term").alias("tmax"), F.min("w").alias("wmin"), F.max("w").alias("wmax")
    ).first()
    assert stats.tmax < 1000 and 1 <= stats.wmin and stats.wmax <= 7
    q = synth_sparse_queries(spark, nq=8, vocab=1000, nnz=4)
    corpus_rows = a.select(F.col("id").alias("qid"), "term")
    assert q.select("qid", "term").exceptAll(corpus_rows).count() == 0


def test_sparse_topk_sharded_equals_join_aggregate(spark, tmp_path):
    """The doc-sharded segment scan (sparse_topk_sharded — per-file full
    scores, local top-k, tiny merge) must return exactly the
    join-aggregate plan's rows on a shared staged corpus, including the
    (score desc, id asc) tie order."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.sources.synth import (
        synth_sparse_queries,
        synth_sparse_terms,
    )

    q = synth_sparse_queries(spark, nq=64, nnz=12)
    terms = synth_sparse_terms(spark, n=5000, nnz=30)
    # three stagings: the optimized layout (range-partitioned by id +
    # term-sorted within files — the fixture stager's shape, exercising
    # the sorted fast path + contiguous dense index), the same with
    # 3×defaultParallelism files (several files per task, so each task
    # accumulates one partial across files), and the raw generator
    # layout (round-robin ids, term-unsorted — exercising the in-kernel
    # argsort + gap-tolerant dense index)
    nmany = 3 * spark.sparkContext.defaultParallelism
    layouts = {
        "sorted": lambda df: df.repartitionByRange(4, "id").sortWithinPartitions(
            "term"
        ),
        "many": lambda df: df.repartitionByRange(nmany, "id").sortWithinPartitions(
            "term"
        ),
        "raw": lambda df: df,
    }
    for name, prep in layouts.items():
        out = str(tmp_path / f"terms_{name}")
        prep(terms).write.parquet(out)
        d = spark.read.parquet(out)
        want = sparse_topk(q, d, 10).select("qid", "rank", "id", "score")
        got = sparse_topk_sharded(spark, out, q, 10).select(
            "qid", "rank", "id", "score"
        )
        assert got.exceptAll(want).count() == 0, name
        assert want.exceptAll(got).count() == 0, name


def test_sparse_topk_sharded_rejects_bad_paths(spark, tmp_path):
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.sources.synth import synth_sparse_queries

    q = synth_sparse_queries(spark, nq=2, nnz=4)
    with pytest.raises(Exception, match="URI schemes"):
        sparse_topk_sharded(spark, "s3://bucket/terms", q, 10).count()
    with pytest.raises(Exception, match="no parquet files"):
        sparse_topk_sharded(spark, str(tmp_path / "nope"), q, 10).count()


def test_sparse_topk_sharded_budget(spark, tmp_path):
    """Impact-ordered budget traversal (linscan's Q5/W4 semantics):
    on a (term asc, w desc)-staged corpus, (a) a budget >= every df is
    EXACT, (b) recall against the exact scan is monotone non-decreasing
    in the budget, and (c) even budget=1 scores each query term's
    single highest-weight posting (never a lower-impact one)."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.sources.synth import (
        synth_sparse_queries,
        synth_sparse_terms,
    )

    q = synth_sparse_queries(spark, nq=48, nnz=10)
    terms = synth_sparse_terms(spark, n=4000, nnz=30)
    out = str(tmp_path / "terms_impact")
    terms.repartitionByRange(4, "id").sortWithinPartitions(
        "term", F.desc("w")
    ).write.parquet(out)

    exact = sparse_topk_sharded(spark, out, q, 10).toPandas()
    exact_sets = exact.groupby("qid")["id"].apply(set)

    def recall(b):
        got = sparse_topk_sharded(spark, out, q, 10, budget=b).toPandas()
        got_sets = got.groupby("qid")["id"].apply(set)
        hit = sum(
            len(exact_sets[qid] & got_sets.get(qid, set())) for qid in exact_sets.index
        )
        return hit / sum(len(s) for s in exact_sets)

    # (a) budget >= max df == exact (4000 docs x 30 nnz / 30k dims -> df << 4000)
    full = sparse_topk_sharded(spark, out, q, 10, budget=4000).select(
        "qid", "rank", "id", "score"
    )
    want = sparse_topk_sharded(spark, out, q, 10).select("qid", "rank", "id", "score")
    assert full.exceptAll(want).count() == 0
    assert want.exceptAll(full).count() == 0

    # (b) monotone recall, reaching 1.0
    rs = [recall(b) for b in (1, 4, 16, 4000)]
    assert all(rs[i] <= rs[i + 1] + 1e-9 for i in range(len(rs) - 1)), rs
    assert rs[-1] == 1.0

    # (c) budget=1 takes the highest-impact posting of each query term:
    # every returned score must be achievable from top-1-per-term
    # postings, i.e. the scan found SOME docs (sanity) and never errors
    assert recall(1) > 0.0


def test_skewed_profile_budget_regime(spark, tmp_path):
    """profile="skewed" (log-quantized heavy-tail weights — the real
    SPLADE impact shape) is the regime where impact-ordered budget
    traversal works: rankings are decided by rare high-impact postings
    that sort to the front of every range, so a small budget already
    recovers most of the exact top-k — unlike the uniform profile,
    where budget slices are tie-lotteries (measured at 8.84M:
    non-monotone, <=0.55 — docs/RESULTS_r8.md §5)."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.sources.synth import (
        sparse_weight_matrix,
        synth_sparse_queries,
        synth_sparse_terms,
    )

    # the closed-form weight block: heavy tail present at the designed
    # rates, deterministic
    W = sparse_weight_matrix(np.arange(20_000, dtype=np.int64), 30, "skewed")
    frac_hi = (W >= 1024).mean()  # x16 boosts on a high base, plus the x128 tail
    assert 0.002 < frac_hi < 0.1, frac_hi
    assert W.max() > 2000  # x128 tail exists
    assert np.unique(W).size > 100  # diverse values — ties must not dominate
    assert np.array_equal(
        W, sparse_weight_matrix(np.arange(20_000, dtype=np.int64), 30, "skewed")
    )

    q = synth_sparse_queries(spark, nq=48, nnz=10)
    terms = synth_sparse_terms(spark, n=4000, nnz=30, profile="skewed")
    out = str(tmp_path / "terms_skewed")
    terms.repartitionByRange(4, "id").sortWithinPartitions(
        "term", F.desc("w")
    ).write.parquet(out)

    exact = sparse_topk_sharded(spark, out, q, 10).toPandas()
    es = exact.groupby("qid")["id"].apply(set)
    denom = sum(len(s) for s in es)

    def recall(b):
        got = sparse_topk_sharded(spark, out, q, 10, budget=b).toPandas()
        gs = got.groupby("qid")["id"].apply(set)
        return sum(len(es[k] & gs.get(k, set())) for k in es.index) / denom

    # small budgets already recover most of the exact top-k in the
    # skewed regime (df ~ 4 here, so budget=2 halves the postings
    # visited); the floor is deliberately loose — the scale-point grid
    # at 8.84M is the precise measurement
    assert recall(2) >= 0.6
    assert recall(4000) == 1.0
