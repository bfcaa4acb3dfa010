"""Property-based differential test: knn_join vs a pure-numpy brute force
on randomized inputs (hypothesis drives shapes/values; mirrors the
reference's kernel-vs-oracle differential test,
`filter/uint8_knn_file/test.py:14-24`)."""

from __future__ import annotations

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from filter_vectordb_spark.operators.knn import knn_join


def numpy_knn(Q, X, k):
    d2 = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)
    out = []
    for qi in range(len(Q)):
        order = np.lexsort((np.arange(len(X)), d2[qi]))[:k]
        out.append(order)
    return out


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(5, 60),
    d=st.integers(2, 16),
    k=st.integers(1, 10),
    seed=st.integers(0, 2**31 - 1),
    dup_rows=st.booleans(),
)
def test_knn_matches_numpy(spark, n, d, k, seed, dup_rows):
    rng = np.random.RandomState(seed)
    X = rng.randint(0, 8, size=(n, d)).astype(np.float64)  # coarse grid → ties
    if dup_rows:
        X[1] = X[0]  # exact duplicates exercise the id tiebreak
    Q = X[:3]
    base = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id BIGINT, emb ARRAY<FLOAT>",
    )
    queries = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(Q)],
        "qid BIGINT, qemb ARRAY<FLOAT>",
    )
    got = (
        knn_join(queries, base, k, strategy="vectorized")
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    expect = numpy_knn(Q, X, k)
    for qi in range(len(Q)):
        ids = got[got["qid"] == qi]["id"].tolist()
        assert ids == list(expect[qi]), (qi, ids, list(expect[qi]))


def test_fixture_tie_gap_dwarfs_dot_trick_error():
    """The vectorized path scores L2 via the BLAS dot trick
    (‖x‖² − 2x·q + ‖q‖²) while the oracle folds (x−q)² sequentially; on
    near-TIED distances f64 rounding could flip rank order between them.
    That cannot happen as long as the fixture's smallest distinct-distance
    gap per query dwarfs the trick-vs-fold discrepancy — pin exactly that,
    so a fixture or kernel change that erodes the margin fails loudly
    instead of surfacing as a mysterious oracle hash mismatch."""
    import pyarrow.parquet as pq

    t = pq.read_table("/root/testdata/sf0.001/embeddings.parquet")
    X = np.stack(t["embedding"].to_numpy()).astype(np.float64)
    Q = X[:8]
    fold = ((Q[:, None, :] - X[None, :, :]) ** 2).sum(-1)  # (nq, n)
    trick = (
        (X * X).sum(1)[None, :] - 2.0 * (Q @ X.T) + (Q * Q).sum(1)[:, None]
    )
    err = np.abs(fold - trick).max()
    gaps = []
    for qi in range(len(Q)):
        d = np.sort(fold[qi])
        dd = np.diff(d)
        gaps.append(dd[dd > 0].min())
    margin = min(gaps) / max(err, 1e-300)
    assert margin > 1e3, (min(gaps), err, margin)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(8, 50),
    d=st.integers(2, 12),
    k=st.integers(1, 8),
    seed=st.integers(0, 2**31 - 1),
)
def test_sq_search_matches_numpy_brute_force(spark, n, d, k, seed):
    """SQ8 encode → reconstruct-cut (full refine) → exact rescore must
    equal brute force on arbitrary float data, and every component must
    reconstruct within half a grid step — the codec's contract beyond
    the fixture distributions."""
    from filter_vectordb_spark.index.ivf import search
    from filter_vectordb_spark.index.sq import encode_sq, sq_codec, train_sq

    rng = np.random.RandomState(seed)
    X = (rng.randn(n, d) * rng.uniform(0.1, 50)).astype(np.float64)
    Q = X[:2] + rng.randn(2, d) * 0.01
    base = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(X)],
        "id BIGINT, emb ARRAY<FLOAT>",
    )
    # schema cast float32 → recompute the effective corpus the engine sees
    Xf = np.stack(base.toPandas()["emb"].to_numpy()).astype(np.float64)
    queries = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(Q)],
        "qid BIGINT, qemb ARRAY<FLOAT>",
    )
    Qf = np.stack(queries.toPandas()["qemb"].to_numpy()).astype(np.float64)
    vmin, vmax = train_sq(base)
    scale = (vmax - vmin) / 255.0
    codes = encode_sq(base, vmin, vmax)
    pdf = codes.join(base, "id").toPandas()
    C = np.stack(pdf["codes"].to_numpy()).astype(np.float64) + 128.0
    Xd = vmin[None, :] + C * np.where(scale == 0, 1.0, scale)[None, :]
    Xo = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
    assert (np.abs(Xo - Xd) <= np.maximum(scale, 0.0)[None, :] / 2 + 1e-9).all()

    # full refine (= n) makes the cut lossless → exact equality
    got = (
        search(queries, codes, None, sq_codec(vmin, vmax), base, k, 1, n)
        .toPandas()
        .sort_values(["qid", "rank"])
    )
    d2 = ((Qf[:, None, :] - Xf[None, :, :]) ** 2).sum(-1)
    for qi in range(len(Qf)):
        want = np.lexsort((np.arange(n), d2[qi]))[:k]
        have = got[got["qid"] == qi].sort_values("rank")["id"].to_numpy()
        assert list(have) == list(want), (qi, have, want)
