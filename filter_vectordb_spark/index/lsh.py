"""Random-hyperplane LSH for cosine ANN (similarity-search scale path).

Complements IVF (index/ivf.py): sign-of-projection bucketing for cosine
similarity.  Each vector gets `n_bits` sign bits from fixed seeded
hyperplanes (one bucket key per band of bits); queries probe their own
buckets and exact-score only co-bucketed vectors — the same
bucket-then-verify shape as MinHash dedup, applied to embeddings.

Deterministic: hyperplanes come from a seeded RandomState, broadcast to
executors; bucketing is a map-side Arrow kernel (no shuffle until the
candidate join).  Approximate by design → verified by recall tests
against the exact cosine plan (SURVEY.md §5 methodology), rows-only at
the driver gate.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import flatten_fixed_list, pairwise_scores
from filter_vectordb_spark.operators.topk import per_group_topk

N_BITS = 16
N_BANDS = 4  # 4 bits per band → 4 probe keys per vector
BITS_PER_BAND = N_BITS // N_BANDS


def _hyperplanes(dim: int, seed: int = 42) -> np.ndarray:
    return np.random.RandomState(seed).normal(size=(N_BITS, dim))


def _band_keys(X: np.ndarray, H: np.ndarray) -> np.ndarray:
    """(n, N_BANDS) int64 bucket keys: sign bits packed per band, salted
    with the band index so keys from different bands never collide."""
    bits = (X @ H.T) > 0  # (n, N_BITS)
    keys = np.zeros((len(X), N_BANDS), dtype=np.int64)
    for b in range(N_BANDS):
        chunk = bits[:, b * BITS_PER_BAND : (b + 1) * BITS_PER_BAND]
        packed = chunk @ (1 << np.arange(BITS_PER_BAND))
        keys[:, b] = (b << 32) | packed
    return keys


def lsh_bucket_table(
    emb: DataFrame, dim: int, id_col: str = "id", vec_col: str = "emb", seed: int = 42
) -> DataFrame:
    """(id, bucket) — N_BANDS rows per vector, computed map-side."""
    H = _hyperplanes(dim, seed)
    bc = emb.sparkSession.sparkContext.broadcast(H)

    def kernel(it):
        import pyarrow as pa

        bH = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column(vec_col), batch.num_rows).astype(np.float64)
            keys = _band_keys(X, bH)
            ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {
                    "id": np.repeat(ids, N_BANDS),
                    "bucket": keys.ravel(),
                }
            )

    return emb.select(F.col(id_col).alias(id_col), F.col(vec_col).alias(vec_col)).mapInArrow(
        kernel, schema="id BIGINT, bucket BIGINT"
    )


def lsh_cosine_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    dim: int,
    seed: int = 42,
    base_buckets: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k: co-bucket join → exact rescoring of
    candidates (pairwise_scores, so `emb` may be a list or the raw uint8
    BINARY layout) → per-query top-k.  queries(qid, qemb), base(id, emb).

    Pass `base_buckets` (a saved `lsh_bucket_table` output) to serve from
    a prebuilt index instead of re-bucketing the base per call — the
    fit()/query() split the reference's runner makes (`filter/run.py:15-52`).
    """
    qb = lsh_bucket_table(queries, dim, "qid", "qemb", seed).withColumnRenamed(
        "id", "qid"
    )
    bb = base_buckets if base_buckets is not None else lsh_bucket_table(base, dim, "id", "emb", seed)
    cand = bb.join(F.broadcast(qb), "bucket").select("qid", "id").distinct()
    scored = pairwise_scores(
        cand.join(base, "id").join(F.broadcast(queries), "qid"), "cos"
    ).withColumnRenamed("dist", "sim")
    return per_group_topk(
        scored, ["qid"], [F.col("sim").desc(), F.col("id").asc()], k
    ).select("qid", "id", "sim", "rank")
