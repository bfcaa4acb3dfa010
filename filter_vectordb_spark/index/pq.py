"""Product-quantization (PQ) index — the memory-scale path for dense ANN.

Reference anchor: the reference's DiskANN track carries PQ build knobs but
runs with them off at its 10M/64-d scale (`ood/diskann/diskann-in-mem.py:
90-92`, `use_pq_build=False, num_pq_bytes=0`); its filter track compresses
scalar-wise instead (faiss `IVF16384,SQ8`, `filter/faiss/faiss.py:133`).
At 100 TB of float32 embeddings neither raw vectors nor SQ8 fit cluster
memory; PQ codes (nsub bytes per vector, a 4·d/nsub× compression) do —
which is exactly why DiskANN ships the knob.  We implement the classic
IVFADC decomposition (Jégou et al., "Product Quantization for Nearest
Neighbor Search", TPAMI 2011) as Spark tables:

  train  = per-subspace k-means on a contractually-capped deterministic
           sample (driver-side numpy Lloyd's — faiss trains PQ on a
           sample the same way; the codebook is nsub·ksub·dsub floats,
           kilobytes, a broadcast variable not a dataset).
  encode = one Arrow mapInPandas pass over the base: argmin centroid per
           subspace → (id, codes ARRAY<TINYINT>).  The codes table IS
           the index; saved as parquet it is ~nsub bytes/row.
  search = ADC (asymmetric distance computation): per query build an
           (nsub × ksub) lookup table of exact subspace distances, then
           scan CODES ONLY — approx dist = Σ_s LUT[s, code_s] — with the
           same per-batch partial top-R / global top-R two-phase merge as
           the exact k-NN (W3).  Survivors (nq×R rows) are exactly
           rescored against their true vectors via a broadcast semi-join
           (only R of n rows of the float table are touched) and the
           final top-k is exact over that candidate set.

Scale posture (100 TB): the full-corpus pass reads the codes table only
(1.6 TB at nsub=16 for 100 TB of 1536-d float32 — broadcastable across a
1000-executor cluster's page cache); the float table is touched for
nq×R rows via a pruned id join.  No shuffle carries more than nq×R rows.
Exactness: with refine R ≥ k the result equals brute-force k-NN whenever
the true top-k survive the ADC cut; recall of the cut is pinned in
tests/test_pq.py and the composed plan is oracle-checked at fixture
scale (`pq_adc_knn`).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import pairwise_l2_scores
from filter_vectordb_spark.operators.topk import per_group_topk

#: train on at most this many rows (lowest ids — deterministic), mirroring
#: faiss's practice of training quantizers on a bounded sample
MAX_TRAIN_ROWS = 4096


def _lloyd(X: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic Lloyd's k-means: init = k evenly-spaced rows of the
    sample ordered by (‖x‖², coords) — no RNG, so training is bit-stable
    across runs and partitionings.  Empty clusters reseed to the point
    farthest from its centroid (deterministic argmax)."""
    n = len(X)
    order = np.lexsort(tuple(X.T[::-1]) + ((X * X).sum(axis=1),))
    idx = order[np.round(np.linspace(0, n - 1, k)).astype(int)]
    C = X[idx].astype(np.float64).copy()
    for _ in range(iters):
        D = ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1)
        assign = D.argmin(axis=1)
        far = D.min(axis=1).argmax()
        for j in range(k):
            m = assign == j
            C[j] = X[m].mean(axis=0) if m.any() else X[far]
    return C


def train_pq(
    base: DataFrame,
    nsub: int,
    ksub: int,
    iters: int = 10,
    b_id: str = "id",
    b_vec: str = "emb",
) -> np.ndarray:
    """Returns codebooks (nsub, ksub, dsub) float64.  Sample = the
    MAX_TRAIN_ROWS lowest-id rows (deterministic; the quantizer needs a
    distribution sketch, not the corpus)."""
    pdf = (
        base.select(F.col(b_id).alias("id"), F.col(b_vec).alias("emb"))
        .orderBy("id")
        .limit(MAX_TRAIN_ROWS)
        .toPandas()
    )
    X = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
    d = X.shape[1]
    if d % nsub != 0:
        raise ValueError(f"dim {d} not divisible by nsub {nsub}")
    dsub = d // nsub
    return np.stack(
        [_lloyd(X[:, s * dsub : (s + 1) * dsub], ksub, iters) for s in range(nsub)]
    )


def encode_pq(
    base: DataFrame,
    codebooks: np.ndarray,
    b_id: str = "id",
    b_vec: str = "emb",
) -> DataFrame:
    """(id BIGINT, codes ARRAY<TINYINT>) — one Arrow pass over the base;
    the codebook rides the task closure (kilobytes).  Ties in the argmin
    resolve to the lowest centroid id (numpy argmin), deterministically."""
    nsub, ksub, dsub = codebooks.shape
    cb = codebooks  # closure capture
    cn = (cb * cb).sum(axis=2)  # (nsub, ksub) centroid sq-norms

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[b_vec].to_numpy()).astype(np.float64)
            codes = np.empty((len(X), nsub), dtype=np.int8)
            for s in range(nsub):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                # ‖x‖² is constant per row for the argmin — skip it
                D = cn[s][None, :] - 2.0 * (Xs @ cb[s].T)
                codes[:, s] = D.argmin(axis=1)
            yield pd.DataFrame(
                {"id": pdf[b_id].to_numpy(dtype=np.int64), "codes": list(codes)}
            )

    return base.select(b_id, b_vec).mapInPandas(
        enc, schema="id long, codes array<tinyint>"
    )


def save_pq(codes: DataFrame, codebooks: np.ndarray, out_dir: str) -> None:
    """S5 index save: codes as a lake table + the codebook long-form
    (sub, cid, center) — both reloadable without pickles."""
    codes.write.mode("overwrite").parquet(f"{out_dir}/codes")
    spark = codes.sparkSession
    nsub, ksub, _ = codebooks.shape
    rows = [
        (s, c, [float(x) for x in codebooks[s, c]])
        for s in range(nsub)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        rows, "sub INT, cid INT, center ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(f"{out_dir}/codebooks")


def load_pq(spark: SparkSession, out_dir: str) -> tuple[DataFrame, np.ndarray]:
    codes = spark.read.parquet(f"{out_dir}/codes")
    cpdf = spark.read.parquet(f"{out_dir}/codebooks").toPandas()
    nsub = int(cpdf["sub"].max()) + 1
    ksub = int(cpdf["cid"].max()) + 1
    dsub = len(cpdf["center"].iloc[0])
    cb = np.empty((nsub, ksub, dsub), dtype=np.float64)
    for _, r in cpdf.iterrows():
        cb[int(r["sub"]), int(r["cid"])] = np.asarray(r["center"])
    return codes, cb


def adc_scores(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    refine: int,
    q_id: str = "qid",
    q_vec: str = "qemb",
) -> DataFrame:
    """(qid, id, adist): per-batch partial top-`refine` under the ADC
    approximation — only nq×refine rows per Arrow batch leave the codes
    scan (the W3 two-phase shape; global merge is the caller's top-k).

    Above the broadcast cap the query set is sliced into ≤cap chunks and
    the scored streams unioned — same contract as knn_join; the query
    side streams through the driver O(chunk) at a time."""
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    return union_query_chunks_df(
        queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb")),
        lambda ch: _adc_scores_chunk(ch, codes, codebooks, refine),
        "qid LONG, id LONG, adist DOUBLE",
    )


def _adc_scores_chunk(
    qpdf: pd.DataFrame, codes: DataFrame, codebooks: np.ndarray, refine: int
) -> DataFrame:
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    nsub, ksub, dsub = codebooks.shape
    # LUT[q, s, c] = ‖q_s − C[s,c]‖² — exact subspace distances, so the ADC
    # error is purely the base-side quantization error
    LUT = np.empty((len(Q), nsub, ksub), dtype=np.float64)
    for s in range(nsub):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        LUT[:, s, :] = (
            (Qs * Qs).sum(axis=1)[:, None]
            - 2.0 * (Qs @ codebooks[s].T)
            + (codebooks[s] * codebooks[s]).sum(axis=1)[None, :]
        )

    def scan(it):
        from filter_vectordb_spark.operators.knn import (
            TaskPartials,
            flatten_fixed_list,
            topk_blocked,
        )

        out = TaskPartials(refine, len(qids), False, "adist")
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            M = flatten_fixed_list(batch.column("codes"), nb).astype(np.int64)
            # accumulate D in (nq, nb) orientation — per-row selection then
            # runs on contiguous memory (same s-order addends as the old
            # (nb, nq) loop, so adist is bit-identical)
            D = np.zeros((len(qids), nb), dtype=np.float64)
            for s in range(nsub):
                D += LUT[:, s, M[:, s]]
            part = topk_blocked(D, refine)
            out.add_topk(qids, ids, part, D[np.arange(len(qids))[:, None], part])
        yield from out.emit()

    return codes.mapInArrow(scan, schema="qid long, id long, adist double")


def pq_adc_search(
    queries: DataFrame,
    codes: DataFrame,
    codebooks: np.ndarray,
    base: DataFrame,
    k: int,
    refine: int,
    q_id: str = "qid",
    q_vec: str = "qemb",
    b_id: str = "id",
    b_vec: str = "emb",
) -> DataFrame:
    """ADC cut to `refine` candidates per query, exact L2² rescore of the
    survivors only, final top-k.  Returns (qid, id, dist, rank) — equal to
    brute-force k-NN whenever the true top-k survive the cut (recall of
    the cut pinned in tests/test_pq.py)."""
    scored = adc_scores(queries, codes, codebooks, refine, q_id=q_id, q_vec=q_vec)
    cand = per_group_topk(
        scored, ["qid"], [F.col("adist").asc(), F.col("id").asc()], refine
    ).select("qid", "id")
    # pruned gather: only nq×refine rows of the float table are read
    b = base.select(F.col(b_id).alias("id"), F.col(b_vec).alias("emb"))
    q = queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb"))
    pairs = b.join(F.broadcast(cand), "id").join(F.broadcast(q), "qid")
    exact = pairwise_l2_scores(pairs)
    return per_group_topk(
        exact, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")
