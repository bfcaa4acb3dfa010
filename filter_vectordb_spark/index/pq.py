"""Product quantization (PQ) — the memory-scale codec for dense ANN;
index/ivf.py composes it with the coarse lists and the exact rescore.

Reference anchor: the reference's DiskANN track carries PQ build knobs but
runs with them off at its 10M/64-d scale (`ood/diskann/diskann-in-mem.py:
90-92`, `use_pq_build=False, num_pq_bytes=0`); its filter track compresses
scalar-wise instead (faiss `IVF16384,SQ8`, `filter/faiss/faiss.py:133`).
At 100 TB of float32 embeddings neither raw vectors nor SQ8 fit cluster
memory; PQ codes (nsub bytes per vector, a 4·d/nsub× compression) do.
The classic ADC decomposition (Jégou et al., "Product Quantization for
Nearest Neighbor Search", TPAMI 2011):

  train  = per-subspace k-means on a contractually-capped deterministic
           sample (driver-side numpy Lloyd's — faiss trains PQ on a
           sample the same way; the codebook is nsub·ksub·dsub floats,
           kilobytes, a broadcast variable not a dataset).
  encode = one mapInArrow pass over the base: argmin centroid per
           subspace → (id, codes ARRAY<TINYINT>), ~nsub bytes/row.
  score  = ADC (asymmetric distance computation): per query an
           (nsub × ksub) lookup table of exact subspace distances, then
           approx dist = Σ_s LUT[s, code_s] over the CODES only.  L2
           only; the cut's recall is pinned in tests/test_pq.py and the
           composed plan is oracle-checked (`pq_adc_knn`, `ivfpq_knn`).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.index.ivf import Codec, encode_codes
from filter_vectordb_spark.operators.knn import flatten_fixed_list, topk_blocked

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
    tbl = (
        base.select(F.col(b_id).alias("id"), F.col(b_vec).alias("emb"))
        .orderBy("id")
        .limit(MAX_TRAIN_ROWS)
        .toArrow()
    )
    X = flatten_fixed_list(tbl.column("emb"), tbl.num_rows).astype(np.float64)
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
    cn = (codebooks * codebooks).sum(axis=2)  # (nsub, ksub) centroid sq-norms

    def codes_of(X):
        codes = np.empty((len(X), nsub), dtype=np.int8)
        for s in range(nsub):
            Xs = X[:, s * dsub : (s + 1) * dsub]
            # ‖x‖² is constant per row for the argmin — skip it
            D = cn[s][None, :] - 2.0 * (Xs @ codebooks[s].T)
            codes[:, s] = D.argmin(axis=1)
        return codes

    return encode_codes(base, codes_of, b_id, b_vec)


def write_codebooks(spark: SparkSession, codebooks: np.ndarray, path: str) -> None:
    """Persist the codebook long-form (sub, cid, center) — reloadable
    without pickles; shared by the PQ and IVF+PQ layouts."""
    nsub, ksub, _ = codebooks.shape
    rows = [
        (s, c, [float(x) for x in codebooks[s, c]])
        for s in range(nsub)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        rows, "sub INT, cid INT, center ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(path)


def read_codebooks(spark: SparkSession, path: str) -> np.ndarray:
    cpdf = spark.read.parquet(path).toPandas()
    sub, cid = cpdf["sub"].to_numpy(), cpdf["cid"].to_numpy()
    cb = np.empty((sub.max() + 1, cid.max() + 1, len(cpdf["center"].iloc[0])))
    cb[sub, cid] = np.stack(cpdf["center"].to_numpy())
    return cb


def pq_codec(codebooks: np.ndarray) -> Codec:
    """The ADC codec over one codebook set (L2 only)."""

    def prepare(Q, metric):
        # LUT[q, s, c] = ‖q_s − C[s,c]‖² — exact subspace distances, so
        # the ADC error is purely the base-side quantization error
        nsub, ksub, dsub = codebooks.shape
        LUT = np.empty((len(Q), nsub, ksub), dtype=np.float64)
        for s in range(nsub):
            Qs = Q[:, s * dsub : (s + 1) * dsub]
            LUT[:, s, :] = (
                (Qs * Qs).sum(axis=1)[:, None]
                - 2.0 * (Qs @ codebooks[s].T)
                + (codebooks[s] * codebooks[s]).sum(axis=1)[None, :]
            )
        return LUT

    def score(LUT, pos, codes, metric, kk):
        M = codes.astype(np.int64)
        L = LUT[pos]  # (np, nsub, ksub)
        # accumulate D in (nq, nb) orientation — per-row selection then
        # runs on contiguous memory
        D = np.zeros((len(pos), len(M)), dtype=np.float64)
        for s in range(L.shape[1]):
            D += L[:, s, :][:, M[:, s]]
        part = topk_blocked(D, kk)
        return part, D[np.arange(len(pos))[:, None], part]

    return Codec("pq", "codes", ("l2",), False, prepare, score, (codebooks,))

