"""SQ8 scalar quantization — the faiss `IVF16384,SQ8` codec surface
(`filter/faiss/faiss.py:133`) as Spark tables.

Where PQ (index/pq.py) maps a subspace to one of ksub learned centroids,
SQ8 quantizes each component independently to one byte on a per-dimension
affine grid:

  train  = exact per-dimension (min, max) over the corpus — one
           map-side-combined aggregation (d rows per Arrow batch leave
           the scan, d rows total shuffle); no RNG, bit-deterministic.
  encode = code_j = round(255 · (x_j − vmin_j) / (vmax_j − vmin_j)),
           clipped to [0, 255], stored −128 so the byte fits Spark's
           signed TINYINT — a d-byte row, 4× smaller than float32.
  search = reconstruction ADC: decode each batch back to
           x̂_j = vmin_j + code_j · scale_j and score ‖q − x̂‖² at BLAS
           speed — the scan reads the 1-byte codes table, never the
           float table (faiss's SQ distance computers reconstruct the
           same way).  Per-batch partial top-`refine`, global merge,
           then the survivors (nq×refine rows) are exactly rescored via
           a pruned join against the float table and the final top-k is
           exact over that candidate set — the pq_adc_search two-phase
           shape (W3).

Scale posture (100 TB of 1536-d float32): the codes table is 25 TB —
4× less I/O on the only full-corpus pass; everything downstream moves
nq×refine rows.  Exactness: equal to brute-force k-NN whenever the true
top-k survive the SQ cut (SQ8's per-component error is ≤ scale/2, far
tighter than PQ's subspace error; refine=64 achieves recall 1.0 on the
fixtures — pinned in tests/test_sq.py).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import pairwise_l2_scores
from filter_vectordb_spark.operators.topk import per_group_topk


def train_sq(
    base: DataFrame, b_vec: str = "emb", snap_integer: bool = True
) -> tuple[np.ndarray, np.ndarray]:
    """(vmin, vmax) float64[d] — exact per-dimension extrema of the corpus.

    One Arrow pass emits d (pos, min, max, allint) rows per batch; the
    final groupBy moves d·nbatches tiny rows — no full-corpus shuffle.
    faiss trains SQ on a sample; exact extrema are just as cheap here
    and make the codec deterministic.

    snap_integer: when EVERY component of the corpus is integer-valued
    and every dimension's range fits 255, widen vmax to vmin+255 so the
    affine grid's scale is exactly 1 — the codec becomes LOSSLESS
    (code = x − vmin roundtrips exactly), which is the uint8-corpus
    regime of the reference's filter track (yfcc is 192-d uint8).  A
    lossless grid lets search take the ADC scores as EXACT and skip the
    refine+rescore half of the pipeline (ivfsq_search(exact_codes=)).
    Non-integer corpora are never snapped: for data spanning less than
    255 the un-snapped grid is strictly finer."""

    def partial(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[b_vec].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "pos": np.arange(X.shape[1], dtype=np.int32),
                    "mn": X.min(axis=0),
                    "mx": X.max(axis=0),
                    "allint": np.full(
                        X.shape[1], bool(np.array_equal(X, np.rint(X)))
                    ),
                }
            )

    stats = (
        base.select(b_vec)
        .mapInPandas(partial, schema="pos int, mn double, mx double, allint boolean")
        .groupBy("pos")
        .agg(
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
            F.min("allint").alias("allint"),
        )
        .toPandas()
        .sort_values("pos")
    )
    vmin = stats["mn"].to_numpy()
    vmax = stats["mx"].to_numpy()
    if (
        snap_integer
        and len(stats)
        and bool(stats["allint"].all())
        and float((vmax - vmin).max(initial=0.0)) <= 255.0
    ):
        if vmin.min(initial=0.0) >= -255.0 and vmax.max(initial=0.0) <= 255.0:
            # servable regime (|x| ≤ 255): anchor the grid at ≤ 0 so the
            # DECODABLE set [lo, lo+255] ⊆ [−255, 255] — the certificate
            # is_lossless_grid checks is then provable from the grid
            # alone (feasible here: range ≤ 255 and vmax ≤ 255 make
            # lo = min(vmin, 0) cover every observed value)
            vmin = np.minimum(vmin, 0.0)
        vmax = vmin + 255.0
    elif len(stats) and np.array_equal(vmin, np.rint(vmin)) and np.all(
        vmax - vmin == 255.0
    ):
        # Coincidence-proof the lossless certificate (ADVICE r6): a
        # NON-integer corpus whose per-dim extrema happen to be integers
        # exactly 255 apart would otherwise produce the exact shape the
        # snap emits, and is_lossless_grid would wrongly certify its
        # lossy codes as exact.  Widen vmax by one ulp so the snapped
        # shape can only ever come from the snap itself (codec impact:
        # scale grows from 1 to 1+ε — immaterial for a lossy grid).
        vmax = np.nextafter(vmax, np.inf)
    return vmin, vmax


def is_lossless_grid(vmin: np.ndarray, vmax: np.ndarray) -> bool:
    """True iff serving straight from the codes is EXACT (the
    ivfsq_search(exact_codes=True) gate): the grid decodes the corpus
    losslessly AND the decoded values stay inside the f32-exact scoring
    regime.  Three conditions (ADVICE r6 strengthening):

    - integral vmin with scale exactly 1 (vmax == vmin + 255) on every
      dimension — the snap_integer outcome, which train_sq now emits
      ONLY after observing an all-integer corpus (a coincidental float
      shape is ulp-widened there), so this shape is a sound certificate
      of lossless codes;
    - vmin ≥ −255 and vmin + 255 ≤ 255 (i.e. −255 ≤ vmin ≤ 0) — every
      decodable value then has |x̂| ≤ 255, matching the query-side
      bound (_assert_integer_queries), so all f32 products (≤ 255²) and
      d ≤ 192 partial sums (< 2²⁴) are exactly representable.  An
      integer corpus of larger magnitude (e.g. values in [1000, 1255])
      decodes losslessly but its 'exact' f32 scores would silently
      round — refused here."""
    return bool(
        len(vmin)
        and np.array_equal(vmin, np.rint(vmin))
        and np.all(vmax - vmin == 255.0)
        and vmin.min() >= -255.0
        and vmin.max() <= 0.0
    )


def _scales(vmin: np.ndarray, vmax: np.ndarray) -> np.ndarray:
    scale = (vmax - vmin) / 255.0
    # constant dimensions encode to 0 and decode to vmin exactly
    scale[scale == 0.0] = 1.0
    return scale


def encode_sq(
    base: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    b_id: str = "id",
    b_vec: str = "emb",
) -> DataFrame:
    """(id BIGINT, codes ARRAY<TINYINT>) — codes stored −128 so the
    uint8 grid index fits Spark's signed TINYINT; one Arrow pass."""
    scale = _scales(vmin, vmax)
    lo = vmin.copy()

    def enc(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf[b_vec].to_numpy()).astype(np.float64)
            C = np.clip(np.rint((X - lo[None, :]) / scale[None, :]), 0, 255)
            codes = (C - 128).astype(np.int8)
            yield pd.DataFrame(
                {"id": pdf[b_id].to_numpy(dtype=np.int64), "codes": list(codes)}
            )

    return base.select(b_id, b_vec).mapInPandas(
        enc, schema="id long, codes array<tinyint>"
    )


def write_grid(
    spark: SparkSession, vmin: np.ndarray, vmax: np.ndarray, path: str
) -> None:
    """Persist the affine grid long-form (pos, mn, mx) — reloadable
    without pickles; shared by the SQ and IVF+SQ cache layouts."""
    rows = [(int(i), float(vmin[i]), float(vmax[i])) for i in range(len(vmin))]
    spark.createDataFrame(rows, "pos INT, mn DOUBLE, mx DOUBLE").write.mode(
        "overwrite"
    ).parquet(path)


def read_grid(spark: SparkSession, path: str) -> tuple[np.ndarray, np.ndarray]:
    g = spark.read.parquet(path).toPandas().sort_values("pos")
    return g["mn"].to_numpy(), g["mx"].to_numpy()


def save_sq(codes: DataFrame, vmin: np.ndarray, vmax: np.ndarray, out_dir: str) -> None:
    """S5 index save: codes as a lake table + the affine grid."""
    codes.write.mode("overwrite").parquet(f"{out_dir}/codes")
    write_grid(codes.sparkSession, vmin, vmax, f"{out_dir}/grid")


def load_sq(spark: SparkSession, out_dir: str) -> tuple[DataFrame, np.ndarray, np.ndarray]:
    codes = spark.read.parquet(f"{out_dir}/codes")
    return (codes, *read_grid(spark, f"{out_dir}/grid"))


def sq_scores(
    queries: DataFrame,
    codes: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    refine: int,
    q_id: str = "qid",
    q_vec: str = "qemb",
) -> DataFrame:
    """(qid, id, adist): reconstruction-L2² per batch, partial
    top-`refine` — only nq×refine rows per Arrow batch leave the scan."""
    from filter_vectordb_spark.operators.knn import union_query_chunks_df
    # float32 decode + scoring: the ADC stage nominates `refine`
    # candidates whose margin is SQ8 quantization error, orders of
    # magnitude above float32 rounding; survivors are exact-rescored in
    # float64 (sq_search) — same contract as the IVF+SQ8 scan
    scale32 = _scales(vmin, vmax).astype(np.float32)
    lo32 = vmin.astype(np.float32)

    def chunk_scores(qch: pd.DataFrame) -> DataFrame:
        qids = qch["qid"].to_numpy(dtype=np.int64)
        Q32 = np.stack(qch["qemb"].to_numpy()).astype(np.float32)
        qn = (Q32 * Q32).sum(axis=1)

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
                M = flatten_fixed_list(batch.column("codes"), nb).astype(
                    np.float32
                ) + np.float32(128.0)
                Xd = lo32[None, :] + M * scale32[None, :]  # decode (nb, d)
                G = Q32 @ Xd.T  # (nq, nb), C-contiguous
                D = qn[:, None] - 2.0 * G + (Xd * Xd).sum(axis=1)[None, :]
                np.maximum(D, np.float32(0.0), out=D)
                part = topk_blocked(D, refine)
                ad = D[np.arange(len(qids))[:, None], part].astype(np.float64)
                out.add_topk(qids, ids, part, ad)
            yield from out.emit()

        return codes.mapInArrow(scan, schema="qid long, id long, adist double")

    # shared above-the-cap chunk-and-union contract — query side streams
    # through the driver O(chunk) at a time (union_query_chunks_df)
    return union_query_chunks_df(
        queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb")),
        chunk_scores,
        "qid LONG, id LONG, adist DOUBLE",
    )


def sq_search(
    queries: DataFrame,
    codes: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    base: DataFrame,
    k: int,
    refine: int,
    q_id: str = "qid",
    q_vec: str = "qemb",
    b_id: str = "id",
    b_vec: str = "emb",
) -> DataFrame:
    """SQ cut to `refine` candidates per query, exact L2² rescore of the
    survivors only (pruned join touches nq×refine float rows), final
    top-k.  Returns (qid, id, dist, rank)."""
    scored = sq_scores(queries, codes, vmin, vmax, refine, q_id=q_id, q_vec=q_vec)
    cand = per_group_topk(
        scored, ["qid"], [F.col("adist").asc(), F.col("id").asc()], refine
    ).select("qid", "id")
    b = base.select(F.col(b_id).alias("id"), F.col(b_vec).alias("emb"))
    q = queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb"))
    pairs = b.join(F.broadcast(cand), "id").join(F.broadcast(q), "qid")
    exact = pairwise_l2_scores(pairs)
    return per_group_topk(
        exact, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")
