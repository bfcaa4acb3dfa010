"""SQ8 scalar quantization — the codec of the faiss `IVF16384,SQ8`
indexkey (`filter/faiss/faiss.py:133`); index/ivf.py composes it with the
coarse lists and the exact rescore.

Each component is quantized independently to one byte on a
per-dimension affine grid:

  train  = exact per-dimension (min, max) over the corpus — one
           map-side-combined aggregation (d rows per Arrow batch leave
           the scan, d rows total shuffle); no RNG, bit-deterministic.
  encode = code_j = round(255 · (x_j − vmin_j) / (vmax_j − vmin_j)),
           clipped to [0, 255], stored −128 so the byte fits Spark's
           signed TINYINT — a d-byte row, 4× smaller than float32.
  score  = reconstruction ADC: decode a list group back to
           x̂_j = vmin_j + code_j · scale_j in float32 and score it at
           BLAS speed (faiss's SQ distance computers reconstruct the
           same way).  The error is ≤ half a grid step per component,
           so the true top-k survive a modest refine cut (refine=64
           achieves recall 1.0 on the fixtures — pinned in
           tests/test_sq.py); on a lossless integer grid the scores are
           exact and the rescore is skipped (sq_codec(exact=True)).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.index.ivf import Codec, encode_codes
from filter_vectordb_spark.operators.knn import flatten_fixed_list, topk_blocked


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
    refine+rescore half of the pipeline (sq_codec(exact=True)).
    Non-integer corpora are never snapped: for data spanning less than
    255 the un-snapped grid is strictly finer."""

    def partial(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column(b_vec), batch.num_rows).astype(np.float64)
            yield pa.RecordBatch.from_pydict(
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
        .mapInArrow(partial, schema="pos int, mn double, mx double, allint boolean")
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
    sq_codec(exact=True) gate): the grid decodes the corpus
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

    def codes_of(X):
        C = np.clip(np.rint((X - lo[None, :]) / scale[None, :]), 0, 255)
        return (C - 128).astype(np.int8)

    return encode_codes(base, codes_of, b_id, b_vec)


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


def sq_codec(vmin: np.ndarray, vmax: np.ndarray, exact: bool = False) -> Codec:
    """The SQ8 codec over one affine grid.  Decode + GEMM run in float32:
    about twice the float64 rate (single-thread f32 GEMM 23-25 GFLOP/s
    on the SSE3 OpenBLAS fallback, 108-141 on AVX-512; see
    session._GENERIC_CORES) and safe by design — the scores only
    nominate `refine` candidates whose margin is SQ8 quantization error,
    orders of magnitude above float32 rounding, and the survivors are
    rescored in float64.  exact=True (uint8-corpus serving) requires a
    LOSSLESS snapped grid (is_lossless_grid) and integer queries
    (asserted per chunk): the scores are then EXACT distances."""
    if exact and not is_lossless_grid(vmin, vmax):
        raise ValueError(
            "exact=True requires a lossless integer-snapped grid "
            "(train_sq snap_integer on an integer corpus)"
        )
    lo32 = vmin.astype(np.float32)
    scale32 = _scales(vmin, vmax).astype(np.float32)

    def prepare(Q, metric):
        # exact precondition on the query side (per chunk): integer
        # components with |q| ≤ 255 and d ≤ 192 keep every f32 product
        # and partial sum an exactly-representable integer (< 2²⁴) — the
        # same proof as knn_join's compute_dtype='float32' contract
        if exact and (
            Q.shape[1] > 192
            or not (np.abs(Q).max(initial=0.0) <= 255 and np.array_equal(Q, np.rint(Q)))
        ):
            raise ValueError(
                "exact=True requires integer-valued queries with "
                "|component| <= 255 and d <= 192 (f32 exactness precondition)"
            )
        return Q.astype(np.float32)

    def score(Q32, pos, codes, metric, kk):
        M = codes.astype(np.float32) + np.float32(128.0)
        Xd = lo32[None, :] + M * scale32[None, :]  # decode ONCE per group
        Qp = Q32[pos]
        G = Qp @ Xd.T  # (nq_probing, nb_group), C-contiguous
        if metric == "ip":
            D = G
        else:
            D = (Qp * Qp).sum(1)[:, None] - 2.0 * G + (Xd * Xd).sum(1)[None, :]
            np.maximum(D, np.float32(0.0), out=D)
        part = topk_blocked(-D if metric == "ip" else D, kk)
        return part, D[np.arange(len(pos))[:, None], part].astype(np.float64)

    return Codec("sq8", "codes", ("l2", "ip"), exact, prepare, score, (vmin, vmax))

