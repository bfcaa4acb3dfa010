"""IVF+SQ8 — the reference's exact faiss indexkey (`IVF16384,SQ8`,
`filter/faiss/faiss.py:133`): index/ivf.py's lists with index/sq.py's
codec.  The affine grid (pos, mn, mx) rides alongside the lists as
`<out>/grid` — d rows, kilobytes."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from filter_vectordb_spark.index.ivf import build_ivf, load_lists, save_lists, search
from filter_vectordb_spark.index.sq import encode_sq, read_grid, sq_codec, train_sq, write_grid


def build_ivfsq(
    base: DataFrame,
    nlist: int,
    max_iter: int = 8,
    train_rows: int | None = None,
    coarse: str = "mllib",
) -> tuple[DataFrame, DataFrame, np.ndarray, np.ndarray]:
    """Returns (entries, centroids, vmin, vmax): entries = (id,
    centroid_id, codes).  max_iter/train_rows/coarse pass through to
    build_ivf."""
    assignments, centroids = build_ivf(
        base, nlist, max_iter=max_iter, train_rows=train_rows, coarse=coarse
    )
    vmin, vmax = train_sq(base)
    entries = assignments.select("id", "centroid_id").join(encode_sq(base, vmin, vmax), "id")
    return entries, centroids, vmin, vmax


def save_ivfsq(
    entries: DataFrame, centroids: DataFrame, vmin: np.ndarray, vmax: np.ndarray, out_dir: str
) -> None:
    save_lists(entries, centroids, out_dir)
    write_grid(entries.sparkSession, vmin, vmax, f"{out_dir}/grid")


def load_ivfsq(spark: SparkSession, out_dir: str):
    return load_lists(spark, out_dir, lambda: read_grid(spark, f"{out_dir}/grid"))


def ivfsq_search(
    queries: DataFrame,
    entries: DataFrame,
    centroids: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    base: DataFrame,
    k: int,
    nprobe: int,
    refine: int,
    metric: str = "l2",
    entries_dir: str | None = None,
    exact_codes: bool = False,
) -> DataFrame:
    """ivf.search with the SQ8 codec; exact_codes=True is the lossless
    uint8-corpus serving mode (sq_codec(exact=True): no rescore, eager
    driver-side merge).  Returns (qid, id, dist, rank)."""
    codec = sq_codec(vmin, vmax, exact_codes)
    return search(queries, entries, centroids, codec, base, k, nprobe, refine, metric, entries_dir)
