"""IVF+PQ — faiss's classic `IVFx,PQy`: index/ivf.py's lists with
index/pq.py's codec.  Both pruning factors multiply on the only
corpus-touching stage (at nlist=16k, nprobe=32, nsub=32: 1/500 of the
rows × 1/32 of the bytes ≈ 6e-5 of the raw scan)."""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from filter_vectordb_spark.index.ivf import build_ivf, load_lists, save_lists, search
from filter_vectordb_spark.index.pq import (
    encode_pq,
    pq_codec,
    read_codebooks,
    train_pq,
    write_codebooks,
)


def build_ivfpq(
    base: DataFrame, nlist: int, nsub: int, ksub: int
) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """Returns (entries, centroids, codebooks): entries = (id, centroid_id,
    codes) — the one table both pruning structures live in."""
    assignments, centroids = build_ivf(base, nlist)
    codebooks = train_pq(base, nsub=nsub, ksub=ksub)
    entries = assignments.select("id", "centroid_id").join(encode_pq(base, codebooks), "id")
    return entries, centroids, codebooks


def save_ivfpq(
    entries: DataFrame, centroids: DataFrame, codebooks: np.ndarray, out_dir: str
) -> None:
    save_lists(entries, centroids, out_dir)
    write_codebooks(entries.sparkSession, codebooks, f"{out_dir}/codebooks")


def load_ivfpq(spark: SparkSession, out_dir: str):
    return load_lists(spark, out_dir, lambda: (read_codebooks(spark, f"{out_dir}/codebooks"),))


def ivfpq_search(
    queries: DataFrame,
    entries: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    base: DataFrame,
    k: int,
    nprobe: int,
    refine: int,
) -> DataFrame:
    """ivf.search with the PQ codec.  Returns (qid, id, dist, rank)."""
    return search(queries, entries, centroids, pq_codec(codebooks), base, k, nprobe, refine)
