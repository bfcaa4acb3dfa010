"""IVF+PQ composed index — partition pruning over compressed-domain scan.

This is the architecture of the reference's faiss index family
(`filter/faiss/faiss.py:133` uses `IVF16384,SQ8`; swap the scalar
quantizer for the product quantizer and you have faiss's classic
`IVFx,PQy`): a coarse k-means partitioner prunes WHICH rows are scanned
(IVF, index/ivf.py), and product-quantized codes decide HOW CHEAPLY each
surviving row is scored (PQ, index/pq.py).  The two compose as tables:

  build  = IVF assignment (id → centroid_id)  ⋈  PQ codes (id → codes)
           written `partitionBy("centroid_id")` — probing IS partition
           pruning, and within a probed partition only the ~nsub-byte
           codes column is read.
  search = rank centroids per query (driver-side — the centroid table is
           nlist rows), broadcast the (qid, centroid_id) probe pairs
           against the partitioned codes table, ADC-score the survivors
           row-wise (each row carries its qid from the probe join), cut
           to `refine` per query, exact-rescore survivors only.

Scale posture (100 TB): the scan stage reads `nprobe/nlist` of the CODES
of the corpus — both pruning factors multiply (at nlist=16k, nprobe=32,
nsub=32: 1/500 of the rows × 1/32 of the bytes ≈ 6e-5 of the raw scan).
Exactness: nprobe = nlist degrades to the PQ-only plan (probe everything)
whose cut recall is margin-tested, and the final rescore is exact — the
oracle-checkable configuration; smaller nprobe trades recall for scan
fraction (recall curve pinned in tests/test_pq.py, the reference's
recall-vs-QPS methodology).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import pairwise_l2_scores
from filter_vectordb_spark.operators.topk import per_group_topk


def build_ivfpq(
    base: DataFrame, nlist: int, nsub: int, ksub: int
) -> tuple[DataFrame, DataFrame, np.ndarray]:
    """Returns (entries, centroids, codebooks): entries = (id, centroid_id,
    codes) — the one table both pruning structures live in."""
    from filter_vectordb_spark.index.ivf import build_ivf
    from filter_vectordb_spark.index.pq import encode_pq, train_pq

    assignments, centroids = build_ivf(base, nlist)
    codebooks = train_pq(base, nsub=nsub, ksub=ksub)
    codes = encode_pq(base, codebooks)
    entries = assignments.select("id", "centroid_id").join(codes, "id")
    return entries, centroids, codebooks


def save_ivfpq(
    entries: DataFrame, centroids: DataFrame, codebooks: np.ndarray, out_dir: str
) -> None:
    """S5 save: entries partitioned by centroid_id (probe = partition
    pruning), tiny centroid + codebook tables alongside."""
    from filter_vectordb_spark.index.pq import save_pq

    # one shuffle partition per list — see save_ivf on the small-files trap
    entries.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{out_dir}/entries")
    centroids.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    # reuse the PQ codebook layout; the codes table inside save_pq is not
    # needed here (entries carries the codes), so save only the codebooks
    spark = entries.sparkSession
    nsub, ksub, _ = codebooks.shape
    rows = [
        (s, c, [float(x) for x in codebooks[s, c]])
        for s in range(nsub)
        for c in range(ksub)
    ]
    spark.createDataFrame(
        rows, "sub INT, cid INT, center ARRAY<DOUBLE>"
    ).write.mode("overwrite").parquet(f"{out_dir}/codebooks")


def load_ivfpq(spark: SparkSession, out_dir: str):
    entries = spark.read.parquet(f"{out_dir}/entries")
    centroids = spark.read.parquet(f"{out_dir}/centroids")
    cpdf = spark.read.parquet(f"{out_dir}/codebooks").toPandas()
    nsub = int(cpdf["sub"].max()) + 1
    ksub = int(cpdf["cid"].max()) + 1
    dsub = len(cpdf["center"].iloc[0])
    cb = np.empty((nsub, ksub, dsub), dtype=np.float64)
    for _, r in cpdf.iterrows():
        cb[int(r["sub"]), int(r["cid"])] = np.asarray(r["center"])
    return entries, centroids, cb


def ivfpq_search(
    queries: DataFrame,
    entries: DataFrame,
    centroids: DataFrame,
    codebooks: np.ndarray,
    base: DataFrame,
    k: int,
    nprobe: int,
    refine: int,
    q_id: str = "qid",
    q_vec: str = "qemb",
) -> DataFrame:
    """Probe `nprobe` lists per query, ADC-score only their codes, cut to
    `refine`, exact-rescore survivors.  Returns (qid, id, dist, rank).
    Above the broadcast cap the query set chunk-and-unions through
    union_query_chunks_df — driver memory stays O(chunk)."""
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    cpdf = centroids.toPandas()  # nlist rows — tiny by construction
    C = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
    cids = cpdf["centroid_id"].to_numpy()
    scored = union_query_chunks_df(
        queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb")),
        lambda ch: _ivfpq_score_chunk(ch, entries, C, cids, codebooks, nprobe, refine),
        "qid LONG, id LONG, adist DOUBLE",
    )
    cut = per_group_topk(
        scored, ["qid"], [F.col("adist").asc(), F.col("id").asc()], refine
    ).select("qid", "id")
    b = base.select("id", "emb")
    q = queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb"))
    pairs_df = b.join(F.broadcast(cut), "id").join(F.broadcast(q), "qid")
    exact = pairwise_l2_scores(pairs_df)
    return per_group_topk(
        exact, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


def _ivfpq_score_chunk(
    chunk_pdf,
    entries: DataFrame,
    C: np.ndarray,
    cids: np.ndarray,
    codebooks: np.ndarray,
    nprobe: int,
    refine: int,
) -> DataFrame:
    """One ≤cap query chunk: driver-side centroid ranking + per-query ADC
    lookup tables, static partition pruning to the chunk's probed lists,
    LUT-gather scan with per-task top-`refine` merge."""
    from filter_vectordb_spark.index.ivfsq import _probe_map

    qids_np, Q, probe_map = _probe_map(chunk_pdf, C, cids, nprobe, "l2")

    # ADC lookup tables, one per query (nq × nsub × ksub — kilobytes)
    nsub, ksub, dsub = codebooks.shape
    LUT = np.empty((len(Q), nsub, ksub), dtype=np.float64)
    for s in range(nsub):
        Qs = Q[:, s * dsub : (s + 1) * dsub]
        LUT[:, s, :] = (
            (Qs * Qs).sum(axis=1)[:, None]
            - 2.0 * (Qs @ codebooks[s].T)
            + (codebooks[s] * codebooks[s]).sum(axis=1)[None, :]
        )
    spark = entries.sparkSession
    bc = spark.sparkContext.broadcast((qids_np, LUT, probe_map))

    # probed lists scanned ONCE with the per-list query groups broadcast
    # (each codes row ships once — not the probe-pair join shape, which
    # duplicates every list row per probing query), codes column only
    probed = sorted(probe_map)
    cand = entries.filter(F.col("centroid_id").isin(probed)).select(
        "centroid_id", "id", "codes"
    )

    def adc(it):
        from filter_vectordb_spark.operators.knn import (
            TaskPartials,
            flatten_fixed_list,
            topk_blocked,
        )

        bqids, bLUT, groups = bc.value
        out = TaskPartials(refine, len(bqids), False, "adist")
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            all_ids = batch.column("id").to_numpy(zero_copy_only=False)
            M_all = flatten_fixed_list(batch.column("codes"), nb).astype(np.int64)
            cid_col = batch.column("centroid_id").to_numpy(zero_copy_only=False)
            order = np.argsort(cid_col, kind="stable")
            bounds = np.flatnonzero(np.diff(cid_col[order])) + 1
            for grp in np.split(order, bounds):
                pos = groups.get(int(cid_col[grp[0]]))
                if pos is None:
                    continue
                M = M_all[grp]
                L = bLUT[pos]  # (np, nsub, ksub)
                D = np.zeros((len(pos), len(grp)), dtype=np.float64)
                for s in range(nsub):
                    D += L[:, s, :][:, M[:, s]]
                part = topk_blocked(D, refine)
                out.add_topk(
                    bqids[pos], all_ids[grp], part, D[np.arange(len(pos))[:, None], part]
                )
        yield from out.emit()

    return cand.mapInArrow(adc, schema="qid long, id long, adist double")
