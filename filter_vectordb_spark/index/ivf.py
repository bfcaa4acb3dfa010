"""IVF index build + search (SURVEY.md §2.7 B3, §2.8 Q4).

The reference's unfiltered path is faiss `IVF16384,SQ8`
(`filter/faiss/faiss.py:133,205-208`): k-means coarse quantizer, search
ranks centroids per query and scans the top-`nprobe` inverted lists.

Spark-native equivalents:
  build  = MLlib KMeans → an assignment table (id, emb, centroid_id).
           On a real lake this is written `partitionBy("centroid_id")` so
           probes become partition pruning; the table IS the index.
  search = rank centroids per query (centroid table is tiny — driver-side
           numpy), emit (qid, centroid_id) probe pairs, broadcast-join
           against the assignment table (prunes to nprobe/nlist of the
           base), exact-score the survivors, two-phase top-k.

nprobe = nlist probes everything ⇒ results are EXACTLY brute-force k-NN,
independent of how k-means clustered — that's the oracle-checkable
configuration; smaller nprobe trades recall for scan fraction
(recall tests in tests/test_index.py, mirroring the reference's
recall-vs-QPS methodology, SURVEY.md §5).

SQ8 scalar quantization is deliberately NOT reproduced: it is a memory
optimization for a RAM-resident index; columnar Parquet already stores
compressed, and exact arithmetic keeps the oracle contract (SURVEY.md §4
"Quantization").
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.topk import per_group_topk


def _lloyd_blocked(X: np.ndarray, ids: np.ndarray, k: int, iters: int) -> np.ndarray:
    """Deterministic driver-side Lloyd's for LARGE k on a bounded sample:
    assignment via blocked f32 GEMM (the pairwise (n, k, d) tensor of
    pq._lloyd is memory-infeasible past k ≈ 100), centroid update via
    scatter-add.  Init = k evenly-spaced sample rows ordered by
    (‖x‖², id) — no RNG; empty clusters reseed to the points farthest
    from their centroid (deterministic argsort).  This is faiss's own
    coarse-training shape: BLAS distance blocks over a sample, never
    the full corpus."""
    n, d = X.shape
    order = np.lexsort((ids, (X * X).sum(axis=1)))
    idx = order[np.round(np.linspace(0, n - 1, min(k, n))).astype(int)]
    C = X[idx].astype(np.float64).copy()
    X32 = X.astype(np.float32)
    # ‖x‖² is dropped from the assignment key (constant per row — valid
    # for the per-row argmin) but must be ADDED BACK before comparing
    # distances ACROSS rows, or the farthest-point reseed ranks on the
    # wrong key and can pick near points (ADVICE r6)
    xn32 = (X32 * X32).sum(axis=1)
    rows = np.arange(n)
    # the assignment GEMM is a DRIVER-side kernel — borrow the idle cores
    # (executors are not running during coarse training) and hand them
    # back on exit; measured ~3× on the 200k × 3200 training block
    from filter_vectordb_spark.index.ivfsq import driver_blas

    import os as _os

    with driver_blas(_os.cpu_count() or 8):
        for _ in range(iters):
            C32 = C.astype(np.float32)
            cn = (C32 * C32).sum(axis=1)
            assign = np.empty(n, dtype=np.int64)
            mind = np.empty(n, dtype=np.float32)
            for lo in range(0, n, 8192):
                Xc = X32[lo : lo + 8192]
                Dc = cn[None, :] - 2.0 * (Xc @ C32.T)  # ‖x‖² constant per row
                a = Dc.argmin(axis=1)
                assign[lo : lo + 8192] = a
                mind[lo : lo + 8192] = Dc[np.arange(len(a)), a]
            counts = np.bincount(assign, minlength=len(C))
            S = np.zeros((len(C), d))
            np.add.at(S, assign, X)
            nonempty = counts > 0
            C[nonempty] = S[nonempty] / counts[nonempty, None]
            empty = np.flatnonzero(~nonempty)
            if len(empty):
                far = rows[np.argsort(-(mind + xn32), kind="stable")[: len(empty)]]
                C[empty] = X[far]
    return C


def assign_to_centroids(rows: DataFrame, C: np.ndarray, cids: np.ndarray) -> DataFrame:
    """(id, emb, centroid_id): nearest-centroid assignment of arbitrarily
    many rows — one Arrow pass, centroid matrix rides the task closure
    (nlist × d floats).  The streaming-insert kernel, exposed for builds
    whose coarse quantizer was trained driver-side."""
    import pandas as pd

    C32 = C.astype(np.float32)
    cn = (C32 * C32).sum(axis=1)
    cid_arr = np.asarray(cids, dtype=np.int64)

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["emb"].to_numpy()).astype(np.float32)
            D = cn[None, :] - 2.0 * (X @ C32.T)  # ‖x‖² constant per row
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "emb": pdf["emb"],
                    "centroid_id": cid_arr[D.argmin(axis=1)].astype(np.int32),
                }
            )

    emb_type = dict(rows.dtypes)["emb"]
    return rows.select("id", "emb").mapInPandas(
        assign, schema=f"id long, emb {emb_type}, centroid_id int"
    )


def build_ivf(
    base: DataFrame,
    nlist: int,
    seed: int = 42,
    max_iter: int = 8,
    train_rows: int | None = None,
    coarse: str = "mllib",
):
    """Returns (assignments, centroids): assignments = base + centroid_id;
    centroids = (centroid_id, centroid ARRAY<DOUBLE>).

    train_rows: when set, k-means trains on only the first `train_rows`
    rows and the fitted centroids assign the FULL base — faiss's own
    protocol (it trains the coarse quantizer on a bounded sample, then
    add()s everything); at 1M+ rows training on the full set is the
    build bottleneck with no probe-quality payoff.

    coarse="numpy": train Lloyd's driver-side on the sample with blocked
    f32 BLAS instead of MLlib.  At √N-rule list counts (nlist ≈ 1.4k for
    2M rows) MLlib's JVM scalar loops cost minutes per iteration where
    the BLAS block costs ~1 s; the sample is bounded (train_rows
    required), so driver memory stays O(train_rows · d)."""
    if coarse == "numpy":
        if not train_rows:
            raise ValueError("coarse='numpy' requires train_rows (bounded sample)")
        spark = base.sparkSession
        pdf = (
            base.select("id", "emb").orderBy("id").limit(train_rows).toPandas()
        )
        X = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
        C = _lloyd_blocked(X, pdf["id"].to_numpy(dtype=np.int64), nlist, max_iter)
        cids = np.arange(len(C), dtype=np.int64)
        centroids = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(C)],
            "centroid_id INT, centroid ARRAY<DOUBLE>",
        )
        return assign_to_centroids(base, C, cids), centroids
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = base.select(
        "id", "emb", array_to_vector(F.col("emb").cast("array<double>")).alias("features")
    )
    # maxIter=8 default: coarse-quantizer centroids don't need convergence —
    # probe quality saturates quickly and full-probe correctness never
    # depends on the clustering (the reference's IVF trains similarly
    # coarse); raise it when a partial-probe operating point needs the
    # extra probe recall
    train = feat.limit(train_rows) if train_rows else feat
    model = KMeans(k=nlist, seed=seed, maxIter=max_iter, featuresCol="features").fit(
        train
    )
    assignments = (
        model.transform(feat)
        .withColumnRenamed("prediction", "centroid_id")
        .select("id", "emb", "centroid_id")
    )
    spark = base.sparkSession
    centers = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    centroids = spark.createDataFrame(centers, "centroid_id INT, centroid ARRAY<DOUBLE>")
    return assignments, centroids


def ivf_insert(
    assignments: DataFrame, centroids: DataFrame, new_rows: DataFrame
) -> DataFrame:
    """Streaming-insert path: assign NEW vectors to the EXISTING centroids
    (no refit — the reference's streaming track inserts into a built index
    without retraining, `streaming/base.py:5-31` insert contract) and
    append to the assignment table.  Returns the updated assignments.

    One Arrow pass over the new rows with the centroid matrix riding the
    closure (nlist × d floats — kilobytes); no shuffle: on a lake layout
    the append lands as new files inside each centroid partition.
    Full-probe search over the result is still exactly brute force, so
    the maintained index stays oracle-checkable."""
    import pandas as pd

    cpdf = centroids.toPandas()  # nlist rows — tiny
    C = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
    cids = cpdf["centroid_id"].to_numpy(dtype=np.int64)
    cn = (C * C).sum(axis=1)

    def assign(it):
        for pdf in it:
            if len(pdf) == 0:
                continue
            X = np.stack(pdf["emb"].to_numpy()).astype(np.float64)
            D = cn[None, :] - 2.0 * (X @ C.T)  # ‖x‖² constant per row
            yield pd.DataFrame(
                {
                    "id": pdf["id"].to_numpy(dtype=np.int64),
                    "emb": pdf["emb"],
                    "centroid_id": cids[D.argmin(axis=1)].astype(np.int32),
                }
            )

    emb_type = dict(new_rows.dtypes)["emb"]
    new_assigned = new_rows.select("id", "emb").mapInPandas(
        assign, schema=f"id long, emb {emb_type}, centroid_id int"
    )
    return assignments.select("id", "emb", "centroid_id").unionByName(new_assigned)


def save_ivf(assignments: DataFrame, centroids: DataFrame, out_dir: str) -> None:
    """S5 index save: persist the IVF as lake tables — assignments
    partitioned by centroid_id (so probes become partition pruning,
    `filter/faiss/faiss.py:205` read_index analog) + a tiny centroid table."""
    # one shuffle partition per list first — otherwise every writer task
    # emits a sliver into every list directory (nlist × tasks small
    # files) and file enumeration dominates later probe scans
    assignments.repartition("centroid_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(f"{out_dir}/assignments")
    centroids.write.mode("overwrite").parquet(f"{out_dir}/centroids")


def load_ivf(spark, out_dir: str):
    """S5 index load: read back (assignments, centroids); 'load' is just a
    scan + the partition layout doing the indexing."""
    return (
        spark.read.parquet(f"{out_dir}/assignments"),
        spark.read.parquet(f"{out_dir}/centroids"),
    )


def ivf_search(
    queries: DataFrame,
    assignments: DataFrame,
    centroids: DataFrame,
    k: int,
    nprobe: int,
) -> DataFrame:
    """Top-k L2 search probing the `nprobe` nearest centroids per query.

    Returns (qid, id, dist, rank).  Exact within the probed subset.

    Scan shape: the probed lists are scanned ONCE with the per-list query
    groups broadcast and scored by the fused numpy kernel — the previous
    (qid, centroid_id) probe-pair join duplicated every list row per
    probing query AND scored through an interpreted Catalyst array
    lambda, which measured 2-7 QPS on the 100k curve where this shape
    serves >100.

    Above the broadcast cap the query set chunk-and-unions through
    union_query_chunks_df — driver memory stays O(chunk), each chunk
    gets its own probe map and pruned scan."""
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    cpdf = centroids.toPandas()  # nlist rows — always tiny
    C = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
    cids = cpdf["centroid_id"].to_numpy()
    scored = union_query_chunks_df(
        queries.select("qid", "qemb"),
        lambda ch: _ivf_score_chunk(ch, assignments, C, cids, k, nprobe),
        "qid LONG, id LONG, dist DOUBLE",
    )
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


def _ivf_score_chunk(
    chunk_pdf, assignments: DataFrame, C: np.ndarray, cids: np.ndarray,
    k: int, nprobe: int,
) -> DataFrame:
    """One ≤cap query chunk: driver-side centroid ranking, static
    partition pruning to the chunk's probed lists, fused GEMM scan."""
    from filter_vectordb_spark.index.ivfsq import _probe_map

    qids_np, Q, probe_map = _probe_map(chunk_pdf, C, cids, nprobe, "l2")
    spark = assignments.sparkSession
    bc = spark.sparkContext.broadcast((qids_np, Q, probe_map))
    probed = sorted(probe_map)
    cand = assignments.filter(F.col("centroid_id").isin(probed)).select(
        "centroid_id", "id", "emb"
    )

    def scan(it):
        from filter_vectordb_spark.operators.knn import (
            TaskPartials,
            flatten_fixed_list,
            gemm_topk,
        )

        bqids, bQ, groups = bc.value
        qn = (bQ * bQ).sum(axis=1)
        out = TaskPartials(k, len(bqids), False)
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            all_ids = batch.column("id").to_numpy(zero_copy_only=False)
            X_all = flatten_fixed_list(batch.column("emb"), nb)
            cid_col = batch.column("centroid_id").to_numpy(zero_copy_only=False)
            order = np.argsort(cid_col, kind="stable")
            bounds = np.flatnonzero(np.diff(cid_col[order])) + 1
            for grp in np.split(order, bounds):
                pos = groups.get(int(cid_col[grp[0]]))
                if pos is None:
                    continue
                X = np.ascontiguousarray(X_all[grp]).astype(np.float64)
                xn = (X * X).sum(axis=1)
                part, dist = gemm_topk(bQ[pos], qn[pos], X, xn, "l2", k)
                out.add_topk(bqids[pos], all_ids[grp], part, dist)
        yield from out.emit()

    return cand.mapInArrow(scan, schema="qid long, id long, dist double")
