"""Filtered k-NN (SURVEY.md §2.8) — the reference's flagship operator.

For each query (embedding + 1-2 conjunctive tags), return the k nearest
base vectors among those containing ALL query tags
(`filter/faiss/faiss.py:361-426`).

The reference routes per-query between three physical plans on estimated
selectivity (`mt_threshold`).  Both of our branches are EXACT (Spark has
no reason to trade recall for latency in batch mode), so routing is purely
a performance choice and results are identical to the brute-force oracle:

  Q1 "metadata-first"  (selective filters): posting-intersection join
      produces (qid, id) candidate pairs, gather embeddings, score only
      those pairs.  Work ∝ Σ_q |candidates(q)|.

  Q2' "vector-first"   (non-selective filters): score ALL base rows per
      query (vectorized brute-force scan) with the tag predicate applied
      inline before ranking.  Work ∝ nq × N but at BLAS speed with no
      join shuffle.

Router: a broadcast-joined per-query candidate-count estimate (exact
per-tag doc-frequency stats, min over the query's tags — the reference
uses the same min-frequency upper bound, `filter/faiss/faiss.py:378-385`)
splits the query batch; each half runs its plan; results union.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filter_vectordb_spark.functions.distance import l2_sq
from filter_vectordb_spark.functions.signature import sig_from_tags, sig_matches
from filter_vectordb_spark.operators.postings import conjunctive_candidates, explode_tags
from filter_vectordb_spark.operators.topk import per_group_topk

#: default selectivity threshold — fraction of N below which the
#: metadata-first plan wins (reference default metadata_threshold=1e-3 of
#: N=10M, grid 0.0045-0.02, `filter/faiss/config.yaml:54-63`).
DEFAULT_MT_THRESHOLD = 0.01


def filtered_knn_metadata_first(
    queries: DataFrame,
    base: DataFrame,
    k: int,
) -> DataFrame:
    """Q1 plan: candidates via posting-intersection join, then score only
    the candidate pairs (reference `filter/faiss/faiss.py:392-399`).

    Expects queries(qid, qemb, qtags) and base(id, emb, tags).
    Returns (qid, id, dist, rank).
    """
    from filter_vectordb_spark.operators.knn import pairwise_scores

    cand = conjunctive_candidates(queries, base)
    # gather candidate embeddings (F5: xb[docs]) — equi-join, no crossJoin
    gathered = cand.join(base.select("id", "emb"), "id")
    q = queries.select("qid", "qemb")
    # score the candidate pairs through the Arrow kernel, NOT the l2_sq
    # array-lambda expression: Catalyst evaluates higher-order lambdas
    # interpreted (outside whole-stage codegen), minutes-vs-milliseconds
    # at ~10⁶ candidate pairs (VERDICT r5 #2; the reference scores
    # candidates in SIMD kernels, `uint8_knn.hpp:39-82`)
    scored = pairwise_scores(gathered.join(F.broadcast(q), "qid"), "l2")
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


def filtered_knn_scan(
    queries: DataFrame,
    base: DataFrame,
    k: int,
) -> DataFrame:
    """Q2' plan: vectorized scan with inline tag predicate — the exact
    Spark counterpart of the reference's vector-first branch (which is
    approximate BFS there; exactness is free for us in batch,
    SURVEY.md §2.8 Q2 'Spark counterpart').

    Per Arrow batch: queries GROUP by their (sorted) tag set, the exact
    conjunction mask (F3) is built once per group from per-tag
    membership masks (tags flattened once per batch via the Arrow list
    offsets), and each group's queries are BLAS-scored against ONLY its
    candidate rows — work ∝ Σ_groups |q_group|·|candidates(group)|,
    i.e. the selectivity times the brute-force block, never the full
    nq×nb GEMM plus per-query Python the old kernel paid (measured 4×
    under brute force on the 100k curve BECAUSE of that).  A query with
    no tags degrades to the full block for its group.  The F2 bit
    signature is not consulted here: with the tag column flattened
    batch-wise, the exact group mask costs less than the per-query
    bloom AND it would precede (F2 stays load-bearing in
    filtered_knn_sig_expr, the visible-plan twin).
    """
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    # shared above-the-cap chunk-and-union contract — the query side
    # streams through the driver O(chunk) at a time (union_query_chunks_df)
    scored = union_query_chunks_df(
        queries.select("qid", "qemb", "qtags"),
        lambda ch: _filtered_scan_chunk(ch, base, k),
        "qid LONG, id LONG, dist DOUBLE",
    )
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


def _filtered_scan_chunk(qpdf, base: DataFrame, k: int) -> DataFrame:
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    # group query positions by sorted tag tuple — conjunction is a set
    # predicate, so every member shares one candidate mask
    groups: dict[tuple, list[int]] = {}
    for j, t in enumerate(qpdf["qtags"]):
        # None (a null array after toPandas) ≡ empty conjunction: no
        # predicate, every row is a candidate (matches the routed plan's
        # explode+coalesce null tolerance — ADVICE r7)
        groups.setdefault(
            tuple(sorted(int(x) for x in (t if t is not None else ()))), []
        ).append(j)
    qgroups = [
        (np.asarray(need, dtype=np.int64), np.asarray(pos, dtype=np.int64))
        for need, pos in groups.items()
    ]
    bc = base.sparkSession.sparkContext.broadcast((qids, Q, qgroups))

    def score(it):
        from filter_vectordb_spark.operators.knn import (
            TaskPartials,
            _flat_tags,
            flatten_fixed_list,
            gemm_topk,
        )

        bqids, bQ, bgroups = bc.value
        qn = (bQ * bQ).sum(axis=1)
        out = TaskPartials(k, len(bqids), False)
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            X = flatten_fixed_list(batch.column("emb"), nb).astype(np.float64)
            # flatten tags ONCE per batch; per-tag membership masks are
            # cached across the chunk's query groups
            flat_tags, row_of = _flat_tags(batch.column("tags"), nb)
            tag_masks: dict[int, np.ndarray] = {}

            def has_tag(t: int) -> np.ndarray:
                m = tag_masks.get(t)
                if m is None:
                    m = np.zeros(nb, dtype=bool)
                    m[row_of[flat_tags == t]] = True
                    tag_masks[t] = m
                return m

            xn = (X * X).sum(axis=1)
            for need, pos in bgroups:
                if len(need) == 0:
                    cand = None  # no predicate → every row
                    Xc, xc, ic = X, xn, ids
                else:
                    m = has_tag(int(need[0])).copy()
                    for t in need[1:]:
                        m &= has_tag(int(t))
                    cand = np.nonzero(m)[0]
                    if len(cand) == 0:
                        continue
                    Xc = np.ascontiguousarray(X[cand])
                    xc, ic = xn[cand], ids[cand]
                part, dist = gemm_topk(bQ[pos], qn[pos], Xc, xc, "l2", k)
                out.add_topk(bqids[pos], ic, part, dist)
        yield from out.emit()

    return base.select("id", "emb", "tags").mapInArrow(
        score, schema="qid long, id long, dist double"
    )


def filtered_knn_sig_expr(
    queries: DataFrame,
    base: DataFrame,
    k: int,
) -> DataFrame:
    """Q2 expression variant with the F2 signature pre-filter as a
    Catalyst predicate: broadcast the queries, reject on
    `sig & qmask == qmask` (cheap bitwise AND, whole-stage codegen),
    exact F3 conjunction check on the bloom survivors, score, top-k —
    the `bow_id_selector.swig:107-130` two-stage check as a visible plan.

    Exact: the signature test never rejects a true match (superset
    property), so results equal filtered_knn_scan's.
    """
    if "sig" not in base.columns:
        base = base.withColumn("sig", sig_from_tags(F.col("tags")))
    q = queries.select(
        "qid",
        "qemb",
        "qtags",
        sig_from_tags(F.col("qtags")).alias("qmask"),
    )
    cand = (
        base.crossJoin(F.broadcast(q))
        .filter(sig_matches(F.col("sig"), F.col("qmask")))  # F2 bloom reject
        .filter(  # F3 exact conjunction
            F.forall(F.col("qtags"), lambda t: F.array_contains(F.col("tags"), t))
        )
    )
    scored = cand.select("qid", "id", l2_sq(F.col("qemb"), F.col("emb")).alias("dist"))
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


#: (stats DataFrame identity) → (strong ref, {tag: ndoc}) — serving
#: engines pass the SAME fitted stats table per batch (the reference
#: computes routing stats once at fit(), `filter/faiss/faiss.py:238-239`);
#: identity-keying makes repeat batches pay the tiny collect once.
_STATS_CACHE: dict = {}


def _routing_ndoc(stats: DataFrame | None, base: DataFrame) -> dict[int, int]:
    """Driver-side {tag → ndoc} routing table (A1).  Bounded by the tag
    vocabulary (the reference's is ~200k tags — a few MB), not the
    corpus; derived from `base` with one aggregation when no fitted
    stats are supplied."""
    if stats is None:
        pdf = (
            explode_tags(base)
            .groupBy("tag")
            .agg(F.count("*").alias("ndoc"))
            .toPandas()
        )
        return dict(zip(pdf["tag"].astype(int), pdf["ndoc"].astype(int)))
    key = id(stats)
    hit = _STATS_CACHE.get(key)
    if hit is None or hit[0] is not stats:
        pdf = stats.toPandas()
        if len(_STATS_CACHE) >= 8:
            _STATS_CACHE.clear()
        hit = (stats, dict(zip(pdf["tag"].astype(int), pdf["ndoc"].astype(int))))
        _STATS_CACHE[key] = hit
    return hit[1]


def filtered_knn(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    mt_threshold: float = DEFAULT_MT_THRESHOLD,
    n_base: int | None = None,
    stats: DataFrame | None = None,
) -> DataFrame:
    """Selectivity-routed filtered k-NN (reference router
    `filter/faiss/faiss.py:392-418`): queries whose estimated candidate
    count < mt_threshold·N take the metadata-first plan, the rest take the
    vectorized scan plan.  Both branches exact → union is exact.

    `stats` (tag, ndoc) and `n_base` are the A1 doc-frequency statistics;
    the reference computes them once at fit() time
    (`filter/faiss/faiss.py:238-239`), so callers serving repeated query
    batches should pass a precomputed/saved stats table — otherwise they
    are derived from `base` here (one extra job per invocation).

    Routing shape (VERDICT r6 #6): the query batch is collected ONCE
    (the scan kernels broadcast it anyway) and the per-query estimate —
    min over its tags of ndoc, the reference's min-frequency upper bound
    (`filter/faiss/faiss.py:381-385`) — is a driver-side dict lookup, so
    the whole split costs one query-side job instead of the previous
    est-join + two isEmpty() probe jobs per batch.  An un-taken branch
    is still skipped entirely (its plan would scan the corpus for
    nothing at 100 TB).  Query sets above the broadcast row cap fall
    back to the DataFrame-routed plan, which chunk-and-unions."""
    import filter_vectordb_spark.operators.knn as _knn
    from filter_vectordb_spark.operators.knn import pandas_query_chunks

    spark = queries.sparkSession
    qcols = queries.select("qid", "qemb", "qtags")
    head = qcols.limit(_knn.MAX_BROADCAST_QUERIES).toPandas()
    if len(head) >= _knn.MAX_BROADCAST_QUERIES:
        return _filtered_knn_df_routed(
            queries, base, k, mt_threshold, n_base, stats
        )
    if len(head) == 0:
        return spark.createDataFrame([], "qid LONG, id LONG, dist DOUBLE, rank INT")
    ndoc = _routing_ndoc(stats, base)
    nb = n_base if n_base is not None else base.count()
    thr = mt_threshold * nb
    est = np.array(
        [
            # None qtags (a null array survives toPandas as None) routes
            # like the empty array: matches everything → scan branch
            # (default=nb ≥ thr) — the DataFrame-routed plan's
            # explode+coalesce tolerated nulls, so must this one (ADVICE r7)
            min(
                (ndoc.get(int(t), 0) for t in (tags if tags is not None else ())),
                default=nb,
            )
            for tags in head["qtags"]
        ],
        dtype=np.int64,
    )
    sel_mask = est < thr
    sel_pdf = head[sel_mask]
    scan_pdf = head[~sel_mask].reset_index(drop=True)
    parts = []
    if len(sel_pdf):
        sel_q = spark.createDataFrame(sel_pdf, schema=qcols.schema)
        parts.append(filtered_knn_metadata_first(sel_q, base, k))
    if len(scan_pdf):
        scored = pandas_query_chunks(
            scan_pdf, lambda ch: _filtered_scan_chunk(ch, base, k)
        )
        parts.append(
            per_group_topk(
                scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
            ).select("qid", "id", "dist", "rank")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _filtered_knn_df_routed(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    mt_threshold: float,
    n_base: int | None,
    stats: DataFrame | None,
) -> DataFrame:
    """DataFrame-routed fallback for query sets above the broadcast row
    cap: the routing decision stays a broadcast-joined boolean flag per
    qid (never a collected id list), each branch chunk-and-unions."""
    if stats is None:
        stats = (
            explode_tags(base)
            .groupBy("tag")
            .agg(F.count("*").alias("ndoc"))
        )
    qx = queries.select("qid", F.explode("qtags").alias("tag"))
    est = (
        qx.join(F.broadcast(stats), "tag", "left")
        .groupBy("qid")
        .agg(F.min(F.coalesce("ndoc", F.lit(0))).alias("est"))
        .crossJoin(
            base.agg(F.count("*").alias("n_base"))
            if n_base is None
            else queries.sparkSession.range(1).select(F.lit(n_base).alias("n_base"))
        )
        .select(
            "qid",
            (F.col("est") < mt_threshold * F.col("n_base")).alias("selective"),
        )
    )
    routed = queries.join(F.broadcast(est), "qid", "left").withColumn(
        # a query with no tags matches everything → scan branch
        "selective",
        F.coalesce("selective", F.lit(False)),
    )
    sel_q = routed.filter(F.col("selective")).drop("selective")
    scan_q = routed.filter(~F.col("selective")).drop("selective")
    # Skip a branch no query routed to: its plan still launches
    # base-side work (the meta branch explodes the base's postings even
    # against an empty query side) — at 100 TB the un-taken branch is a
    # full-corpus pass for nothing.  The probe is one query-side-only
    # job (est = queries ⋈ broadcast(stats)); the scan branch already
    # self-skips via union_query_chunks_df's empty-input contract.
    if sel_q.isEmpty():
        return filtered_knn_scan(scan_q, base, k)
    meta = filtered_knn_metadata_first(sel_q, base, k)
    if scan_q.isEmpty():
        return meta
    return meta.unionByName(filtered_knn_scan(scan_q, base, k))
