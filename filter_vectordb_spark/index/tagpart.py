"""Tag-partitioned materialized views (SURVEY.md §2.7 B2, §2.8 Q3).

The reference pre-builds a dedicated HNSW sub-index for every frequent tag
(freq ≥ 0.003) and frequent tag pair, sharing the base vector storage
(`filter/faiss/faiss.py:254-337`).  The Spark equivalent is a materialized
view partitioned by tag: the same rows, laid out so a tag-equality
predicate becomes partition pruning — "index selection" is the Catalyst
partition filter, and storage is shared because Parquet is columnar and
the view holds only (tag, id, emb) for frequent tags.

Unlike the reference (which scans the *evaluation* query log at load time
to decide which sub-indexes to build — a quirk SURVEY.md §7 says not to
reproduce), the build is driven by a declared frequency threshold over the
base data itself.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import gemm_topk
from filter_vectordb_spark.operators.postings import explode_tags, tag_stats
from filter_vectordb_spark.operators.topk import per_group_topk


def _train_codec(base: DataFrame):
    """(vmin, vmax) when the corpus admits LOSSLESS SQ8 codes (integer
    values, range ≤ 255, |x| ≤ 255 — the yfcc 192-d uint8 regime), else
    None.  A lossless view stores 1-byte codes instead of float arrays:
    4-8× less I/O on the only corpus-touching stage of every routed
    query, with bit-identical results (VERDICT r6 #5)."""
    from filter_vectordb_spark.index.sq import is_lossless_grid, train_sq

    vmin, vmax = train_sq(base.select("emb"))
    return (vmin, vmax) if is_lossless_grid(vmin, vmax) else None


def view_is_built(out_dir: str) -> bool:
    """True when either layout of a tag/pair view is present: legacy
    float (`out_dir/_SUCCESS`) or SQ8-coded (`view/` + `grid/`)."""
    return os.path.exists(f"{out_dir}/_SUCCESS") or (
        os.path.exists(f"{out_dir}/view/_SUCCESS")
        and os.path.exists(f"{out_dir}/grid/_SUCCESS")
    )


#: per-session memo of loaded view metadata, keyed by (appId, path,
#: _SUCCESS mtime) — the grid read is a whole (tiny) Spark job, pure
#: per-batch overhead on a serving path otherwise, and the freshness
#: token invalidates on rebuild (same pattern as ivf._LOAD_CACHE)
_VIEW_CACHE: dict = {}


def _load_view(spark: SparkSession, out_dir: str):
    """(view_df, decode_offset | None): coded views decode as
    x = codes + (vmin + 128) (scale is exactly 1 on a lossless grid).
    Layout detection is a local-path existence check — the same
    shared-filesystem contract as the direct-read serving path."""
    from filter_vectordb_spark.index.sq import read_grid

    coded = os.path.exists(f"{out_dir}/grid/_SUCCESS")
    marker = f"{out_dir}/view/_SUCCESS" if coded else f"{out_dir}/_SUCCESS"
    try:
        token = os.stat(marker).st_mtime_ns
    except OSError:
        token = None
    key = (spark.sparkContext.applicationId, out_dir, token)
    hit = _VIEW_CACHE.get(key)
    if hit is None:
        if coded:
            vmin, _vmax = read_grid(spark, f"{out_dir}/grid")
            hit = (spark.read.parquet(f"{out_dir}/view"), vmin + 128.0)
        else:
            hit = (spark.read.parquet(out_dir), None)
        for stale in [k for k in _VIEW_CACHE if k[1] == out_dir]:
            del _VIEW_CACHE[stale]  # at most one live layout per path
        _VIEW_CACHE[key] = hit
    return hit


def _group_matrix(X_all: np.ndarray, grp: np.ndarray, off: np.ndarray | None,
                  f32_ok: bool) -> np.ndarray:
    """One tag/pair group's score matrix: float path passes the float64
    embeddings through; coded path decodes int8 codes to the original
    integer values (lossless grid ⇒ exact).  f32_ok keeps the decoded
    matrix in float32 for the 30× GEMM when the QUERY side also
    satisfies the integer-exactness precondition (knn_join contract)."""
    if off is None:
        return np.ascontiguousarray(X_all[grp]).astype(np.float64)
    X = np.ascontiguousarray(X_all[grp]).astype(np.float32) + off.astype(np.float32)
    return X if f32_ok else X.astype(np.float64)


def _f32_exact_ok(Q: np.ndarray) -> bool:
    """Query-side f32 exactness precondition (see knn_join)."""
    return Q.shape[1] <= 192 and bool(
        np.abs(Q).max(initial=0.0) <= 255 and np.array_equal(Q, np.rint(Q))
    )


def _l2_topk(out, qids: np.ndarray, Q: np.ndarray, X: np.ndarray, xn, ids) -> None:
    """Exact L2² top-k of the float64 queries Q (qids) over the block X
    (row ids `ids`, squared norms xn) into the task's TaskPartials
    `out`.  The GEMM runs in X's dtype: float32 only on the
    integer-exact path _f32_exact_ok gates, query norms in float64."""
    Qc = Q.astype(np.float32) if X.dtype == np.float32 else Q
    part, dist = gemm_topk(Qc, (Q * Q).sum(axis=1), X, xn, "l2", out.k)
    out.add_topk(qids, ids, part, dist)


def _frequent_tag_view(base: DataFrame, min_freq: float) -> DataFrame:
    """(tag, id, emb) for every tag with doc-frequency ≥ min_freq.

    Frequent-tag selection is a broadcast semi-join against the stats
    table, not collect+isin: at a 200k-tag vocabulary a literal IN-list
    would be a megabyte of plan; a broadcast join is not.
    """
    stats = tag_stats(base)
    frequent = stats.filter(F.col("freq") >= min_freq).select("tag")
    return (
        explode_tags(base)
        .join(F.broadcast(frequent), "tag")
        .join(base.select("id", "emb"), "id")
        .select("tag", "id", "emb")
    )


def build_tag_partitions(
    base: DataFrame,
    out_dir: str,
    min_freq: float = 0.003,
) -> list[int]:
    """Materialize the frequent-tag view, written `partitionBy("tag")`.
    Returns the built tag ids (the reference's 0.003 threshold:
    `filter/faiss/faiss.py:268`).

    When the corpus admits lossless SQ8 codes the view stores 1-byte
    codes + the grid instead of float arrays (`view/` + `grid/` layout,
    the faiss SQ8 storage the reference's filter track actually serves
    from); float corpora keep the legacy float layout (same path, same
    results, 4-8× more scan I/O)."""
    codec = _train_codec(base)
    view = _frequent_tag_view(base, min_freq)
    if codec is not None:
        from filter_vectordb_spark.index.sq import encode_sq, write_grid

        vmin, vmax = codec
        codes = encode_sq(base.select("id", "emb"), vmin, vmax)
        cview = (
            view.select("tag", "id").join(codes, "id").select("tag", "id", "codes")
        )
        # see build_tag_pair_partitions: one shuffle partition per tag
        # keeps the layout at one file per tag instead of tags × tasks
        cview.repartition("tag").write.mode("overwrite").partitionBy("tag").parquet(
            f"{out_dir}/view"
        )
        write_grid(base.sparkSession, vmin, vmax, f"{out_dir}/grid")
        tag_src = cview
    else:
        view.repartition("tag").write.mode("overwrite").partitionBy("tag").parquet(
            out_dir
        )
        tag_src = view
    return sorted(r["tag"] for r in tag_src.select("tag").distinct().collect())


def build_tag_pair_partitions(
    base: DataFrame,
    out_dir: str,
    min_freq: float = 0.003,
    split_rows: int = 262_144,
) -> None:
    """B2 pair half: materialize (tag_a, tag_b, id, emb) for every tag
    PAIR whose co-occurrence count ≥ min_freq·n — the reference prebuilds
    HNSW sub-indexes for exactly these pairs
    (`filter/faiss/faiss.py:289-337`, threshold `:308`).  Written
    `partitionBy("tag_a", "tag_b")` so a 2-tag query is partition pruning.

    Hot-pair skew (VERDICT r4 #3): `repartition("tag_a","tag_b")` alone
    puts each pair in exactly one writer task — the right small-files
    layout, but at yfcc-like skew (a few tags cover >10% of docs) the
    hottest pair's write AND its one-file read/BLAS block become
    stragglers.  Pairs above `split_rows` rows therefore salt into
    ⌈ndoc/split_rows⌉ deterministic sub-splits (xxhash64(id) mod nsplit):
    the write spreads over nsplit tasks → nsplit files in that pair's
    directory → nsplit scan tasks at search, and the per-batch partial
    top-k + global W3 merge make the split invisible to results (pinned
    in tests/test_skew.py).  262,144 rows ≈ 400 MB of float64 at 192-d —
    one comfortable task."""
    x = explode_tags(base).select("id", "tag")
    pairs = (
        x.withColumnRenamed("tag", "tag_a")
        .join(x.withColumnRenamed("tag", "tag_b"), "id")
        .filter(F.col("tag_a") < F.col("tag_b"))
    )
    n = base.count()
    freq = (
        pairs.groupBy("tag_a", "tag_b")
        .agg(F.count("*").alias("ndoc"))
        .filter(F.col("ndoc") >= min_freq * n)
        .select("tag_a", "tag_b", "ndoc")
    )
    codec = _train_codec(base)  # lossless SQ8 → 1-byte codes in the view
    if codec is not None:
        from filter_vectordb_spark.index.sq import encode_sq

        payload = encode_sq(base.select("id", "emb"), *codec)
        vec_col = "codes"
    else:
        payload = base.select("id", "emb")
        vec_col = "emb"
    view = (
        pairs.join(F.broadcast(freq), ["tag_a", "tag_b"])
        .join(payload, "id")
        .select("tag_a", "tag_b", "id", vec_col, "ndoc")
    )
    # one shuffle partition per (pair, salt) before the partitioned
    # write: without the pair grouping every writer task emits a sliver
    # into every pair directory (pairs × tasks small files — 9k at the
    # 100k benchmark, and file enumeration then dominates every read)
    nsplit = F.greatest(
        F.lit(1), F.ceil(F.col("ndoc") / F.lit(split_rows))
    ).cast("int")
    salted = view.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("id")), nsplit).cast("int")
    )
    # explicit numPartitions = Σ per-pair splits: AQE coalesces an
    # expression-only repartition's small shuffle partitions back into
    # one task, silently merging the salts — a user-specified count is
    # exempt from coalescing, so each (pair, salt) keeps its own task
    n_write_tasks = int(
        freq.agg(
            F.sum(
                F.greatest(F.lit(1), F.ceil(F.col("ndoc") / F.lit(split_rows)))
            ).alias("s")
        ).first()["s"]
        or 1
    )
    dest = out_dir if codec is None else f"{out_dir}/view"
    (
        salted.repartition(
            n_write_tasks, F.col("tag_a"), F.col("tag_b"), F.col("_salt")
        )
        .drop("_salt", "ndoc")
        .write.mode("overwrite")
        .partitionBy("tag_a", "tag_b")
        .parquet(dest)
    )
    if codec is not None:
        from filter_vectordb_spark.index.sq import write_grid

        write_grid(base.sparkSession, *codec, f"{out_dir}/grid")


def _score_pair_chunk(
    spark: SparkSession, part: DataFrame, qpdf, k: int,
    off: np.ndarray | None = None,
) -> DataFrame:
    """One ≤cap chunk of routed queries: broadcast the per-pair query
    matrices, prune the pair view to the chunk's pairs (broadcast join on
    the partition columns → dynamic pruning, never a literal IN-list),
    score with per-pair BLAS blocks — joining qemb onto every candidate
    row instead would ship nq × |pair| duplicate query vectors through
    Arrow (2 GB at the 100k benchmark); broadcasting the grouped query
    matrices ships each once.  Per batch and pair: X @ Q_pair.T, partial
    top-k per query — the W3 two-phase shape.

    off set (SQ8-coded view): the scan reads 1-byte codes and decodes
    x = code + off in-kernel — exact (lossless grid), 4-8× less I/O;
    integer queries additionally take the f32 GEMM (exact per the
    knn_join contract)."""
    by_pair: dict = {}
    for pair, grp in qpdf.groupby(["tag_a", "tag_b"]):
        by_pair[(int(pair[0]), int(pair[1]))] = (
            grp["qid"].to_numpy(dtype=np.int64),
            np.stack(grp["qemb"].to_numpy()).astype(np.float64),
        )
    use_f32 = off is not None and _f32_exact_ok(
        np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    )
    vec_col = "emb" if off is None else "codes"
    nq = len(qpdf)
    bc = spark.sparkContext.broadcast((by_pair, off, use_f32))

    def score(it):
        from filter_vectordb_spark.operators.knn import TaskPartials, flatten_fixed_list

        groups, boff, bf32 = bc.value
        out = TaskPartials(k, nq, False)
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            all_ids = batch.column("id").to_numpy(zero_copy_only=False)
            X_all = flatten_fixed_list(batch.column(vec_col), nb)
            ta = batch.column("tag_a").to_numpy(zero_copy_only=False)
            tb = batch.column("tag_b").to_numpy(zero_copy_only=False)
            # pair-contiguous by the partitionBy layout; stable argsort
            # over a fused key is ~free there and handles coalesced files.
            # The packed key is only injective for tags in [0, 2³¹): a
            # negative tb would sign-extend into ta's bits (ADVICE r5)
            ta64 = ta.astype(np.int64)
            tb64 = tb.astype(np.int64)
            if len(ta64) and (
                min(ta64.min(), tb64.min()) < 0
                or max(ta64.max(), tb64.max()) >= 1 << 31
            ):
                raise ValueError("tag ids must be in [0, 2^31) for the pair route")
            pk = ta64 << 32 | tb64
            order = np.argsort(pk, kind="stable")
            bounds = np.flatnonzero(np.diff(pk[order])) + 1
            for grp in np.split(order, bounds):
                qg = groups.get((int(ta[grp[0]]), int(tb[grp[0]])))
                if qg is None:
                    continue
                qids, Q = qg
                X = _group_matrix(X_all, grp, boff, bf32)
                Xf = X.astype(np.float64) if X.dtype == np.float32 else X
                _l2_topk(out, qids, Q, X, (Xf * Xf).sum(axis=1), all_ids[grp])
        yield from out.emit()

    hit_pairs = spark.createDataFrame(
        sorted({(int(a), int(b)) for a, b in zip(qpdf["tag_a"], qpdf["tag_b"])})
        or [(-1, -1)],
        "tag_a INT, tag_b INT",
    )
    pruned = part.join(F.broadcast(hit_pairs), ["tag_a", "tag_b"])
    return pruned.select("tag_a", "tag_b", "id", vec_col).mapInArrow(
        score, schema="qid long, id long, dist double"
    )


def tag_pair_knn(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int,
    base: DataFrame | None = None,
) -> DataFrame:
    """Q3 for 2-tag queries: route each query's ordered tag pair to its
    partition of the pair view; pairs below the build threshold (no
    sub-index — the reference falls back to its single-tag plans there,
    `filter/faiss/faiss.py:404-418`) take the exact sig-prefiltered scan
    over `base` instead, so the union is exact for every query.

    The hit/miss split is a pair of broadcast semi/anti joins against the
    (bounded) built-pair listing — no driver-side membership set — and
    the routed side goes through union_query_chunks_df: above the
    broadcast cap the flagship path chunk-and-unions instead of raising,
    with driver memory O(chunk) (VERDICT r4 items #1/#7).

    queries: (qid, qemb, tag_a INT, tag_b INT) with tag_a < tag_b.
    Returns (qid, id, dist, rank).
    """
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    part, off = _load_view(spark, out_dir)
    # bounded by the build threshold (≥ min_freq·n co-occurrence ⇒ at
    # most ~1/min_freq · pairs-per-doc entries) — broadcast-material
    avail = part.select("tag_a", "tag_b").distinct()
    q = queries.select("qid", "qemb", "tag_a", "tag_b")
    hit_q = q.join(F.broadcast(avail), ["tag_a", "tag_b"], "left_semi")
    scored = union_query_chunks_df(
        hit_q,
        lambda ch: _score_pair_chunk(spark, part, ch, k, off),
        "qid LONG, id LONG, dist DOUBLE",
    )
    hits = per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")
    if base is None:
        return hits
    miss_q = q.join(F.broadcast(avail), ["tag_a", "tag_b"], "left_anti").select(
        "qid", "qemb", F.array("tag_a", "tag_b").alias("qtags")
    )
    # skip the miss branch when every query routed: its plan would still
    # launch a full-corpus scan (crossJoin with an empty broadcast side
    # reads every base task) — at 100 TB that branch is the expensive one
    if miss_q.isEmpty():
        return hits
    # fused-kernel fallback (VERDICT r5 #6): filtered_knn_scan's numpy
    # block + bloom/exact tag check, not the crossJoin + interpreted
    # l2_sq lambda of filtered_knn_sig_expr (which stays registered as
    # the visible-plan oracle twin of the two-stage signature check)
    misses = filtered_knn_scan(miss_q, base, k).select("qid", "id", "dist", "rank")
    return hits.unionByName(misses)


def _score_tag_chunk(
    spark: SparkSession, part: DataFrame, qpdf, k: int,
    off: np.ndarray | None = None,
) -> DataFrame:
    """Single-tag half of _score_pair_chunk: broadcast the per-tag query
    matrices, prune the view to the chunk's tags (broadcast join on the
    partition column → pruning, never a literal IN-list), score each
    tag's rows against its probing queries with one BLAS block — the
    tag-equality join + interpreted l2_sq lambda this replaces duplicated
    every partition row per probing query AND scored outside codegen
    (VERDICT r5 #2; measured 14 vs 194 QPS on the 100k curve).  `off`:
    see _score_pair_chunk (SQ8-coded view decode)."""
    by_tag: dict = {}
    for tag, grp in qpdf.groupby("tag"):
        by_tag[int(tag)] = (
            grp["qid"].to_numpy(dtype=np.int64),
            np.stack(grp["qemb"].to_numpy()).astype(np.float64),
        )
    use_f32 = off is not None and _f32_exact_ok(
        np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    )
    vec_col = "emb" if off is None else "codes"
    nq = len(qpdf)
    bc = spark.sparkContext.broadcast((by_tag, off, use_f32))

    def score(it):
        from filter_vectordb_spark.operators.knn import TaskPartials, flatten_fixed_list

        groups, boff, bf32 = bc.value
        out = TaskPartials(k, nq, False)
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            all_ids = batch.column("id").to_numpy(zero_copy_only=False)
            X_all = flatten_fixed_list(batch.column(vec_col), nb)
            tags = batch.column("tag").to_numpy(zero_copy_only=False)
            order = np.argsort(tags, kind="stable")
            bounds = np.flatnonzero(np.diff(tags[order])) + 1
            for grp in np.split(order, bounds):
                qg = groups.get(int(tags[grp[0]]))
                if qg is None:
                    continue
                qids, Q = qg
                X = _group_matrix(X_all, grp, boff, bf32)
                Xf = X.astype(np.float64) if X.dtype == np.float32 else X
                _l2_topk(out, qids, Q, X, (Xf * Xf).sum(axis=1), all_ids[grp])
        yield from out.emit()

    hit_tags = spark.createDataFrame(
        sorted({(int(t),) for t in qpdf["tag"]}) or [(-1,)], "tag INT"
    )
    pruned = part.join(F.broadcast(hit_tags), "tag")
    return pruned.select("tag", "id", vec_col).mapInArrow(
        score, schema="qid long, id long, dist double"
    )


def tag_partition_knn(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Q3: route single-tag queries to their partition.  The broadcast
    join key IS the partition column, so the scan prunes to the query's
    tags only; scoring runs in the pair route's broadcast-grouped GEMM
    kernel.  Above the broadcast cap the query set chunk-and-unions
    (union_query_chunks_df) — driver memory O(chunk).

    queries: (qid, qemb, qtag INT).  Returns (qid, id, dist, rank).
    """
    from filter_vectordb_spark.operators.knn import union_query_chunks_df

    part, off = _load_view(spark, out_dir)
    q = queries.select("qid", "qemb", F.col("qtag").alias("tag"))
    scored = union_query_chunks_df(
        q,
        lambda ch: _score_tag_chunk(spark, part, ch, k, off),
        "qid LONG, id LONG, dist DOUBLE",
    )
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")
