"""Tag-partitioned materialized views (SURVEY.md §2.7 B2, §2.8 Q3).

The reference pre-builds a dedicated HNSW sub-index for every frequent tag
(freq ≥ 0.003) and frequent tag pair, sharing the base vector storage
(`filter/faiss/faiss.py:254-337`).  The Spark equivalent is a materialized
view partitioned by tag: the same rows, laid out so a tag-equality
predicate selects partition directories — "index selection" is a
driver-side lookup of the probed keys' files, and storage is shared
because Parquet is columnar and the view holds only (tag, id, emb) for
frequent tags.  Both views serve through the filter index's one
direct-read kernel (filteridx_kernels._view_scan): a partition-local
top-k per task, then one global merge.

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
#: _SUCCESS mtime) — the grid read is a whole (tiny) Spark job and the
#: file listing a directory walk, pure per-batch overhead on a serving
#: path otherwise, and the freshness token invalidates on rebuild (same
#: pattern as ivf._LOAD_CACHE)
_VIEW_CACHE: dict = {}


def _load_view(spark: SparkSession, out_dir: str, keys: tuple):
    """(files, decode_offset | None) of a built view: files maps each
    partition key tuple (`keys` names the partition columns) to its
    parquet files (filteridx_kernels._view_files); coded views decode
    as x = codes + (vmin + 128) (scale is exactly 1 on a lossless
    grid).  Layout detection is a local-path existence check — the same
    shared-filesystem contract as the direct-read serving path."""
    from filter_vectordb_spark.index.filteridx_kernels import _view_files
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
            hit = (_view_files(f"{out_dir}/view", keys), vmin + 128.0)
        else:
            hit = (_view_files(out_dir, keys), None)
        for stale in [k for k in _VIEW_CACHE if k[1] == out_dir]:
            del _VIEW_CACHE[stale]  # at most one live layout per path
        _VIEW_CACHE[key] = hit
    return hit


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


def _view_knn(
    spark: SparkSession,
    out_dir: str,
    q: DataFrame,
    keys: tuple,
    k: int,
    base: DataFrame | None = None,
) -> DataFrame:
    """Exact L2 top-k of q(qid, qemb, *keys) over the view at out_dir.
    Per union_query_chunks_df chunk (driver memory O(chunk) above the
    broadcast cap): the queries whose key has files are one
    filteridx_kernels._view_scan launch; with `base`, the rest score
    through filtered_knn's fused tag-filtered scan over base (their keys
    as the conjunction).  qids are disjoint, so one per-qid merge
    ranks both.  Without `base`, a query whose key has no files has no
    result; a query with a null key has none either way."""
    from filter_vectordb_spark.index.filteridx_kernels import _PARTIAL, _view_scan
    from filter_vectordb_spark.operators.filtered_knn import _filtered_scan_chunk
    from filter_vectordb_spark.operators.knn import (
        _union_all,
        scan_units,
        union_query_chunks_df,
    )

    files, off = _load_view(spark, out_dir, keys)

    def score(ch):
        kt = [tuple(map(int, t)) for t in zip(*(ch[c] for c in keys))]
        hit = np.array([bool(files.get(t)) for t in kt], dtype=bool)
        scans = [_view_scan(spark, files, ch[hit], keys, k, off)] if hit.any() else []
        parts = [scan_units(spark, scans, _PARTIAL)]
        if base is not None and not hit.all():
            miss = ch[~hit].assign(qtags=[list(t) for t, h in zip(kt, hit) if not h])
            parts.append(_filtered_scan_chunk(miss, base, k))
        return _union_all(parts)

    scored = union_query_chunks_df(q.dropna(subset=list(keys)), score, _PARTIAL)
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")


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
    `filter/faiss/faiss.py:404-418`) take the exact tag-filtered scan
    over `base` instead, so the result is exact for every query.

    The hit/miss split is a driver-side lookup in the built-pair
    listing, which the build threshold bounds (≥ min_freq·n
    co-occurrence ⇒ at most ~1/min_freq · pairs-per-doc entries); a
    chunk with no misses launches no base scan (_view_knn).

    queries: (qid, qemb, tag_a INT, tag_b INT) with tag_a < tag_b.
    Returns (qid, id, dist, rank).
    """
    q = queries.select("qid", "qemb", "tag_a", "tag_b")
    return _view_knn(spark, out_dir, q, ("tag_a", "tag_b"), k, base)


def tag_partition_knn(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int,
) -> DataFrame:
    """Q3: route single-tag queries to their partition — the scan opens
    only the queried tags' files, scored in the pair route's grouped
    GEMM kernel (_view_knn).  Above the broadcast cap the query set
    chunk-and-unions (union_query_chunks_df) — driver memory O(chunk).

    queries: (qid, qemb, qtag INT).  Returns (qid, id, dist, rank).
    """
    q = queries.select("qid", "qemb", F.col("qtag").alias("tag"))
    return _view_knn(spark, out_dir, q, ("tag",), k)
