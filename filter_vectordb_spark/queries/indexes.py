"""index-backed search: IVF / PQ / SQ8 / IVF+PQ / IVF+SQ8 / tag-partition views (registered queries + DuckDB oracles).

Split out of the monolithic registry (VERDICT r6 #8); see
filter_vectordb_spark.queries.core for the shared registry surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.queries.core import (
    ORACLES,
    _B,
    _FILTERED_ORACLE,
    _index_cache_dir,
    _l2,
    register,
)
from filter_vectordb_spark.sources.vectors import DEFAULT_NQ, dense_queries, dense_vectors

# --------------------------------------------------------- index-backed search
#
# The reference separates fit()/load_index() from query()
# (`filter/run.py:15-52`): an index is built ONCE and then served.  The
# registry mirrors that with a deterministic on-disk cache keyed by sf_dir:
# first invocation builds and saves (S5), every later one loads — so the
# bench times SEARCH, not build, exactly like the reference's QPS runs.



@register(
    "ivf_full_probe",
    ORACLES["knn_l2"],
)
def ivf_full_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B3+Q4: KMeans-IVF (built once per sf_dir, served from the saved
    lake layout), searched probing ALL inverted lists — exactly
    brute-force k-NN regardless of clustering, hence the oracle is the
    plain k-NN oracle.  Smaller nprobe is recall-tested in tests/."""
    from filter_vectordb_spark.index.ivf import build_index, load_index, search

    q = dense_queries(spark, sf_dir)
    nlist = 16
    out = _index_cache_dir(sf_dir, "ivfflat16")
    entries, centroids, codec = load_index(spark, out) or build_index(
        dense_vectors(spark, sf_dir).select("id", "emb"), out, "flat", nlist
    )
    return search(q, entries, centroids, codec, None, 10, nlist, 10).select(
        "qid", "rank", "id"
    )


@register(
    "pq_adc_knn",
    ORACLES["knn_l2"],
)
def pq_adc_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC search + exact rescore — the memory-scale
    path for dense ANN (the reference's DiskANN PQ knobs,
    `ood/diskann/diskann-in-mem.py:90-92`, realized as Spark tables).
    Codes table built once per sf_dir (32 B/vector, 8× vs float32) and
    served from the lake; the full-corpus pass reads CODES ONLY, then
    nq×128 survivors are exactly rescored — equal to brute-force k-NN
    whenever the true top-k survive the cut (pinned in tests/test_pq.py
    with margin: refine=64 already achieves recall 1.0 on the fixtures),
    hence the plain k-NN oracle."""
    from filter_vectordb_spark.index.ivf import build_index, load_index, search

    q = dense_queries(spark, sf_dir)
    out = _index_cache_dir(sf_dir, "ivfpq1_32x64")
    base = dense_vectors(spark, sf_dir).select("id", "emb")
    codes, _, codec = load_index(spark, out) or build_index(base, out, "pq", nsub=32, ksub=64)
    return search(q, codes, None, codec, base, 10, 1, 128).select("qid", "rank", "id")


@register(
    "sq_knn",
    ORACLES["knn_l2"],
)
def sq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantization search + exact rescore — the codec half of
    the reference's faiss indexkey (`IVF16384,SQ8`,
    `filter/faiss/faiss.py:133`).  Codes table (1 byte/component, 4× vs
    float32) built once per sf_dir and served from the lake; the corpus
    pass reads CODES ONLY, survivors are exactly rescored — equal to
    brute-force k-NN whenever the true top-k survive the cut (SQ8's
    per-component error is ≤ half a grid step; margin pinned in
    tests/test_sq.py), hence the plain k-NN oracle."""
    from filter_vectordb_spark.index.ivf import build_index, load_index, search

    q = dense_queries(spark, sf_dir)
    out = _index_cache_dir(sf_dir, "ivfsq1")
    base = dense_vectors(spark, sf_dir).select("id", "emb")
    codes, _, codec = load_index(spark, out) or build_index(base, out, "sq8")
    return search(q, codes, None, codec, base, 10, 1, 64).select("qid", "rank", "id")


@register(
    "ivfsq_knn",
    ORACLES["knn_l2"],
)
def ivfsq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+SQ8 composed index — the reference's faiss index architecture
    verbatim (`IVF16384,SQ8`, `filter/faiss/faiss.py:133`): coarse
    partitioner prunes WHICH rows are scanned, the 1-byte affine codes
    decide HOW CHEAPLY; built once per sf_dir, probed full
    (nprobe=nlist) with exact rescore — the oracle-checkable
    configuration.  Partial-nprobe recall pinned in tests/test_sq.py."""
    from filter_vectordb_spark.index.ivf import build_index, load_index, search

    q = dense_queries(spark, sf_dir)
    nlist = 16
    out = _index_cache_dir(sf_dir, "ivfsq16")
    base = dense_vectors(spark, sf_dir).select("id", "emb")
    entries, centroids, codec = load_index(spark, out) or build_index(base, out, "sq8", nlist)
    return search(q, entries, centroids, codec, base, 10, nlist, 64).select(
        "qid", "rank", "id"
    )


@register(
    "ivf_incremental_search",
    ORACLES["knn_l2"],
)
def ivf_incremental_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance: IVF built on the first 3/4 of the base, the rest
    INSERTED by nearest-centroid assignment (no refit — the streaming
    insert contract), then full-probe searched.  Full probe over the
    maintained table is exactly brute force over the whole base, so the
    plain k-NN oracle checks that inserts neither lose nor duplicate
    rows."""
    from filter_vectordb_spark.index.ivf import FLAT, build_ivf, ivf_insert, search

    base = dense_vectors(spark, sf_dir).select("id", "emb")
    n = base.count()
    cut = (3 * n) // 4
    nlist = 16
    assignments, centroids = build_ivf(base.filter(F.col("id") < cut), nlist)
    merged = ivf_insert(assignments, centroids, base.filter(F.col("id") >= cut))
    q = dense_queries(spark, sf_dir)
    return search(q, merged, centroids, FLAT, None, 10, nlist, 10).select(
        "qid", "rank", "id"
    )


@register(
    "ivfpq_knn",
    ORACLES["knn_l2"],
)
def ivfpq_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed index (the faiss `IVFx,PQy` architecture as lake
    tables): coarse partitioner prunes WHICH rows are scanned, PQ codes
    decide HOW CHEAPLY; built once per sf_dir, probed full (nprobe=nlist)
    with exact rescore — the oracle-checkable configuration.  Partial
    nprobe recall curve pinned in tests/test_pq.py."""
    from filter_vectordb_spark.index.ivf import build_index, load_index, search

    q = dense_queries(spark, sf_dir)
    nlist = 16
    out = _index_cache_dir(sf_dir, "ivfpq16_32x64")
    base = dense_vectors(spark, sf_dir).select("id", "emb")
    entries, centroids, codec = load_index(spark, out) or build_index(
        base, out, "pq", nlist, nsub=32, ksub=64
    )
    return search(q, entries, centroids, codec, base, 10, nlist, 128).select(
        "qid", "rank", "id"
    )


@register(
    "tag_partition_knn",
    f"""
WITH {_B},
q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe,
      CAST(label AS INT) AS qtag FROM embeddings WHERE vec_id < {DEFAULT_NQ}),
d AS (SELECT q.qid, b.id, {_l2('q.qe', 'b.e')} AS dist
      FROM q, b WHERE list_contains(b.tags, q.qtag)),
r AS (SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM d)
SELECT qid, rank, id FROM r WHERE rank <= 10
""",
)
def tag_partition_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2+Q3: tag-partitioned materialized view (built once per sf_dir,
    then served) + partition-pruned search for single-tag queries (exact
    within the tag ⇒ oracle-checkable)."""
    from filter_vectordb_spark.index.tagpart import (
        build_tag_partitions,
        tag_partition_knn,
    )

    emb = dense_queries(spark, sf_dir)
    q = emb.select("qid", "qemb", F.col("qtags")[0].alias("qtag"))
    from filter_vectordb_spark.index.tagpart import view_is_built

    out = _index_cache_dir(sf_dir, "tagpart")
    if not view_is_built(out):
        base = dense_vectors(spark, sf_dir)
        build_tag_partitions(base, out, min_freq=0.0)
    return tag_partition_knn(spark, out, q, 10).select("qid", "rank", "id")


@register("tag_pair_partition_knn", _FILTERED_ORACLE)
def tag_pair_partition_knn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B2 pair half + Q3: 2-tag queries routed to prebuilt tag-PAIR
    partition views (reference threshold 0.003·nb,
    `filter/faiss/faiss.py:289-337`); below-threshold pairs fall back to
    the exact sig-prefiltered scan, so the result equals the filtered
    brute-force oracle for every query."""
    from filter_vectordb_spark.index.tagpart import (
        build_tag_pair_partitions,
        tag_pair_knn,
        view_is_built,
    )

    base = dense_vectors(spark, sf_dir)
    emb = dense_queries(spark, sf_dir)
    q = emb.select(
        "qid",
        "qemb",
        F.least(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_a"),
        F.greatest(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_b"),
    )
    out = _index_cache_dir(sf_dir, "tagpair")
    if not view_is_built(out):
        build_tag_pair_partitions(base, out, min_freq=0.003)
    return tag_pair_knn(spark, out, q, 10, base=base).select("qid", "rank", "id")


