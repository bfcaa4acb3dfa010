"""Built-in engines for the harness — each wraps one physical plan family
from SURVEY.md §2.8: the exact scan (bruteforce), the selectivity router
(filtered), hyperplane LSH (lsh), sparse MIPS (sparse), and one IVF ×
codec index class serving ivf, pq, sq8 and ivfsq."""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.harness.base import BaseEngine
from filter_vectordb_spark.index.ivf import build_index, load_index, search
from filter_vectordb_spark.operators.filtered_knn import filtered_knn
from filter_vectordb_spark.operators.knn import knn_join
from filter_vectordb_spark.sources.vectors import dense_vectors


class BruteForceEngine(BaseEngine):
    """Exact scan (Q1/J3) — the recall=1 reference point, like the
    reference's bruteforce runner."""

    name = "bruteforce"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        self.base = self._base_source(spark, sf_dir)

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        strategy = self.query_args.get("strategy", "vectorized")
        return knn_join(queries, self.base, k, metric=self.metric, strategy=strategy)


class FilteredEngine(BaseEngine):
    """Selectivity-routed filtered k-NN (the reference's hybrid engine);
    query knob: mt_threshold (`filter/faiss/config.yaml:54-63`)."""

    name = "filtered"

    def _tagged_base(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """The router needs tags+sig riding with the vectors; the synth
        fixture stages its tagged form once alongside (id, emb)."""
        if self.index_params.get("source") == "synth100k":
            from filter_vectordb_spark.registry import _index_cache_dir, _is_built
            from filter_vectordb_spark.sources.synth import synth_uint8_base

            out = _index_cache_dir("synth100k_v2", "base_tagged")
            if not _is_built(out):
                synth_uint8_base(spark).write.mode("overwrite").parquet(out)
            return spark.read.parquet(out)
        return dense_vectors(spark, sf_dir)

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        from filter_vectordb_spark.operators.postings import explode_tags

        self.base = self._tagged_base(spark, sf_dir)
        self.n_base = self.base.count()
        # A1 routing statistics belong to fit(), not to every query run
        # (the reference computes them once at fit time,
        # `filter/faiss/faiss.py:238-239`); without this every measured
        # run paid a full base explode+shuffle before routing
        import pyspark.sql.functions as F

        self.stats = (
            explode_tags(self.base)
            .groupBy("tag")
            .agg(F.count("*").alias("ndoc"))
            .localCheckpoint()
        )

    def default_queries(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        if self.index_params.get("source") == "synth100k":
            from filter_vectordb_spark.sources.synth import synth_queries

            nq = int(self.index_params.get("nq", 256))
            return synth_queries(spark, nq=nq)
        from filter_vectordb_spark.sources.vectors import dense_queries

        return dense_queries(spark, sf_dir)

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        mt = float(self.query_args.get("mt_threshold", 0.01))
        return filtered_knn(
            queries, self.base, k, mt_threshold=mt, n_base=self.n_base,
            stats=self.stats,
        )

    def exact_truth(self, spark, sf_dir, queries, k):
        """Ground truth respects the tag predicate (the reference's
        filtered-track GT is the filtered exact top-k)."""
        from filter_vectordb_spark.operators.filtered_knn import (
            filtered_knn_metadata_first,
        )

        return filtered_knn_metadata_first(queries, self.base, k).select("qid", "id")


class LSHEngine(BaseEngine):
    """Hyperplane-LSH cosine ANN (index/lsh.py); query knob: seed."""

    name = "lsh"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        self.base = self._base_source(spark, sf_dir)
        self.dim = len(self.base.select("emb").first()[0])

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        from filter_vectordb_spark.index.lsh import lsh_cosine_knn

        seed = int(self.query_args.get("seed", 42))
        return lsh_cosine_knn(queries, self.base, k, self.dim, seed=seed).select(
            "qid", "id", "rank"
        )

    def exact_truth(self, spark, sf_dir, queries, k):
        """LSH answers COSINE top-k — its recall must be judged against
        the cosine ground truth, not the engine-default L2 one."""
        from filter_vectordb_spark.operators.knn import knn_join

        base = self._base_source(spark, sf_dir)
        return knn_join(queries, base, k, metric="cos").select("qid", "id")


class SparseEngine(BaseEngine):
    """Sparse MIPS track (Q5/Q6); query knobs: alpha (F6 mass truncation)
    and budget (W4 heaviest-dims surrogate).  Queries are the term-table
    form (qid, term, w) — tracks carry their own query schemas, exactly
    as the reference's tracks do."""

    name = "sparse"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        from filter_vectordb_spark.operators.sparse import docs_to_terms
        from filter_vectordb_spark.sources.tables import load_table

        self.dterms = docs_to_terms(load_table(spark, "documents", sf_dir))

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        from filter_vectordb_spark.operators.sparse import (
            budget_truncate,
            sparse_topk,
            sparsify_alpha,
        )

        q = queries
        if "alpha" in self.query_args:
            q = sparsify_alpha(q, float(self.query_args["alpha"]))
        if "budget" in self.query_args:
            q = budget_truncate(q, int(self.query_args["budget"]))
        return sparse_topk(q, self.dterms, k).select(
            "qid", F.col("id"), "rank"
        )

    def default_queries(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        return (
            self.dterms.filter(F.col("id") < 5).withColumnRenamed("id", "qid")
        )

    def exact_truth(self, spark, sf_dir, queries, k):
        from filter_vectordb_spark.operators.sparse import sparse_topk

        return sparse_topk(queries, self.dterms, k).select("qid", "id")


class IVFCodecEngine(BaseEngine):
    """One IVF × codec index (index/ivf.py — the reference's faiss
    factory string, `IVF…,SQ8`, `filter/faiss/faiss.py:133`), registered
    under four names:

      ivf    IVF-flat: exact within the probed lists
      pq     PQ alone (one list), index_params nsub/ksub (32×64)
      sq8    SQ8 alone (one list)
      ivfsq  IVF+SQ8

    index_params of the IVF kinds: nlist (16), max_iter, train_rows.
    Query knobs: nprobe (scan fraction, default nlist) and refine (the
    exact-rescore cut, default k for an exact codec, else 4k) — the
    dials the reference sweeps.  fit() builds, persists to the shared
    index cache and loads (the reference's fit()/load_index() split,
    `filter/run.py:15-52`): later runs, and the registry's own queries,
    load instead of rebuilding."""

    #: engine name → (codec, has coarse lists)
    KINDS = {
        "ivf": ("flat", True),
        "pq": ("pq", False),
        "sq8": ("sq8", False),
        "ivfsq": ("sq8", True),
    }

    def __init__(self, name: str, metric: str = "l2", index_params: dict | None = None):
        super().__init__(metric, index_params)
        self.name = name
        self.kind, coarse = self.KINDS[name]
        p = self.index_params
        self.nlist = int(p.get("nlist", 16)) if coarse else 1
        self.train = {}
        if coarse:
            self.train.update(max_iter=int(p.get("max_iter", 8)), train_rows=p.get("train_rows"))
        if self.kind == "pq":
            self.train.update(nsub=int(p.get("nsub", 32)), ksub=int(p.get("ksub", 64)))

    def _out(self, sf_dir: str, kind: str) -> str:
        """Cache directory `ivf{flat|sq|pq}{nlist}[_{nsub}x{ksub}]`."""
        from filter_vectordb_spark.registry import _index_cache_dir

        key = f"ivf{kind.removesuffix('8')}{self.nlist}"
        if kind == "pq":
            key += f"_{self.train['nsub']}x{self.train['ksub']}"
        return _index_cache_dir(self._cache_key(sf_dir), key)

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        """A coded IVF index reuses a saved same-nlist IVF-flat
        clustering (k-means is the expensive half; the codes are
        cheap)."""
        shared = None
        if self.kind != "flat" and self.nlist > 1:
            shared = load_index(spark, self._out(sf_dir, "flat"))
        self.base = self._base_source(spark, sf_dir)
        out = self._out(sf_dir, self.kind)
        self.entries, self.centroids, self.codec = build_index(
            self.base, out, self.kind, self.nlist, shared and shared[:2], **self.train
        )

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        """S5: serve from the shared per-source cache when an index with
        the same parameters was already built."""
        loaded = load_index(spark, self._out(sf_dir, self.kind))
        if loaded is None:
            return False
        self.entries, self.centroids, self.codec = loaded
        self.base = self._base_source(spark, sf_dir)
        return True

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        nprobe = int(self.query_args.get("nprobe", self.nlist))
        refine = int(self.query_args.get("refine", k if self.codec.exact else 4 * k))
        return search(
            queries, self.entries, self.centroids, self.codec, self.base, k, nprobe, refine,
            self.metric,
        )


ENGINES = {
    **{e.name: e for e in (BruteForceEngine, FilteredEngine, LSHEngine, SparseEngine)},
    **{name: functools.partial(IVFCodecEngine, name) for name in IVFCodecEngine.KINDS},
}
