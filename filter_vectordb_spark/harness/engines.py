"""Built-in engines for the harness — each wraps one physical plan family
from SURVEY.md §2.8."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.harness.base import BaseEngine
from filter_vectordb_spark.index.ivf import FLAT, build_ivf, search
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


class IVFEngine(BaseEngine):
    """KMeans-IVF (B3/Q4); query knob: nprobe (the faiss nprobe analog)."""

    name = "ivf"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        """Build AND persist to the shared index cache (fit()/load split,
        the reference's `filter/run.py:15-52` lifecycle) — the saved
        partitioned layout is what makes probes partition pruning, and
        later runs (and the registry's own queries) load it instead of
        re-running k-means."""
        from filter_vectordb_spark.index.ivf import load_ivf, save_ivf
        from filter_vectordb_spark.registry import _index_cache_dir

        nlist = int(self.index_params.get("nlist", 16))
        base = self._base_source(spark, sf_dir)
        assignments, centroids = build_ivf(
            base,
            nlist,
            max_iter=int(self.index_params.get("max_iter", 8)),
            train_rows=self.index_params.get("train_rows"),
        )
        out = _index_cache_dir(self._cache_key(sf_dir), f"ivfflat{nlist}")
        save_ivf(assignments, centroids, out)
        self.assignments, self.centroids = load_ivf(spark, out)
        self.nlist = nlist

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        """S5: serve from the shared per-source cache when the same-nlist
        index was already built."""
        from filter_vectordb_spark.index.ivf import load_ivf
        from filter_vectordb_spark.registry import _index_cache_dir, _is_built

        nlist = int(self.index_params.get("nlist", 16))
        out = _index_cache_dir(self._cache_key(sf_dir), f"ivfflat{nlist}")
        if not _is_built(f"{out}/entries", f"{out}/centroids"):
            return False
        self.assignments, self.centroids = load_ivf(spark, out)
        self.nlist = nlist
        return True

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        nprobe = int(self.query_args.get("nprobe", self.nlist))
        return search(
            queries, self.assignments, self.centroids, FLAT, None, k, nprobe, k, self.metric
        )


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


class PQEngine(BaseEngine):
    """PQ ADC scan + exact rescore (index/pq.py); query knob: refine —
    the ADC-cut width, the recall/scan-cost dial."""

    name = "pq"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        from filter_vectordb_spark.index.pq import encode_pq, train_pq

        self.base = self._base_source(spark, sf_dir)
        nsub = int(self.index_params.get("nsub", 32))
        ksub = int(self.index_params.get("ksub", 64))
        self.codebooks = train_pq(self.base, nsub=nsub, ksub=ksub)
        self.codes = encode_pq(self.base, self.codebooks).localCheckpoint()

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        """S5: serve codes + codebooks from the registry's per-sf_dir
        cache when the same nsub=32/ksub=64 index was already built."""
        from filter_vectordb_spark.index.pq import load_pq
        from filter_vectordb_spark.registry import _index_cache_dir, _is_built

        if (
            int(self.index_params.get("nsub", 32)) != 32
            or int(self.index_params.get("ksub", 64)) != 64
        ):
            return False
        out = _index_cache_dir(self._cache_key(sf_dir), "ivfpq1_32x64")
        if not _is_built(f"{out}/entries", f"{out}/codebooks"):
            return False
        self.base = self._base_source(spark, sf_dir)
        self.codes, self.codebooks = load_pq(spark, out)
        return True

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        from filter_vectordb_spark.index.pq import pq_codec

        refine = int(self.query_args.get("refine", 4 * k))
        codec = pq_codec(self.codebooks)
        return search(queries, self.codes, None, codec, self.base, k, 1, refine, self.metric)


class SQEngine(BaseEngine):
    """SQ8 reconstruct scan + exact rescore (index/sq.py); query knob:
    refine — same dial as PQ but over the 1-byte affine codec."""

    name = "sq8"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        from filter_vectordb_spark.index.sq import encode_sq, train_sq

        self.base = self._base_source(spark, sf_dir)
        self.vmin, self.vmax = train_sq(self.base)
        self.codes = encode_sq(self.base, self.vmin, self.vmax).localCheckpoint()

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        """S5: serve the codes table + affine grid from the registry's
        per-sf_dir cache when present."""
        from filter_vectordb_spark.index.sq import load_sq
        from filter_vectordb_spark.registry import _index_cache_dir, _is_built

        out = _index_cache_dir(self._cache_key(sf_dir), "ivfsq1")
        if not _is_built(f"{out}/entries", f"{out}/grid"):
            return False
        self.base = self._base_source(spark, sf_dir)
        self.codes, self.vmin, self.vmax = load_sq(spark, out)
        return True

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        from filter_vectordb_spark.index.sq import sq_codec

        refine = int(self.query_args.get("refine", 4 * k))
        codec = sq_codec(self.vmin, self.vmax)
        return search(queries, self.codes, None, codec, self.base, k, 1, refine, self.metric)


class IVFSQEngine(BaseEngine):
    """IVF+SQ8 composed index (index/ivfsq.py — the reference's exact
    faiss indexkey `IVF…,SQ8`); query knobs: nprobe (scan fraction) and
    refine (exact-rescore cut) — the same dials the reference sweeps."""

    name = "ivfsq"

    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        from filter_vectordb_spark.index.ivfsq import (
            build_ivfsq,
            load_ivfsq,
            save_ivfsq,
        )
        from filter_vectordb_spark.registry import _index_cache_dir

        nlist = int(self.index_params.get("nlist", 16))
        self.base = self._base_source(spark, sf_dir)
        ivf_out = _index_cache_dir(self._cache_key(sf_dir), f"ivfflat{nlist}")
        from filter_vectordb_spark.registry import _is_built

        if _is_built(f"{ivf_out}/entries", f"{ivf_out}/centroids"):
            # share the coarse clustering with a same-nlist IVF build
            # (k-means is the expensive half; the SQ grid+codes are cheap)
            from filter_vectordb_spark.index.ivf import load_ivf
            from filter_vectordb_spark.index.sq import encode_sq, train_sq

            assignments, centroids = load_ivf(spark, ivf_out)
            vmin, vmax = train_sq(self.base)
            codes = encode_sq(self.base, vmin, vmax)
            entries = assignments.select("id", "centroid_id").join(codes, "id")
        else:
            entries, centroids, vmin, vmax = build_ivfsq(
                self.base,
                nlist=nlist,
                max_iter=int(self.index_params.get("max_iter", 8)),
                train_rows=self.index_params.get("train_rows"),
            )
        out = _index_cache_dir(self._cache_key(sf_dir), f"ivfsq{nlist}")
        save_ivfsq(entries, centroids, vmin, vmax, out)
        self.entries, self.centroids, self.vmin, self.vmax = load_ivfsq(spark, out)
        self.nlist = nlist

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        from filter_vectordb_spark.index.ivfsq import load_ivfsq
        from filter_vectordb_spark.registry import _index_cache_dir, _is_built

        nlist = int(self.index_params.get("nlist", 16))
        out = _index_cache_dir(self._cache_key(sf_dir), f"ivfsq{nlist}")
        if not _is_built(f"{out}/entries", f"{out}/centroids", f"{out}/grid"):
            return False
        self.base = self._base_source(spark, sf_dir)
        self.entries, self.centroids, self.vmin, self.vmax = load_ivfsq(spark, out)
        self.nlist = nlist
        return True

    def query(self, queries: DataFrame, k: int) -> DataFrame:
        from filter_vectordb_spark.index.sq import sq_codec

        nprobe = int(self.query_args.get("nprobe", self.nlist))
        refine = int(self.query_args.get("refine", 4 * k))
        codec = sq_codec(self.vmin, self.vmax)
        return search(
            queries, self.entries, self.centroids, codec, self.base, k, nprobe, refine, self.metric
        )


ENGINES = {
    e.name: e
    for e in (
        BruteForceEngine,
        IVFEngine,
        FilteredEngine,
        LSHEngine,
        SparseEngine,
        PQEngine,
        SQEngine,
        IVFSQEngine,
    )
}
