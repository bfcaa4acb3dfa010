"""Engine plugin surface (SURVEY.md §2.10).

The reference's extension model: an engine is a class with a fixed
lifecycle — `__init__(metric, index_params)` → `fit(dataset)` /
`load_index(dataset)` → per query-config `set_query_arguments(...)` →
`query(X, k)` → `get_results()` (`filter/run.py:15-52`,
`filter/faiss/faiss.py:129-139,617-645`; track ABCs `filter/base.py:3-12`,
`streaming/base.py:5-31`).

Spark-idiomatic translation: the same lifecycle over a SparkSession, with
DataFrames in place of numpy matrices.  Engines declare which plan they
run; the harness times, evaluates recall against the in-engine exact plan
(the reference's own methodology, SURVEY.md §5), and persists results.
"""

from __future__ import annotations

from abc import ABC, abstractmethod

from pyspark.sql import DataFrame, SparkSession


class BaseEngine(ABC):
    """Lifecycle contract for pluggable search engines."""

    name: str = "base"

    def __init__(self, metric: str = "l2", index_params: dict | None = None):
        self.metric = metric
        self.index_params = index_params or {}
        self.query_args: dict = {}

    @abstractmethod
    def fit(self, spark: SparkSession, sf_dir: str) -> None:
        """Build whatever index tables the engine needs (B2/B3 analogs)."""

    def load_index(self, spark: SparkSession, sf_dir: str) -> bool:
        """Optionally restore a previously-built index (S5).  Returns
        False when nothing is cached; the runner falls back to fit()."""
        return False

    def set_query_arguments(self, **qargs) -> None:
        """Per-run-group search knobs (`set_query_arguments`,
        `filter/faiss/faiss.py:617-645`)."""
        self.query_args = qargs

    @abstractmethod
    def query(self, queries: DataFrame, k: int) -> DataFrame:
        """Top-k search: returns (qid, id, rank)."""

    def get_additional(self) -> dict:
        """Engine-reported attrs recorded with each run (A6)."""
        return {"metric": self.metric, **self.index_params, **self.query_args}

    # -- track-specific inputs (each reference track carries its own query
    # shape and ground-truth computation, `filter/run.py` vs `sparse/run.py`)

    def _base_source(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        """(id, emb) base vectors.  index_params["source"]="synth100k"
        swaps the sf_dir fixture for the staged 100k scale fixture, so
        the same engine grid can be curved at bench scale (the curve's
        QPS column is then batch throughput, matching how BASELINE.md
        numbers are defined — VERDICT r4 #5).  That fixture is read raw,
        `emb` BINARY: the scans, index builds and rescore joins decode it
        themselves (operators.knn.flatten_fixed_list)."""
        if self.index_params.get("source") == "synth100k":
            from filter_vectordb_spark.registry import _synth100k_base

            return _synth100k_base(spark).select("id", "emb")
        from filter_vectordb_spark.sources.vectors import dense_vectors

        return dense_vectors(spark, sf_dir).select("id", "emb")

    def _cache_key(self, sf_dir: str) -> str:
        """Index-cache key: the synth fixture has its own cache namespace
        (generator-versioned, sf-independent)."""
        if self.index_params.get("source") == "synth100k":
            return "synth100k_v2"
        return sf_dir

    def default_queries(self, spark: SparkSession, sf_dir: str) -> DataFrame:
        if self.index_params.get("source") == "synth100k":
            from filter_vectordb_spark.sources.synth import synth_queries

            nq = int(self.index_params.get("nq", 256))
            return synth_queries(spark, nq=nq).select("qid", "qemb")
        from filter_vectordb_spark.sources.vectors import dense_queries

        return dense_queries(spark, sf_dir)

    def exact_truth(
        self, spark: SparkSession, sf_dir: str, queries: DataFrame, k: int
    ) -> DataFrame:
        """(qid, id) exact ground truth for recall@k."""
        from filter_vectordb_spark.operators.knn import knn_join

        base = self._base_source(spark, sf_dir)
        return knn_join(queries, base, k, metric=self.metric).select("qid", "id")
