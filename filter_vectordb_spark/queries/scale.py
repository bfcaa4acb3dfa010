"""bench-honesty scale points: 100k/1M/10M fixtures, OOD serving, msturing-1M replay, recall/QPS curves (registered queries + DuckDB oracles).

Split out of the monolithic registry (VERDICT r6 #8); fixture staging
lives in filter_vectordb_spark.queries.fixtures (VERDICT r7 #8); see
filter_vectordb_spark.queries.core for the shared registry surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.queries.core import (
    _index_cache_dir,
    _is_built,
    register,
)
from filter_vectordb_spark.queries.fixtures import (
    _gt_kth_10m,
    _ivfsq_1m,
    _ivfsq_10m,
    _synth1m_base,
    _synth10m_base,
    _synth100k_base,
    _synth_msturing1m,
    _synth_ood_queries_staged,
    _synth_queries_staged,
)

@register("filtered_knn_100k")  # bench-scale point — rows-only (oracle infeasible at 1024×100k)
def filtered_knn_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-honesty point for BASELINE row 1 (yfcc-10M filtered search,
    3,200 QPS @ ≥90% recall on 8 vCPUs): 1,024 two-tag queries against a
    deterministic 100k × 192-d uint8 base through the tag-PAIR partition
    index (built once, served after), exact within each pair partition —
    recall 1.0 by construction, so QPS is the only free variable.
    Fixture is sf-independent; the cache key is the fixture itself."""
    from filter_vectordb_spark.index.tagpart import (
        build_tag_pair_partitions,
        tag_pair_knn,
        view_is_built,
    )
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    out = _index_cache_dir("synth100k_v2", "tagpair_sq8")
    if not view_is_built(out):
        build_tag_pair_partitions(
            synth_uint8_base(spark), out, min_freq=0.003
        )
    q = _synth_queries_staged(spark, nq=8192).select(
        "qid",
        "qemb",
        F.least(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_a"),
        F.greatest(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_b"),
    )
    return tag_pair_knn(spark, out, q, 10).select("qid", "rank", "id")


@register(
    "filtered_knn_100k_nq32",
    """
WITH cand AS (
  SELECT q.range AS qid, d.range AS id
  FROM range(32) q, range(100000) d
  WHERE d.range % 10 = q.range % 10 AND d.range % 7 = q.range % 7
),
eq AS (
  SELECT i.range AS id, j.range AS j,
         (xor(i.range*2654435761, (j.range+1)*2246822519) >> 11) % 251 AS v
  FROM range(32) i, range(192) j
),
ed AS (
  SELECT i.id, j.range AS j,
         (xor(i.id*2654435761, (j.range+1)*2246822519) >> 11) % 251 AS v
  FROM (SELECT DISTINCT id FROM cand) i, range(192) j
),
dist AS (
  SELECT c.qid, c.id, SUM((eq.v - ed.v)*(eq.v - ed.v)) AS dist
  FROM cand c
  JOIN eq ON eq.id = c.qid
  JOIN ed ON ed.id = c.id AND ed.j = eq.j
  GROUP BY c.qid, c.id
),
r AS (SELECT qid, id, dist,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM dist)
SELECT qid, CAST(rank AS INT) AS rank, id, CAST(dist AS BIGINT) AS dist
FROM r WHERE rank <= 10
""",
)
def filtered_knn_100k_nq32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First HASH-CHECKED row for the flagship scale path (VERDICT r4
    #6): 32 of filtered_knn_100k's 1,024 queries through the identical
    build_tag_pair_partitions + tag_pair_knn route (every pair is above
    the build threshold, so this exercises the pair-partition route
    end-to-end).  The v2 generator is closed-form, so the DuckDB oracle
    REGENERATES the 100k corpus from `range()` and computes the exact
    filtered k-NN — the scale path's first value-level correctness row.
    L2² over 0..250 integers is integer-exact in float64, cast BIGINT on
    both sides; ties break by id."""
    from filter_vectordb_spark.index.tagpart import (
        build_tag_pair_partitions,
        tag_pair_knn,
        view_is_built,
    )
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base

    out = _index_cache_dir("synth100k_v2", "tagpair_sq8")
    if not view_is_built(out):
        build_tag_pair_partitions(synth_uint8_base(spark), out, min_freq=0.003)
    q = synth_queries(spark, nq=32).select(
        "qid",
        "qemb",
        F.least(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_a"),
        F.greatest(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_b"),
    )
    return tag_pair_knn(spark, out, q, 10).select(
        "qid", "rank", "id", F.col("dist").cast("long").alias("dist")
    )


# ------------------------------------------- yfcc-shaped filter track
# BASELINE row 1 at the reference's own shape: heavy-tailed 262k-tag
# vocabulary (sources/synth yfcc model), 1-2-tag conjunctions spanning
# the selectivity range, served through index/filteridx's four exact
# routes (pair view / tag view / tag view + conjunction mask /
# metadata-first codes scan) — the reference's mt_threshold hybrid
# re-expressed.  filtered_knn_100k (modular 30-tag model) stays as the
# pair-view-only point; these rows exercise the full router.

_YFCC_NQ32_ORACLE = """
WITH draws AS (
  SELECT id, di, ((1::BIGINT << lvl) - 1 + ((g >> 23) % (1::BIGINT << lvl))) AS tag
  FROM (
    SELECT i.range AS id, d.range AS di,
           xor(i.range*2654435761, (d.range+1)*668265263) AS g,
           (xor(i.range*2654435761, (d.range+1)*668265263) >> 5) % 18 AS lvl
    FROM range(100000) i, range(4) d
  )
),
dtags AS (SELECT DISTINCT id, tag FROM draws),
qdraws AS (
  SELECT id AS qid, tag, MIN(di) AS fd FROM draws WHERE id < 32 GROUP BY id, tag
),
qsel AS (
  SELECT qid, tag FROM (
    SELECT qid, tag, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY fd) AS rn
    FROM qdraws
  ) WHERE rn <= 1 + qid % 2
),
qcnt AS (SELECT qid, COUNT(*) AS nt FROM qsel GROUP BY qid),
cand AS (
  SELECT s.qid, t.id
  FROM qsel s JOIN dtags t USING (tag) JOIN qcnt c USING (qid)
  GROUP BY s.qid, t.id, c.nt
  HAVING COUNT(*) = c.nt
),
eq AS (
  -- clustered emb at id' = qid + 2^24: cluster c = (id'*K1 >> 7) % 1024,
  -- v = center(c, j) + noise(id', j)  (sources/synth.yfcc_emb_matrix)
  SELECT qid, j,
         ((xor((cl+1)*3266489917, (j+1)*668265263)) >> 9) % 192
         + ((xor((qid+16777216)*2654435761, (j+1)*2246822519)) >> 11) % 59 AS v
  FROM (
    SELECT i.range AS qid, j.range AS j,
           (((i.range+16777216)*2654435761) >> 7) % 1024 AS cl
    FROM range(32) i, range(192) j
  )
),
ed AS (
  SELECT id, j,
         ((xor((cl+1)*3266489917, (j+1)*668265263)) >> 9) % 192
         + ((xor(id*2654435761, (j+1)*2246822519)) >> 11) % 59 AS v
  FROM (
    SELECT d.id, j.range AS j, ((d.id*2654435761) >> 7) % 1024 AS cl
    FROM (SELECT DISTINCT id FROM cand) d, range(192) j
  )
),
dist AS (
  SELECT c.qid, c.id, SUM((eq.v - ed.v)*(eq.v - ed.v)) AS dist
  FROM cand c JOIN eq ON eq.qid = c.qid JOIN ed ON ed.id = c.id AND ed.j = eq.j
  GROUP BY c.qid, c.id
),
r AS (SELECT qid, id, dist,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist, id) AS rank FROM dist)
SELECT qid, CAST(rank AS INT) AS rank, id, CAST(dist AS BIGINT) AS dist
FROM r WHERE rank <= 10
"""


@register("filtered_knn_yfcc_nq32", _YFCC_NQ32_ORACLE)
def filtered_knn_yfcc_nq32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED twin of the yfcc-shaped filtered serving path: 32
    queries (1-2 Zipf-distributed conjunctive tags each) through the
    IDENTICAL index/filteridx build + 4-route search as the 10M point,
    over the 100k corpus.  The DuckDB oracle regenerates the closed-form
    corpus (v2 embedding pattern + dyadic-Zipf tag draws with order-
    preserving dedup) and computes the exact filtered k-NN — value-level
    correctness for the routed union where the scale points are
    rows-only.  L2² over 0..250 integers is integer-exact; ties break
    by id; cast BIGINT both sides."""
    from filter_vectordb_spark.index.filteridx import filtered_search
    from filter_vectordb_spark.queries.fixtures import _yfcc100k_index
    from filter_vectordb_spark.sources.synth import synth_yfcc_queries

    out = _yfcc100k_index(spark)
    q = synth_yfcc_queries(spark, nq=32)
    return filtered_search(spark, out, q, 10).select(
        "qid", "rank", "id", F.col("dist").cast("long").alias("dist")
    )


@register("filtered_knn_yfcc_gather_nq32", _YFCC_NQ32_ORACLE)
def filtered_knn_yfcc_gather_nq32(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED twin of the POSTING-GATHER meta plan (VERDICT r8
    #1c): the same 32-query batch, index, and DuckDB oracle as
    filtered_knn_yfcc_nq32, but with the selective queries forced
    through _score_meta_gather — the shuffle-based posting-intersection
    + candidate-join plan that replaces the O(corpus) sweep when
    Σ|candidates| is small (and at any corpus size past executor RAM).
    Distances assemble through the identical f32-decode/einsum path, so
    the two plans hash-match the same oracle."""
    from filter_vectordb_spark.index.filteridx import filtered_search
    from filter_vectordb_spark.queries.fixtures import _yfcc100k_index
    from filter_vectordb_spark.sources.synth import synth_yfcc_queries

    out = _yfcc100k_index(spark)
    q = synth_yfcc_queries(spark, nq=32)
    return filtered_search(spark, out, q, 10, meta_plan="gather").select(
        "qid", "rank", "id", F.col("dist").cast("long").alias("dist")
    )


@register("filtered_knn_yfcc_100k")  # bench-scale point — rows-only (oracle infeasible at 8192×100k)
def filtered_knn_yfcc_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The yfcc-shaped router at bench scale: 8,192 heavy-tailed 1-2-tag
    queries against the 100k corpus through all four exact routes —
    recall 1.0 by construction, QPS the only free variable.  The hot
    tag covers ~21% of docs and half the batch routes metadata-first,
    so this measures the MIX the reference's hybrid serves, not one
    route (filtered_knn_100k's pair-view-only regime)."""
    from filter_vectordb_spark.index.filteridx import filtered_search
    from filter_vectordb_spark.queries.fixtures import (
        _yfcc100k_index,
        _yfcc_queries_staged,
    )

    out = _yfcc100k_index(spark)
    q = _yfcc_queries_staged(spark, nq=8192)
    return filtered_search(spark, out, q, 10).select("qid", "rank", "id")


@register("filtered_knn_yfcc_10m")  # bench-scale point — rows-only (oracle infeasible at this size)
def filtered_knn_yfcc_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 1 at the reference's OWN scale and shape: 8,192
    1-2-tag conjunctive queries against a 10M × 192-d uint8 corpus with
    a 262k-tag heavy-tailed vocabulary (yfcc-10M is 10M × 192-d uint8,
    200,386 tags — `README.md:21-24`; faiss baseline 3,200 QPS @ ≥0.9
    recall on 8 vCPUs).  All four routes are exact → recall 1.0; QPS
    is recorded per bench round.  The hash-checked nq=32 twin pins the
    identical build+search path at 100k; route coverage and the
    two-rare-tag intersection are pytest-pinned (tests/test_filteridx)."""
    from filter_vectordb_spark.index.filteridx import filtered_search
    from filter_vectordb_spark.queries.fixtures import (
        _yfcc10m_index,
        _yfcc_queries_staged,
    )

    out = _yfcc10m_index(spark)
    q = _yfcc_queries_staged(spark, nq=8192)
    return filtered_search(spark, out, q, 10).select("qid", "rank", "id")


_YFCC_10M_NPROBE = 4  # operating point: the smallest grid nprobe whose
# TAG-ROUTE recall clears the track's 0.9 gate on the 10M fixture —
# measured 0.9479 (grid: 1 → 0.5442, 2 → 0.7909, 4 → 0.9479,
# 8 → 0.9777, 16 → 0.9880 tag-route; whole-set 0.9864 at the operating
# point) via filtered_yfcc_recall_curve_10m.  The gate uses the
# STRICTER tag-route-only denominator: whole-set recall is higher
# because the pair/metadata routes stay exact — the reference's own
# hybrid structure.  Pinned in tests/test_filteridx_scale.py.


@register("filtered_knn_yfcc_10m_ivf")  # bench-scale point — rows-only (approximate by design)
def filtered_knn_yfcc_10m_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 1's own operating MODE at its own scale: the same
    8,192-query yfcc-shaped batch as filtered_knn_yfcc_10m, but the
    tag-view routes serve through the per-tag IVF layout at
    nprobe=_YFCC_10M_NPROBE — each frequent-tag query scans only its
    nearest coarse lists inside the routed partition, the faiss-baseline
    shape (IVF16384,SQ8 @ the 0.9-recall gate → 3,200 QPS on 8 vCPUs;
    the reference's per-tag sub-indexes are approximate HNSW).  The
    pair and metadata-first routes stay exact, mirroring its hybrid.
    Scanned rows are scored exactly (lossless codes, f64 assembly) —
    pruning loses candidates, never corrupts scores (pytest-pinned);
    the exact anchor is filtered_knn_yfcc_10m and the measured grid is
    filtered_yfcc_recall_curve_10m."""
    from filter_vectordb_spark.index.filteridx import filtered_search
    from filter_vectordb_spark.queries.fixtures import (
        _yfcc10m_index,
        _yfcc_queries_staged,
    )

    out = _yfcc10m_index(spark)
    q = _yfcc_queries_staged(spark, nq=8192)
    return filtered_search(spark, out, q, 10, nprobe=_YFCC_10M_NPROBE).select(
        "qid", "rank", "id"
    )


@register("filtered_yfcc_recall_curve_10m")  # rows-only: QPS is wall-clock, inherently non-oracle-able
def filtered_yfcc_recall_curve_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The filter track's figure of merit at the baseline's own scale:
    tie-aware recall@10 + QPS per nprobe grid point on a 1,024-query
    sample, measured against the EXACT router's own results (the
    in-engine ground truth — every returned dist is an exact f64 L2²,
    so `dist ≤ exact kth` is the big-ann-benchmarks hit rule).  Two
    recalls per point: whole-set (the reference's published metric —
    its selective queries are exact metadata-first too) and
    TAG-ROUTE-ONLY (the stricter denominator over just the approximate
    route; the operating point gates on THIS one, recorded in qargs)."""
    import os
    import tempfile
    import time

    from filter_vectordb_spark.harness.runner import write_curve
    from filter_vectordb_spark.index.filteridx import (
        _load_routing,
        _route,
        filtered_search,
    )
    from filter_vectordb_spark.queries.fixtures import (
        _yfcc10m_index,
        _yfcc_queries_staged,
    )

    out = _yfcc10m_index(spark)
    # qid % 16 < 2 keeps one EVEN and one ODD qid per stride — even qids
    # are 1-tag queries and odd 2-tag by construction, so a same-parity
    # sample (the first cut used qid % 8 == 0) measured only the
    # single-tag route mix
    q = _yfcc_queries_staged(spark, nq=8192).filter(F.col("qid") % 16 < 2)
    nq = 1024
    exact = filtered_search(spark, out, q, 10).toPandas()
    kth = exact.groupby("qid")["dist"].max().to_dict()
    n_ex = exact.groupby("qid").size().to_dict()
    ndoc, n_base, min_freq, _off, pair_files, tag_files, _C, _hx = _load_routing(
        spark, out
    )
    qpdf = q.select("qid", "qtags").toPandas()
    _rp, r_tag, _rm, _tc, _oc = _route(
        qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
    )
    tag_qids = set(qpdf.iloc[r_tag]["qid"].astype(int))
    records = []
    for nprobe in (1, 2, 4, _YFCC_10M_NPROBE, 16, 32):
        # cache so the plan executes ONCE per grid point (VERDICT r9 #5:
        # the untimed recall toPandas re-executed the whole search).
        # The timed count() materializes the cache — still the bench
        # convention's full-plan-to-action wall (VERDICT r8 #4); the
        # recall bookkeeping then reads the cached nq×k rows.
        rdf = filtered_search(spark, out, q, 10, nprobe=nprobe).cache()
        t0 = time.perf_counter()
        rdf.count()
        wall = time.perf_counter() - t0
        res = rdf.toPandas()
        rdf.unpersist()
        hits = tag_hits = tag_den = 0
        for r in res.itertuples():
            ok = r.dist <= kth[r.qid]
            hits += ok
            if int(r.qid) in tag_qids:
                tag_hits += ok
        den = sum(n_ex.values())
        tag_den = sum(v for k_, v in n_ex.items() if int(k_) in tag_qids)
        records.append(
            {
                "engine": "filtered_yfcc_10m",
                "qargs": (
                    f"nprobe={nprobe}"
                    f" tag_route_recall={tag_hits / max(1, tag_den):.4f}"
                ),
                "recall_at_k": hits / max(1, den),
                "qps": float(nq) / wall,
                "k": 10,
            }
        )
    dest = os.path.join(
        tempfile.gettempdir(),
        "fvdb_results",
        "yfcc10m_v2",
        "filtered_yfcc_recall_curve_10m",
    )
    return write_curve(spark, records, dest)


@register("knn_ip_100k")  # bench-scale point — rows-only (oracle infeasible at this size)
def knn_ip_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-honesty point for BASELINE row 3 (OOD track: DiskANN at
    4,882 QPS @ ≥90% recall on text2image-10M, 8 vCPUs): 8,192 dense IP
    queries against the 100k × 192-d synth base through the vectorized
    BLAS kernel — unfiltered exact MIPS (recall 1.0), the same semantics
    as the OOD track's inner-product search.  The base is staged to
    parquet once (the reference measures search over a LOADED index, not
    dataset generation); sized beyond practical SQL oracling, rows-only;
    the small twin (knn_ip) is fully oracle-checked.  nq=2048 keeps the
    point inside the bench's wall budget; QPS is nq/t and per-batch
    constants are already amortized at this size (docs/RESULTS_r2.md)."""
    from filter_vectordb_spark.operators.knn import knn_join

    base = _synth100k_base(spark)
    q = _synth_queries_staged(spark, nq=2048).select("qid", "qemb")
    return knn_join(
        q, base, 10, metric="ip", strategy="vectorized", compute_dtype="float32",
        base_dir=_index_cache_dir("synth100k_v2", "base"),
    ).select("qid", "rank", "id")


@register("knn_ip_1m")  # bench-scale point — rows-only (oracle infeasible at this size)
def knn_ip_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ground-truth anchor at 1M × 192-d: 2,048 dense IP queries
    through the vectorized BLAS kernel — recall 1.0 by construction,
    ~79 Gflop per run.  The small twin (knn_ip) is fully oracle-checked;
    knn_ip_1m_ivfsq is the sub-linear serving path this anchors."""
    from filter_vectordb_spark.operators.knn import knn_join

    base = _synth1m_base(spark)
    q = _synth_queries_staged(spark, nq=2048).select("qid", "qemb")
    # float32 BLAS is EXACT on this integer-valued corpus (see knn_join);
    # base_dir routes the scan through the direct pyarrow read — the
    # anchor was Arrow-transfer-bound, not FLOP-bound (VERDICT r7 #3)
    return knn_join(
        q, base, 10, metric="ip", strategy="vectorized", compute_dtype="float32",
        base_dir=_index_cache_dir("synth1m_v2", "base"),
    ).select("qid", "rank", "id")


# DuckDB twin of the 1M serving path at nq=8: regenerates the closed-form
# v2 corpus (sources/synth.py) and computes exact IP top-10.  The query
# side is PIVOTED to 8 columns so the 192M-row expansion is scanned once
# into 1M groups of 8 running dot-products — the straightforward
# join-on-(qid,id) shape materializes 1.5B rows and measured 151 s where
# this measures ~24 s.
_NQ8 = 8


def _ip_1m_nq8_oracle(eq_value_sql: str) -> str:
    """The pivoted 1M IP oracle with a pluggable query-side generator
    (`eq_value_sql` computes v from i.range [qid] and j.range [dim]) —
    shared by the in-distribution and OOD nq=8 twins."""
    return f"""
WITH eq AS (
  SELECT i.range AS qid, j.range AS j, {eq_value_sql} AS v
  FROM range({_NQ8}) i, range(192) j
),
eqp AS (SELECT j, {", ".join(f"MAX(CASE WHEN qid={q} THEN v END) AS q{q}" for q in range(_NQ8))}
        FROM eq GROUP BY j),
ed AS (
  SELECT i.range AS id, j.range AS j,
         ((xor(i.range*2654435761, (j.range+1)*2246822519)) >> 11) % 251 AS v
  FROM range(1000000) i, range(192) j
),
dist8 AS (SELECT id, {", ".join(f"SUM(v*q{q}) AS d{q}" for q in range(_NQ8))}
          FROM ed JOIN eqp USING (j) GROUP BY id),
dist AS (
  SELECT q.qid, id, CASE q.qid {" ".join(f"WHEN {q} THEN d{q}" for q in range(_NQ8))} END AS dist
  FROM dist8, (VALUES {",".join(f"({q})" for q in range(_NQ8))}) q(qid)
),
r AS (SELECT qid, id, dist,
      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dist DESC, id) AS rank FROM dist)
SELECT qid, CAST(rank AS INT) AS rank, id, CAST(dist AS BIGINT) AS dist
FROM r WHERE rank <= 10
"""


_IP_1M_NQ8_ORACLE = _ip_1m_nq8_oracle(
    "((xor(i.range*2654435761, (j.range+1)*2246822519)) >> 11) % 251"
)

# OOD query-side twin (sources/synth.ood_matrix's closed form):
# v = (7j)%64 + ((qid·K4 ^ (j+1)·K5) >> 9) % (64 + (13j)%128)
_IP_1M_NQ8_OOD_ORACLE = _ip_1m_nq8_oracle(
    "(7*j.range)%64 + ((xor(i.range*3266489917, (j.range+1)*668265263)) >> 9)"
    " % (64 + (13*j.range)%128)"
)


@register("knn_ip_1m_nq8", _IP_1M_NQ8_ORACLE)
def knn_ip_1m_nq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED twin of the 1M serving path (VERDICT r5 #4): 8 dense
    IP queries through the IDENTICAL IVF(256)+SQ8 direct-read
    exact_codes route as knn_ip_1m_ivfsq — value-level correctness for
    the exact-codec ivf.search over the saved layout end-to-end, where
    the 2048-query point is rows-only.  nprobe=nlist (full probe): with
    every list probed and exact lossless-code scores, the result equals
    brute force BY CONSTRUCTION, so this row can never flake on a
    clustering rebuild — partial-probe recall was measured to shift
    across k-means runs (nprobe=16 missed one true neighbor on 4 of
    these 8 queries on one build; a rebuild moved the same id out of
    even the top-64 lists).  The partial-probe operating points carry
    recall PINS (tests/test_sq.py) instead of hash rows, the
    reference's own discipline for approximate configs.  IP over 0..250
    integers is integer-exact, cast BIGINT on both sides."""
    from filter_vectordb_spark.index.ivf import search

    base = _synth1m_base(spark)
    entries, centroids, codec, _ = _ivfsq_1m(spark)
    q = _synth_queries_staged(spark, nq=2048).filter(F.col("qid") < _NQ8).select(
        "qid", "qemb"
    )
    return search(q, entries, centroids, codec, base, 10, 256, 32, "ip").select(
        "qid", "rank", "id", F.col("dist").cast("long").alias("dist")
    )


@register("knn_ip_1m_nq8_ood", _IP_1M_NQ8_OOD_ORACLE)
def knn_ip_1m_nq8_ood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HASH-CHECKED twin of the OOD serving workload (VERDICT r7 #1):
    8 distribution-shifted queries (synth_ood_queries — different hash
    family, per-dim shifted/scaled marginals, qids ∉ corpus) through
    the same IVF(256)+SQ8 direct-read exact_codes route, full probe.
    The DuckDB oracle regenerates BOTH generators closed-form, so this
    row value-checks the OOD query pipeline end-to-end (staging →
    probe ranking → scan → merge) where the 10M OOD points are
    necessarily rows-only.  OOD components are ≤ 253 integers, so IP
    stays integer-exact; cast BIGINT both sides."""
    from filter_vectordb_spark.index.ivf import search

    base = _synth1m_base(spark)
    entries, centroids, codec, _ = _ivfsq_1m(spark)
    q = _synth_ood_queries_staged(spark, nq=8192).filter(
        F.col("qid") < _NQ8
    ).select("qid", "qemb")
    return search(q, entries, centroids, codec, base, 10, 256, 32, "ip").select(
        "qid", "rank", "id", F.col("dist").cast("long").alias("dist")
    )


@register("knn_ip_1m_ivfsq")  # bench-scale point — rows-only (approximate by design)
def knn_ip_1m_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SUB-LINEAR operating point for BASELINE row 3 (OOD track: DiskANN
    at 4,882 QPS @ ≥90% recall on text2image-10M,
    `ood/diskann/config.yaml:13-27` Ls grid): the same 2,048-query
    dense-IP workload as knn_ip_1m, served through IVF(nlist=256,
    sample-trained)+SQ8 at nprobe=16 — per query ~6% of the corpus is
    scanned, as 1-byte codes, then only the refine=16 survivors are
    exact-rescored.  Tie-aware probe recall on the v2 fixture measures
    1.0 at nprobe=16 (the 1M corpus is dense enough that the true
    top-10 concentrate in the nearest lists), pinned ≥0.9 in
    tests/test_sq.py::test_ivfsq_ip_1m_recall — the reference's
    recall-gated QPS methodology (DiskANN picks the Ls whose recall
    clears the 0.9 gate, `ood/diskann/config.yaml:13-27`).  Converts
    the repo's one >2× baseline miss (exact-but-linear OOD serving)
    into the DiskANN-shaped measured tradeoff."""
    from filter_vectordb_spark.index.ivf import search

    base = _synth1m_base(spark)
    entries, centroids, codec, _ = _ivfsq_1m(spark)
    q = _synth_queries_staged(spark, nq=2048).select("qid", "qemb")
    return search(q, entries, centroids, codec, base, 10, 16, 16, "ip").select(
        "qid", "rank", "id"
    )


# ------------------------------------------------ 10M OOD operating points
# VERDICT r6 #1 brought these to the baseline's own 10M scale; VERDICT
# r7 #1 re-gated them on a genuinely out-of-distribution query batch —
# the previous queries were the first 8,192 base vectors themselves,
# maximally in-distribution.  The OOD set (synth_ood_queries: different
# hash family, per-dim shifted/scaled marginals, qids ∉ corpus) is the
# text2image-shaped workload BASELINE row 3 actually publishes: DiskANN
# 4,882 QPS @ ≥0.9 recall, operating point picked as the smallest Ls
# clearing the gate (`ood/diskann/config.yaml:13-27`).
#
# Measured outcome of the re-gate (256-sample GT, the r7 #3 widening):
# the knee DID NOT move — nprobe=1 → 0.5062, nprobe=2 → 0.9699,
# nprobe=4 → 1.0000 (vs 0.5672 / 0.9656 / 1.0000 on the in-dist set).
# The r7 suspicion ("queries rank exactly the lists their neighbors
# live in because they ARE corpus rows") turns out not to be the
# mechanism: under MIPS the true top-10 of ANY query direction
# concentrate in the few highest-norm lists (the same 2-of-3200 skew
# the hot-list slicing absorbs), so centroid-IP ranking finds them at
# tiny nprobe regardless of where the query comes from.  The gate is
# now measured on the honest workload either way.

_10M_NPROBE_HI = 4  # measured recall 1.0000 on the OOD set (curve above)
_10M_NPROBE_LO = 2  # the SMALLEST grid point clearing the 0.9 gate on
# the OOD set — measured recall 0.9699.  See the persisted curve
# artifact (ood_recall_curve_10m) for the grid.
_10M_REFINE = 16  # tie-slack width of the per-task partials (exact_codes
# mode — scores are exact, refine only guards k-th-place ties); 16 keeps
# the driver merge at ≤ nq×nprobe×16 rows, a few MB
_10M_NQ = 8_192  # serving batch: amortizes the per-batch fixed costs so
# the recorded QPS measures the plan (QPS is nq-normalized, so the
# nq=2048 exact anchor compares directly)


@register("knn_ip_10m")  # bench-scale point — rows-only (oracle infeasible at this size)
def knn_ip_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ground-truth anchor at 10M × 192-d: 1,024 OOD dense IP
    queries through the vectorized BLAS kernel — recall 1.0 by
    construction, ~3.9 Tflop per run (QPS is nq-normalized, so the
    batch size only sets how long the anchor takes to measure —
    per-query work is nq-independent for a full scan, and 1,024 already
    amortizes the per-job constants to noise at this runtime).  The
    serving points below are gated against it; same OOD workload, so
    the serving multiple is like-for-like."""
    from filter_vectordb_spark.operators.knn import knn_join

    base = _synth10m_base(spark)
    q = _synth_ood_queries_staged(spark, nq=8192).filter(
        F.col("qid") < 1024
    ).select("qid", "qemb")
    # float32 BLAS is EXACT on this integer-valued corpus (see knn_join);
    # direct pyarrow read of the staged files (VERDICT r7 #3)
    return knn_join(
        q, base, 10, metric="ip", strategy="vectorized", compute_dtype="float32",
        base_dir=_index_cache_dir("synth10m_v2", "base"),
    ).select("qid", "rank", "id")


def _knn_ip_10m_served(spark: SparkSession, nprobe: int) -> DataFrame:
    from filter_vectordb_spark.index.ivf import search

    base = _synth10m_base(spark)
    entries, centroids, codec, _ = _ivfsq_10m(spark)
    q = _synth_ood_queries_staged(spark, nq=_10M_NQ).select("qid", "qemb")
    return search(
        q, entries, centroids, codec, base, 10, nprobe, _10M_REFINE, "ip"
    ).select("qid", "rank", "id")


@register("knn_ip_10m_ivfsq")  # bench-scale point — rows-only (approximate by design)
def knn_ip_10m_ivfsq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-recall serving point at the baseline's own scale AND
    workload shape: IVF(3200)+SQ8 over 10M rows, OOD query batch,
    nprobe=4 (≤0.125% of the corpus scanned as 1-byte codes, exact
    lossless-code scores, single-stage driver merge, hot-list query
    slicing) — measured recall 1.0000 on the OOD set's 256-query GT.
    QPS and the multiple over the exact anchor are recorded per bench
    round vs BASELINE row 3's 4,882 QPS @ 10M.  Recall pinned in
    tests/test_sq.py::test_ivfsq_ip_10m_recall; the measured recall/QPS
    grid is ood_recall_curve_10m."""
    return _knn_ip_10m_served(spark, _10M_NPROBE_HI)


@register("knn_ip_10m_ivfsq_lo")  # bench-scale point — rows-only (approximate by design)
def knn_ip_10m_ivfsq_lo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The baseline-gate serving point at 10M: the smallest nprobe grid
    point clearing the 0.9 recall gate ON THE OOD QUERY SET — the
    reference's own operating discipline (DiskANN picks the smallest Ls
    whose recall clears 0.9, `ood/diskann/config.yaml:13-27`).  Recall
    ≥ 0.9 pytest-pinned; the knee below it is measured, not asserted —
    see ood_recall_curve_10m."""
    return _knn_ip_10m_served(spark, _10M_NPROBE_LO)


@register("ood_recall_curve_10m")  # rows-only: QPS is wall-clock, inherently non-oracle-able
def ood_recall_curve_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OOD track's figure of merit at the baseline's own 10M scale,
    on the distribution-shifted query set (VERDICT r7 #1): tie-aware
    recall@10 + QPS per nprobe grid point through the direct-read
    serving path, persisted Parquet + CSV like the 100k curve.  Recall
    is measured against the staged numpy ground truth (256 sampled OOD
    queries — VERDICT r7 #3; a returned id counts when its TRUE score
    ties-or-beats the true 10th — big-ann-benchmarks' convention);
    QPS = nq/wall per point, best of 1 (the bench's ALWAYS_RERUN
    covers the registered operating points)."""
    import os
    import tempfile
    import time

    from filter_vectordb_spark.harness.runner import write_curve
    from filter_vectordb_spark.index.ivf import search

    base = _synth10m_base(spark)
    entries, centroids, codec, _ = _ivfsq_10m(spark)
    q = _synth_ood_queries_staged(spark, nq=_10M_NQ).select("qid", "qemb")
    gt = _gt_kth_10m(spark)
    kth = dict(zip(gt["qid"].astype(int), gt["kth"]))
    records = []
    for nprobe in (1, _10M_NPROBE_LO, 3, _10M_NPROBE_HI, 8, 16):
        res = search(
            q, entries, centroids, codec, base, 10, nprobe, _10M_REFINE, "ip"
        ).select("qid", "id", "dist")
        # the bench convention (VERDICT r8 #4): the TIMED wall runs the
        # plan to a count() action — no driver transfer inside it; the
        # untimed toPandas re-execution below is recall bookkeeping only
        t0 = time.perf_counter()
        res.count()
        wall = time.perf_counter() - t0
        pdf = res.toPandas()
        sampled = pdf[pdf["qid"].isin(kth)]
        hits = sum(
            1
            for r in sampled.itertuples()
            if r.dist >= kth[int(r.qid)]
        )
        records.append(
            {
                "engine": "ivfsq_10m",
                "qargs": f"nprobe={nprobe}",
                "recall_at_k": hits / (10 * len(kth)),
                "qps": float(_10M_NQ) / wall,
                "k": 10,
            }
        )
    dest = os.path.join(
        tempfile.gettempdir(), "fvdb_results", "synth10m_v2", "ood_recall_curve_10m"
    )
    return write_curve(spark, records, dest)


# ------------------------------------------- reference-scale streaming point


@register("streaming_replay_1m")  # bench-scale point — rows-only (oracle infeasible at 1M)
def streaming_replay_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE rows 5-7 at the reference's own scale (VERDICT r6 #4):
    the msturing-1M simple_runbook step structure — insert 1M, search,
    delete the first 500k, search, re-insert them, search
    (`streaming/simple_runbook.yaml:48` block) — replayed through the
    DataFrame state algebra with EXACT search at every checkpoint:
    recall@10 is 1.0 by construction where the reference's DiskANN
    dynamic index measures 0.906 @ ~3.5 min / 0.958 @ ~2 min on its
    8-vCPU host.  The bench records the total wall.  2,048 queries ×
    3 checkpoints; structural invariants (checkpoint count, k rows per
    query, tombstoned ids absent at checkpoint 2) are pytest-pinned."""
    import os

    from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml, replay

    src = _synth_msturing1m(spark)
    base = src.filter(F.col("id") < 1_000_000)
    # 2,048 queries × 3 checkpoints: the checkpoint searches then cost
    # ~1/4 of the replay wall (the state materializations dominate, as
    # insert time dominates the reference's wall too) — nq=8192 measured
    # 290 s under load, pushing the whole bench past its window
    q = src.filter(F.col("id").between(1_000_000, 1_002_047)).select(
        (F.col("id") - 1_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    ypath = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "streaming",
        "msturing1m_runbook.yaml",
    )
    rb = parse_runbook_yaml(ypath, "synth-msturing-1m")
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("streaming_replay_10m")  # reference-scale point — rows-only; registry-checked, wall documented in docs/RESULTS (too long for the bounded bench window)
def streaming_replay_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 5 at the reference's FULL scale: the msturing-10M
    simple_runbook step structure (insert 10M, search, delete 5M,
    search, re-insert, search — `streaming/simple_runbook.yaml:22-44`)
    replayed through the DataFrame state algebra with EXACT search at
    every checkpoint: recall@10 = 1.0 by construction where the
    reference's DiskANN dynamic index measures 0.892 in ~28 min on its
    8-vCPU host.  2,048 queries × 3 checkpoints, f32-exact integer
    corpus.  Not benched (a full replay is several minutes — the
    sparse_mips_8m84 precedent); quiet-host wall lives in docs/RESULTS
    and the structural invariants ride the 1M replay's pytest."""
    import os

    from filter_vectordb_spark.queries.fixtures import _synth_msturing10m
    from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml, replay

    src = _synth_msturing10m(spark)
    base = src.filter(F.col("id") < 10_000_000)
    q = src.filter(F.col("id").between(10_000_000, 10_002_047)).select(
        (F.col("id") - 10_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    ypath = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "streaming",
        "msturing10m_runbook.yaml",
    )
    rb = parse_runbook_yaml(ypath, "synth-msturing-10m")
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("streaming_replay_1m_clustered")  # bench-scale point — rows-only (oracle infeasible at 1M)
def streaming_replay_1m_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 4's pattern at 1M scale (VERDICT r7 #4): the
    msturing-CLUSTERED delete_runbook — cluster-contiguous inserts
    interleaved with range deletes and searches under a max_pts cap set
    to 3/4 of the corpus, so ST4 threshold consolidation fires
    REPEATEDLY during the replay (the simple-runbook replay never
    pressures it; the reference's 10M row runs this pattern at 0.924
    recall in ~23 min, `README.md:44`).  Exact search at every
    checkpoint → recall 1.0 by construction; the bench records total
    wall.  4 checkpoints × 2,048 queries; consolidation-trigger and
    tombstone-absence invariants are pytest-pinned at small scale on
    the same generator + replayer
    (tests/test_streaming.py::test_delete_runbook_consolidation_pressure)."""
    from filter_vectordb_spark.queries.fixtures import _synth_msturing1m_clustered
    from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml, replay

    base, ypath = _synth_msturing1m_clustered(spark)
    src = _synth_msturing1m(spark)
    q = src.filter(F.col("id").between(1_000_000, 1_002_047)).select(
        (F.col("id") - 1_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    rb = parse_runbook_yaml(ypath, "msturing-1m-clustered")
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("streaming_replay_10m_clustered")  # reference-scale point — rows-only; registry-checked, wall documented in docs/RESULTS (too long for the bounded bench window)
def streaming_replay_10m_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 4 at the reference's FULL scale: the
    msturing-10M-CLUSTERED delete_runbook pattern — cluster-contiguous
    inserts interleaved with range deletes and searches under
    max_pts = 3/4 corpus, so ST4 threshold consolidation fires
    repeatedly across the replay (the reference runs this at 0.924
    recall in ~23 min on its 8-vCPU host, `README.md:44`;
    `streaming/delete_runbook.yaml` is the 482-line original).  Exact
    search at every checkpoint → recall 1.0 by construction.  4
    checkpoints × 2,048 queries over the staged 10M × 100-d corpus.
    Not benched (several minutes — the streaming_replay_10m precedent);
    quiet-host wall lives in docs/RESULTS and the consolidation/
    tombstone invariants are pytest-pinned on the same generator +
    replayer at small scale."""
    from filter_vectordb_spark.queries.fixtures import (
        _synth_msturing10m,
        _synth_msturing10m_clustered,
    )
    from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml, replay

    base, ypath = _synth_msturing10m_clustered(spark)
    src = _synth_msturing10m(spark)
    q = src.filter(F.col("id").between(10_000_000, 10_002_047)).select(
        (F.col("id") - 10_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    rb = parse_runbook_yaml(ypath, "msturing-10m-clustered")
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("streaming_replay_1m_ref_delete")  # reference-runbook point — rows-only (oracle infeasible at 1M)
def streaming_replay_1m_ref_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's VERBATIM 482-line `streaming/delete_runbook.yaml`
    (msturing-10M-clustered dataset: 75 steps — 32 inserts, 10 range
    deletes, 33 searches, irregular ranges and mid-stream re-inserts,
    max_pts 6M), ids exactly integer-scaled 10M→1M (scale_runbook) onto
    the staged cluster-permuted corpus — the actual step interleave,
    not generate_delete_runbook's fixed pattern (VERDICT r8 missing #2).
    Exact search at every checkpoint → recall 1.0 by construction; the
    ST4 consolidation count and final ledger state must equal the pure-
    python dry run of the same YAML (simulate_replay_counters), pinned
    in tests/test_runbook_formats.py.  512 queries × 33 checkpoints
    keeps the checkpoint cost proportionate to the 75-step state walk."""
    from filter_vectordb_spark.queries.fixtures import (
        _synth_msturing1m,
        _synth_msturing1m_clustered,
    )
    from filter_vectordb_spark.streaming.runbook import (
        parse_runbook_yaml,
        replay,
        scale_runbook,
    )

    base, _ypath = _synth_msturing1m_clustered(spark)
    src = _synth_msturing1m(spark)
    q = src.filter(F.col("id").between(1_000_000, 1_000_511)).select(
        (F.col("id") - 1_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    rb = scale_runbook(
        parse_runbook_yaml(
            "/root/reference/streaming/delete_runbook.yaml",
            "msturing-10M-clustered",
        ),
        1,
        10,
    )
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("streaming_replay_1m_ref_clustered")  # reference-runbook point — rows-only (oracle infeasible at 1M)
def streaming_replay_1m_ref_clustered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's VERBATIM `streaming/clustered_runbook.yaml`
    (msturing-10M-clustered: 64 steps — 32 cluster inserts alternating
    with 32 searches, no deletes, max_pts 10M), ids integer-scaled
    10M→1M onto the staged cluster-permuted corpus: the drift pattern
    where each checkpoint searches a different subset of clusters.
    Exact search at every checkpoint → recall 1.0 by construction.
    256 queries × 32 checkpoints (the 64-step walk dominates)."""
    from filter_vectordb_spark.queries.fixtures import (
        _synth_msturing1m,
        _synth_msturing1m_clustered,
    )
    from filter_vectordb_spark.streaming.runbook import (
        parse_runbook_yaml,
        replay,
        scale_runbook,
    )

    base, _ypath = _synth_msturing1m_clustered(spark)
    src = _synth_msturing1m(spark)
    q = src.filter(F.col("id").between(1_000_000, 1_000_255)).select(
        (F.col("id") - 1_000_000).alias("qid"), F.col("emb").alias("qemb")
    )
    rb = scale_runbook(
        parse_runbook_yaml(
            "/root/reference/streaming/clustered_runbook.yaml",
            "msturing-10M-clustered",
        ),
        1,
        10,
    )
    return replay(spark, base, rb, q, k=10, compute_dtype="float32").select(
        "checkpoint", "qid", "rank", "id"
    )


@register("sparse_mips_100k")  # bench-scale point — rows-only (oracle infeasible at this size)
def sparse_mips_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-honesty point for BASELINE row 2 (sparse track: linscan at
    101 QPS on MSMARCO-SPLADE 8.84M docs, 8 vCPUs): 1,024 sparse queries
    (~20 nnz) against a deterministic 100k-doc / 30k-dim / ~50-nnz corpus
    through the same broadcast-join + partial-agg plan as sparse_mips —
    exact scores, so recall 1.0 vs the track's 0.9 gate.  Small-scale
    twins (sparse_mips*) are fully oracle-checked; this point is sized
    beyond practical SQL oracling, rows-only."""
    from filter_vectordb_spark.operators.sparse import sparse_topk
    from filter_vectordb_spark.sources.synth import (
        synth_sparse_queries,
        synth_sparse_terms,
    )

    d = synth_sparse_terms(spark)
    q = synth_sparse_queries(spark)
    return sparse_topk(q, d, 10).select("qid", "rank", "id")


@register("sparse_mips_1m")  # bench-scale point — rows-only (oracle infeasible at this size)
def sparse_mips_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 2 within one decade of the reference's corpus size
    (VERDICT r7 #5): 1,024 sparse queries (~32 nnz) against a staged
    1M-doc / 30k-dim / ~120-nnz SPLADE-profile corpus (linscan serves
    8.84M MSMARCO-SPLADE docs at 101 QPS on 8 vCPUs) through the
    doc-sharded segment scan (sparse_topk_sharded): one task per
    staged segment file computes full scores for ITS docs and ships
    only nq×k partials — the join-aggregate plan's ~10⁸-row shuffle
    never materializes.  Exact integer scores, recall 1.0 vs the
    track's 0.9 gate; the small twins (sparse_mips*) are oracle-checked
    and sparse_topk_sharded carries a parity pytest against sparse_topk
    on a shared fixture."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.queries.fixtures import (
        _synth_sparse1m_queries,
        _synth_sparse1m_terms_dir,
    )

    tdir = _synth_sparse1m_terms_dir(spark)
    q = _synth_sparse1m_queries(spark)
    return sparse_topk_sharded(spark, tdir, q, 10).select("qid", "rank", "id")


@register("sparse_mips_8m84")  # bench-scale point — rows-only (oracle infeasible at this size)
def sparse_mips_8m84(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 2 at the reference's OWN corpus size: 1,024 sparse
    queries against the staged 8,841,823-doc / 30k-dim / ~120-nnz
    SPLADE-profile corpus (linscan: 101 QPS on MSMARCO-SPLADE's
    8.84M docs, 8 vCPUs, recall gate 0.9 — `README.md:42`) through the
    same doc-sharded segment scan as sparse_mips_1m.  Exact integer
    scores, recall 1.0; the QPS comparison is finally
    corpus-size-for-corpus-size (closes VERDICT r7 "What's missing"
    #3 entirely — the 1M point was "within one decade", this is the
    decade).  Parity/oracle coverage rides the small twins and the
    sharded-vs-join-aggregate pytest; this point is rows-only."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.queries.fixtures import (
        _synth_sparse1m_queries,
        _synth_sparse8m84_terms_dir,
    )

    tdir = _synth_sparse8m84_terms_dir(spark)
    q = _synth_sparse1m_queries(spark)
    return sparse_topk_sharded(spark, tdir, q, 10).select("qid", "rank", "id")


_8M84_BUDGET = 2  # smallest grid budget clearing the track's 0.9 recall
# gate on the skewed-impact corpus — measured recall 0.9091 @ 181 QPS
# (grid: 2 → 0.9091, 4 → 0.9174, 8 → 0.9342, 16 → 0.9515, 32 → 0.9604
# against the exact scan's top-10; docs/RESULTS_r8.md §5), the
# reference's smallest-clearing-the-gate operating-point rule


@register("sparse_mips_8m84_skewed")  # bench-scale point — rows-only (oracle infeasible at this size)
def sparse_mips_8m84_skewed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact anchor on the SKEWED-impact 8.84M corpus (the real SPLADE
    weight shape — log-quantized heavy tail, diverse base; see
    sources/synth.sparse_weight_matrix).  Ground truth for
    sparse_mips_8m84_budget's recall gate; exact integer scores."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.queries.fixtures import (
        _synth_sparse1m_queries,
        _synth_sparse8m84_skewed_terms_dir,
    )

    tdir = _synth_sparse8m84_skewed_terms_dir(spark)
    q = _synth_sparse1m_queries(spark)
    return sparse_topk_sharded(spark, tdir, q, 10).select("qid", "rank", "id")


@register("sparse_mips_8m84_budget")  # bench-scale point — rows-only (approximate by design)
def sparse_mips_8m84_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BASELINE row 2 beaten at the reference's own corpus size:
    linscan's budgeted impact-ordered traversal (Q5/W4) over the
    8,841,823-doc skewed-impact corpus — budget=2 postings per
    (query-term, segment) range, the smallest grid point clearing the
    track's 0.9 recall gate (measured 0.9091 vs the exact anchor;
    grid in _8M84_BUDGET's comment).  Measured 181 QPS on 1,024-query
    batches vs linscan's 101 QPS @ ≥0.9 recall on 8 vCPUs
    (`README.md:42`).  The uniform-weight corpus variant
    (sparse_mips_8m84) shows why the impact distribution matters:
    budget pruning there is a tie-lottery (docs/RESULTS_r8.md §5)."""
    from filter_vectordb_spark.operators.sparse import sparse_topk_sharded
    from filter_vectordb_spark.queries.fixtures import (
        _synth_sparse1m_queries,
        _synth_sparse8m84_skewed_terms_dir,
    )

    tdir = _synth_sparse8m84_skewed_terms_dir(spark)
    q = _synth_sparse1m_queries(spark)
    return sparse_topk_sharded(spark, tdir, q, 10, budget=_8M84_BUDGET).select(
        "qid", "rank", "id"
    )


# -------------------------------------------------- recall-vs-QPS curve (§2.10)

_CURVE_CONFIG = {
    "run_groups": [
        # recall=1 anchor, then the two tunable engines' query-arg grids —
        # the same shape as the reference's per-algorithm config sweeps
        # (`filter/faiss/config.yaml:54-63`)
        {"engine": "bruteforce", "run_count": 1, "query_args": [{}]},
        {
            "engine": "ivf",
            "index_params": {"nlist": 16},
            "run_count": 1,
            "query_args": [{"nprobe": n} for n in (1, 2, 4, 8, 16)],
        },
        {
            "engine": "filtered",
            "run_count": 1,
            "query_args": [{"mt_threshold": t} for t in (0.001, 0.01, 0.1)],
        },
        {
            "engine": "pq",
            "run_count": 1,
            "query_args": [{"refine": r} for r in (10, 40, 160)],
        },
        {
            "engine": "sq8",
            "run_count": 1,
            "query_args": [{"refine": r} for r in (10, 40)],
        },
    ]
}


@register("recall_qps_curve")  # rows-only: QPS is wall-clock, inherently non-oracle-able
def recall_qps_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's figure of merit as a first-class artifact: one
    (engine, query-args, recall@10, QPS) row per grid point, the table
    behind its plot.py / data_export.py outputs (`README.md:129-141,
    241-243`).  Grid: IVF nprobe sweep + filtered-router mt_threshold
    sweep + the bruteforce anchor; persisted as Parquet + CSV twin."""
    import os
    import tempfile

    from filter_vectordb_spark.harness.runner import run_benchmark, write_curve

    key = sf_dir.strip("/").replace("/", "_")
    dest = os.path.join(tempfile.gettempdir(), "fvdb_results", key, "recall_qps_curve")
    records = run_benchmark(spark, _CURVE_CONFIG, sf_dir, k=10)
    return write_curve(spark, records, dest)


_CURVE_100K_CONFIG = {
    "run_groups": [
        # same grid philosophy as _CURVE_CONFIG, but at the staged 100k
        # fixture with 256-query batches: the QPS column is then batch
        # throughput at bench scale, how BASELINE.md defines its numbers
        {
            "engine": "bruteforce",
            "index_params": {"source": "synth100k"},
            "run_count": 2,
            "query_args": [{}],
        },
        {
            "engine": "ivf",
            "index_params": {"source": "synth100k", "nlist": 64},
            "run_count": 2,
            "query_args": [{"nprobe": n} for n in (4, 16, 64)],
        },
        {
            "engine": "sq8",
            "index_params": {"source": "synth100k"},
            "run_count": 2,
            "query_args": [{"refine": r} for r in (10, 40, 160)],
        },
        {
            # shares the ivf64 k-means above (engines.IVFCodecEngine.fit
            # reuses a saved same-nlist clustering)
            "engine": "ivfsq",
            "index_params": {"source": "synth100k", "nlist": 64},
            "run_count": 2,
            "query_args": [{"nprobe": n} for n in (2, 8, 32)],
        },
        {
            # the flagship router at bench scale; LSH is deliberately NOT
            # here — on the all-positive fixture hyperplane buckets barely
            # prune (most pairs collide in most bands), so at 100k its
            # candidate join is near-quadratic by design, not a tradeoff
            "engine": "filtered",
            "index_params": {"source": "synth100k"},
            "run_count": 2,
            "query_args": [{"mt_threshold": t} for t in (0.001, 0.01, 0.1)],
        },
    ]
}


@register("recall_qps_curve_100k")  # rows-only: QPS is wall-clock, inherently non-oracle-able
def recall_qps_curve_100k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VERDICT r4 #5: the reference's figure of merit at BENCH scale —
    5 engines (bruteforce anchor, IVF nprobe grid, SQ8 refine grid,
    IVF+SQ8 nprobe grid, LSH seed scatter) against the staged 100k
    fixture with 256-query batches.  Index builds persist to the shared
    synth cache (engines' fit() saves; later runs — and the registry's
    own 100k queries — load instead of re-clustering).  Grids sweep real
    tradeoffs on the v2 fixture: IVF nprobe 4→64 and IVF+SQ8 nprobe
    8→128 walk recall from ~0.6 to ~1.0 while the scan fraction walks
    1/16→1; sf_dir is ignored by construction (the fixture is
    sf-independent)."""
    import os
    import tempfile

    from filter_vectordb_spark.harness.runner import run_benchmark, write_curve

    dest = os.path.join(
        tempfile.gettempdir(), "fvdb_results", "synth100k_v2", "recall_qps_curve_100k"
    )
    records = run_benchmark(spark, _CURVE_100K_CONFIG, sf_dir, k=10)
    return write_curve(spark, records, dest)
