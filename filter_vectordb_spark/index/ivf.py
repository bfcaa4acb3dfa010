"""One IVF × codec index (SURVEY.md §2.7 B3, §2.8 Q4).

The reference's unfiltered index is the faiss factory string
`IVF16384,SQ8` (`filter/faiss/faiss.py:133,205-208`), which faiss
composes from three parts; every index here is that composition:

  coarse = k-means lists (build_ivf), saved partitioned by centroid_id
           so a probe is partition pruning — the table IS the index.
           Without a coarse quantizer every row sits in list 0 and
           every query probes it (PQ or SQ8 alone).
  codec  = how a list row is stored and scored: FLAT (the raw vector),
           SQ8 (index/sq.py) or PQ (index/pq.py).
  refine = cut the codec's scores to `refine` candidates per query and
           rescore them exactly; skipped when the codec's scores are
           exact (flat, or SQ8 on a lossless grid).

One layout on disk holds a whole index (build_index writes it,
load_index restores it and reads the codec from the files present):
`entries/` partitioned by centroid_id, `centroids/` when there are
coarse lists, and the codec's `grid/` (SQ8) or `codebooks/` (PQ).

Every search runs the same steps (search): plan probes driver-side,
score each probed list with the codec into one TaskPartials per task,
cut to refine, rescore, take the top-k.  nprobe = nlist probes
everything, so an exact codec (or a refine that keeps the true top-k)
returns exactly brute-force k-NN whatever k-means did — the
oracle-checkable configuration; smaller nprobe trades recall for scan
fraction (recall tests in tests/test_index.py, test_pq.py, test_sq.py,
the reference's recall-vs-QPS methodology, SURVEY.md §5).
"""

from __future__ import annotations

import contextlib
import ctypes
import functools
import os
from collections.abc import Callable
from typing import NamedTuple

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import (
    Scan,
    TaskPartials,
    _topk_per_group,
    flatten_fixed_list,
    gemm_topk,
    list_column,
    pairwise_scores,
    scan_units,
    union_query_chunks_df,
)
from filter_vectordb_spark.operators.topk import per_group_topk
from filter_vectordb_spark.session import openblas_fn


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
    with driver_blas(os.cpu_count() or 8):
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
    whose coarse quantizer was trained driver-side.  `emb` passes
    through in the type it was given."""
    import pyarrow as pa

    C32 = C.astype(np.float32)
    cn = (C32 * C32).sum(axis=1)
    cid_arr = np.asarray(cids, dtype=np.int64)

    def assign(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column("emb"), batch.num_rows).astype(np.float32)
            D = cn[None, :] - 2.0 * (X @ C32.T)  # ‖x‖² constant per row
            cid = cid_arr[D.argmin(axis=1)].astype(np.int32)
            yield batch.append_column("centroid_id", pa.array(cid))

    emb_type = dict(rows.dtypes)["emb"]
    return rows.select("id", "emb").mapInArrow(
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
        tbl = base.select("id", "emb").orderBy("id").limit(train_rows).toArrow()
        X = flatten_fixed_list(tbl.column("emb"), tbl.num_rows).astype(np.float64)
        C = _lloyd_blocked(X, tbl.column("id").to_numpy(), nlist, max_iter)
        cids = np.arange(len(C), dtype=np.int64)
        centroids = spark.createDataFrame(
            [(int(i), [float(x) for x in c]) for i, c in enumerate(C)],
            "centroid_id INT, centroid ARRAY<DOUBLE>",
        )
        return assign_to_centroids(base, C, cids), centroids
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    def features(it):
        for batch in it:
            n = batch.num_rows
            if n:
                X = flatten_fixed_list(batch.column("emb"), n).astype(np.float64)
                yield batch.append_column("features", list_column(X))

    emb_type = dict(base.dtypes)["emb"]
    feat = base.select("id", "emb").mapInArrow(
        features, f"id long, emb {emb_type}, features array<double>"
    )
    feat = feat.withColumn("features", array_to_vector("features"))
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
    the maintained index stays oracle-checkable.  `emb` passes through
    in the type it was given."""
    import pyarrow as pa

    C, cids = _centroid_matrix(centroids)  # nlist rows — tiny
    cn = (C * C).sum(axis=1)

    def assign(it):
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column("emb"), batch.num_rows).astype(np.float64)
            D = cn[None, :] - 2.0 * (X @ C.T)  # ‖x‖² constant per row
            cid = cids[D.argmin(axis=1)].astype(np.int32)
            yield batch.append_column("centroid_id", pa.array(cid))

    emb_type = dict(new_rows.dtypes)["emb"]
    new_assigned = new_rows.select("id", "emb").mapInArrow(
        assign, schema=f"id long, emb {emb_type}, centroid_id int"
    )
    return assignments.select("id", "emb", "centroid_id").unionByName(new_assigned)




# ------------------------------------------------------------ probe planner


def _driver_blas_threads() -> "object | None":
    """ctypes handle to numpy's bundled OpenBLAS thread setter, or None.
    The session pins OPENBLAS_NUM_THREADS=1 process-wide so EXECUTOR
    workers never oversubscribe N² threads — but the DRIVER-side ranking
    GEMM then runs single-threaded on a 32-core box (measured 12.2 s vs
    4.2 s for the nq=64k ranking block).  The setter lets driver-only
    kernels borrow the cores and hand them back."""
    fn = openblas_fn("openblas_set_num_threads64_", "openblas_set_num_threads")
    if fn is not None:
        fn.argtypes, fn.restype = [ctypes.c_int], None
    return fn


@contextlib.contextmanager
def driver_blas(n: int):
    """Multithreaded BLAS for a DRIVER-side kernel, restored to 1 thread
    on exit (the executor-side invariant), also when the body raises."""
    fn = _driver_blas_threads() if int(n) > 1 else None
    if fn is not None:
        fn(int(n))
    try:
        yield
    finally:
        if fn is not None:
            fn(1)


def _rank_smallest(key: np.ndarray, kk: int) -> np.ndarray:
    """Per-row column indices of the kk smallest entries (unordered).
    kk repeated argmin passes for small kk: introselect measured ~60 ns/elem
    (12.6 s on a 210M-element ranking matrix) where a
    vectorized min-scan is memory-bandwidth (~0.05 s/pass); argpartition
    only wins past kk ≈ 8."""
    nr, nc = key.shape
    if kk >= nc:
        return np.tile(np.arange(nc), (nr, 1))
    if kk > 8:
        return np.argpartition(key, kk - 1, axis=1)[:, :kk]
    work = key.copy()
    out = np.empty((nr, kk), dtype=np.int64)
    rows = np.arange(nr)
    big = np.float32(np.inf) if key.dtype == np.float32 else np.inf
    for j in range(kk):
        c = work.argmin(axis=1)
        out[:, j] = c
        work[rows, c] = big
    return out


@functools.lru_cache(maxsize=8)
def _centroid_matrix(centroids: DataFrame) -> tuple[np.ndarray, np.ndarray]:
    """(C float64 (nlist, d), centroid ids) of a centroid table.  The
    matrix is nlist rows but collecting it is a whole Spark job per
    serving call; load_lists returns the SAME DataFrame object across
    calls and DataFrames hash by identity, so repeat serving pays the
    collect once (the cache's strong refs keep identities stable;
    serving sessions hold a handful of live indexes)."""
    cpdf = centroids.toPandas()  # nlist rows — tiny by construction
    return np.stack(cpdf["centroid"].to_numpy()).astype(np.float64), cpdf["centroid_id"].to_numpy()


def _probe_map(
    Q: np.ndarray, C: np.ndarray | None, cids: np.ndarray | None, nprobe: int, metric: str
) -> dict[int, np.ndarray]:
    """{centroid_id → probing query positions} — the driver-side centroid
    ranking (nlist × d work, tiny by construction).  C=None is the
    single-list layout: every query probes list 0.

    Fully vectorized: kk-pass argmin / argpartition (the per-query probe
    SET is all that matters — probe_map only groups positions by list,
    so within-row order is irrelevant) + one stable grouping sort over
    the nq×nprobe pairs.  The previous per-pair Python loop measured
    1.07 s at nq=8192 × nprobe=16 — longer than the distributed scan it
    fed; the r6 single argpartition then became the floor itself at
    larger batches (12.6 s at nq=64k)."""
    if C is None:
        return {0: np.arange(len(Q), dtype=np.int64)}
    # rank in float32: probe selection is a heuristic (recall is measured
    # and pinned downstream; full-probe rows are order-independent), and
    # the f64 GEMM measured ~0.6 s at nq=8k × nlist=3.2k — pure
    # serving-floor overhead.  The GEMM itself borrows
    # the driver's cores (driver_blas) — executors are not running
    # while the driver plans, so the cores are idle anyway.
    Q32, C32 = Q.astype(np.float32), C.astype(np.float32)
    with driver_blas(os.cpu_count() or 8):
        G = Q32 @ C32.T
    if metric == "ip":
        # faiss METRIC_INNER_PRODUCT ranks lists by centroid IP descending
        key = -G
    else:
        key = (Q32 * Q32).sum(1)[:, None] - 2.0 * G + (C32 * C32).sum(1)[None, :]
    nlist = key.shape[1]
    kk = min(nprobe, nlist)
    rank = _rank_smallest(key, kk)
    flat_cids = cids[rank.ravel()].astype(np.int64)
    qpos = np.repeat(np.arange(len(Q), dtype=np.int64), kk)
    order = np.argsort(flat_cids, kind="stable")  # keeps qpos ascending per list
    sc, sq = flat_cids[order], qpos[order]
    bounds = np.flatnonzero(np.r_[True, sc[1:] != sc[:-1]])
    return {
        int(sc[lo]): sq[lo:hi]
        for lo, hi in zip(bounds, np.r_[bounds[1:], len(sc)])
    }


# -------------------------------------------------------------------- codecs


class Codec(NamedTuple):
    """How a list row is stored and scored.  prepare(Q float64 (nq, d),
    metric) runs driver-side once per query chunk (its result is
    broadcast); score(prepared, pos, block, metric, kk) runs in a task on
    one list group — `block` is the stored `column` payload of its rows,
    `pos` the probing queries — and returns the per-query top-kk (idx
    into the rows, score float64).  `exact`: the scores are the true
    distances, so no refine cut and rescore.  `state`: the trained
    arrays the codec was made from (SQ8 (vmin, vmax), PQ (codebooks,))."""

    name: str
    column: str
    metrics: tuple
    exact: bool
    prepare: Callable
    score: Callable
    state: tuple


def _flat_prepare(Q: np.ndarray, metric: str):
    return Q, (Q * Q).sum(axis=1)


def _flat_score(prepared, pos, X, metric, kk):
    Q, qn = prepared
    X = X.astype(np.float64)
    return gemm_topk(Q[pos], qn[pos], X, (X * X).sum(axis=1), metric, kk)


#: IVF-flat: lists hold the raw vectors, scored exactly in float64
FLAT = Codec("flat", "emb", ("l2", "ip"), True, _flat_prepare, _flat_score, ())


def encode_codes(base: DataFrame, codes_of: Callable, b_id: str = "id", b_vec: str = "emb"):
    """(id BIGINT, codes ARRAY<TINYINT>) — a codec's encode: one Arrow
    pass over the base, codes_of(X float64 (n, d)) → int8 (n, width);
    the codec's state rides the closure (kilobytes)."""
    import pyarrow as pa

    def enc(it):
        for batch in it:
            n = batch.num_rows
            if n:
                codes = codes_of(flatten_fixed_list(batch.column(b_vec), n).astype(np.float64))
                yield pa.RecordBatch.from_arrays(
                    [batch.column(b_id), list_column(codes)], ["id", "codes"]
                )

    return base.select(b_id, b_vec).mapInArrow(enc, schema="id long, codes array<tinyint>")


# -------------------------------------------------------------- list layout

#: per-session memo of loaded layouts — a serving path re-reading the
#: centroid/state tables per query batch pays 2-3 small Spark jobs of
#: pure overhead (the reference loads its index once, then serves:
#: `ood/diskann/diskann-in-mem.py:159-163`).  Keyed (application id,
#: out_dir, entries/_SUCCESS mtime); the loaded `entries` object is also
#: what routes a search to the direct reader (_delegate_entries_dir).
_LOAD_CACHE: dict = {}


def save_lists(entries: DataFrame, centroids: DataFrame | None, out_dir: str) -> None:
    """S5 index save: `entries` (id, centroid_id, payload) as
    `<out>/entries` partitioned by centroid_id — probes become partition
    pruning, `filter/faiss/faiss.py:205` read_index analog — plus the
    tiny centroid table.  centroids=None writes the single-list layout
    (every row in list 0).  The codec's own state is the caller's."""
    if centroids is None:
        entries = entries.withColumn("centroid_id", F.lit(0))
    else:
        # one shuffle partition per list before the partitioned write —
        # without it every writer task emits a sliver into every list
        # directory (nlist × tasks small files; 7.6k at nlist=256, where
        # file enumeration then dominated every probe scan)
        entries = entries.repartition("centroid_id")
        centroids.write.mode("overwrite").parquet(f"{out_dir}/centroids")
    entries.write.mode("overwrite").partitionBy("centroid_id").parquet(
        f"{out_dir}/entries"
    )
    # a rebuild invalidates any loaded layout for this path
    for key in [k for k in _LOAD_CACHE if k[1] == out_dir]:
        del _LOAD_CACHE[key]


def load_lists(
    spark: SparkSession, out_dir: str, read_state: Callable = tuple, coarse: bool = True
) -> tuple:
    """(entries, centroids, *read_state()) of a save_lists layout;
    centroids is None for a single-list layout (coarse=False)."""
    # freshness token: a rebuild by ANOTHER process (save_lists only
    # invalidates in-process) bumps the entries _SUCCESS mtime, so a
    # long-lived session never serves DataFrames whose parquet file
    # listing was captured against the old layout (ADVICE r5)
    try:
        token = os.stat(f"{out_dir}/entries/_SUCCESS").st_mtime_ns
    except OSError:
        token = None  # non-local path or missing marker: cache on path only
    key = (spark.sparkContext.applicationId, out_dir, token)
    hit = _LOAD_CACHE.get(key)
    if hit is None:
        hit = (
            spark.read.parquet(f"{out_dir}/entries"),
            spark.read.parquet(f"{out_dir}/centroids") if coarse else None,
            *read_state(),
        )
        for stale in [k for k in _LOAD_CACHE if k[1] == out_dir]:
            del _LOAD_CACHE[stale]  # at most one live layout per path
        _LOAD_CACHE[key] = hit
    return hit


def build_index(
    base: DataFrame, out_dir: str, codec: str, nlist: int = 1, lists: tuple | None = None, **train
) -> tuple:
    """Build and save one IVF × codec index over base (id, emb) — the
    faiss `index_factory` + `write_index` pair — and return its
    load_index.  codec ∈ {"flat", "sq8", "pq"}; pq takes nsub/ksub from
    `train`.  nlist > 1 trains the coarse lists with build_ivf (max_iter,
    train_rows, coarse from `train`) unless `lists` = (assignments,
    centroids) hands in a clustering already made; nlist = 1 is the
    single-list layout.  The codec's state is written before the lists,
    so a build cut short leaves no entries/_SUCCESS behind: load_index
    then reports nothing built instead of a layout without its codec."""
    from filter_vectordb_spark.index import pq, sq  # both import this module

    spark = base.sparkSession
    if lists is None and nlist > 1:
        coarse_kw = {k: train[k] for k in ("max_iter", "train_rows", "coarse") if k in train}
        lists = build_ivf(base, nlist, **coarse_kw)
    if codec == "flat":
        entries = lists[0] if lists else base
    elif codec == "sq8":
        vmin, vmax = sq.train_sq(base)
        entries = sq.encode_sq(base, vmin, vmax)
        sq.write_grid(spark, vmin, vmax, f"{out_dir}/grid")
    elif codec == "pq":
        codebooks = pq.train_pq(base, nsub=train["nsub"], ksub=train["ksub"])
        entries = pq.encode_pq(base, codebooks)
        pq.write_codebooks(spark, codebooks, f"{out_dir}/codebooks")
    else:
        raise ValueError(f"unknown codec {codec!r} (flat, sq8, pq)")
    if lists and codec != "flat":
        entries = lists[0].select("id", "centroid_id").join(entries, "id")
    save_lists(entries, lists[1] if lists else None, out_dir)
    return load_index(spark, out_dir)


def load_index(spark: SparkSession, out_dir: str, exact: bool = False) -> tuple | None:
    """(entries, centroids, codec) of a build_index layout, or None when
    nothing is built (no entries/_SUCCESS).  The codec comes from the
    files: `grid/` is SQ8 (exact=True: the lossless-grid serving mode,
    sq_codec(exact=True)), `codebooks/` is PQ, neither is FLAT;
    centroids is None for a single-list layout.  A partial layout raises
    FileNotFoundError naming the missing part instead of serving: coded
    entries without their grid or codebooks, or several lists without
    centroids/."""
    import glob

    from filter_vectordb_spark.index import pq, sq  # both import this module

    def built(part):
        return os.path.exists(f"{out_dir}/{part}/_SUCCESS")

    if not built("entries"):
        return None
    coarse = built("centroids")
    if not coarse and len(glob.glob(f"{out_dir}/entries/centroid_id=*")) > 1:
        raise FileNotFoundError(f"{out_dir}: several lists saved but centroids/ is missing")
    if built("grid"):
        kind, read_state = "sq8", lambda: sq.read_grid(spark, f"{out_dir}/grid")
    elif built("codebooks"):
        kind, read_state = "pq", lambda: (pq.read_codebooks(spark, f"{out_dir}/codebooks"),)
    else:
        kind, read_state = "flat", tuple
    if exact and kind != "sq8":
        raise ValueError(f"{out_dir}: exact=True needs an sq8 layout, found {kind}")
    entries, centroids, *state = load_lists(spark, out_dir, read_state, coarse)
    if kind == "flat" and "codes" in entries.columns:
        raise FileNotFoundError(
            f"{out_dir}: entries hold codes but neither grid/ nor codebooks/ exists"
        )
    if kind == "sq8":
        return entries, centroids, sq.sq_codec(*state, exact)
    return entries, centroids, pq.pq_codec(*state) if kind == "pq" else FLAT


def _delegate_entries_dir(entries: DataFrame) -> str | None:
    """Auto-delegation (VERDICT r7 #2): when the caller's `entries` is
    the exact DataFrame load_lists returned for a LOCAL saved layout,
    serving uses the direct-read path (hot-list query slicing, no JVM
    Arrow hop).  Identity match only — a filtered/projected descendant
    would lose its transformation if read from files, so it keeps the
    DataFrame route.  Local paths only: the driver globs the files and
    the executors open them by the same string path, which an
    hdfs://|s3:// URI would not serve.  Returns the `<out>/entries`
    path or None."""
    for key, hit in _LOAD_CACHE.items():
        if hit[0] is entries and "://" not in key[1]:
            return f"{key[1]}/entries"
    return None


# ------------------------------------------------------------------ the scan

#: max probing queries per direct-read unit (hot-list query slicing —
#: see _direct_scan): bounds one task's GEMM at _QSLICE × list_rows and
#: its selection at the same key count.  512 measured best at the 10M
#: point (finer slices pack the hot lists across all slots; a slice's
#: file re-read is page-cache resident)
_QSLICE = 512

_SCORED = "qid long, id long, adist double"


def _score_lists(codec: Codec, refine: int, metric: str, payload, lists):
    """The one list scan, shared by both readers: `lists(groups)` yields
    (probing query positions, ids, payload block) per list group; each
    is scored by the codec into ONE per-task top-`refine` per query — a
    task covering g lists would otherwise ship g×nq_probing×refine rows
    into the merge (1.9M at the 1M bench point — the shuffle, not the
    BLAS, then dominates)."""
    bqids, prepared, groups = payload
    out = TaskPartials(refine, len(bqids), metric == "ip", "adist")
    for pos, ids, block in lists(groups):
        part, ad = codec.score(prepared, pos, block, metric, refine)
        out.add_topk(bqids[pos], ids, part, ad)
    yield from out.emit()


def _frame_scan(entries: DataFrame, codec: Codec, payload, refine: int, metric: str):
    """DataFrame route: static partition pruning to the chunk's probed
    lists, then each task groups its batches' rows by list.  Spark owns
    the partitioning here, so a hot list (IP probe skew — see
    _direct_scan) is scored inside whichever single task reads its
    file."""
    if "centroid_id" not in entries.columns:  # an unsaved single-list table
        entries = entries.withColumn("centroid_id", F.lit(0))
    # static IN-list on the partition column (≤ nlist ints — plan-size
    # safe) → static partition pruning on the entries scan, payload only
    cand = entries.filter(F.col("centroid_id").isin(sorted(payload[2]))).select(
        "centroid_id", "id", codec.column
    )
    bc = entries.sparkSession.sparkContext.broadcast(payload)
    column = codec.column

    def scan(it):
        def lists(groups):
            for batch in it:
                nb = batch.num_rows
                if nb == 0:
                    continue
                ids = batch.column("id").to_numpy(zero_copy_only=False)
                block = flatten_fixed_list(batch.column(column), nb)
                cid = batch.column("centroid_id").to_numpy(zero_copy_only=False)
                # partitionBy layout → batches are usually single-list,
                # where the stable argsort is a ~free identity pass; it
                # also handles the coalesced multi-file case
                order = np.argsort(cid, kind="stable")
                for grp in np.split(order, np.flatnonzero(np.diff(cid[order])) + 1):
                    pos = groups.get(int(cid[grp[0]]))
                    if pos is not None:
                        yield pos, ids[grp], block[grp]

        yield from _score_lists(codec, refine, metric, bc.value, lists)

    return cand.mapInArrow(scan, schema=_SCORED)


def _direct_scan(
    spark: SparkSession, entries_dir: str, codec: Codec, payload, refine: int, metric: str
) -> DataFrame:
    """Direct-read route — the reference's load-then-serve cost model
    (`ood/diskann/diskann-in-mem.py:80-106` serves from a loaded index;
    BASELINE QPS excludes load).

    The entries scan through the JVM ships every payload byte over the
    executor↔Python Arrow socket per query batch — measured 4-24 s for
    the 1M-point index BEFORE any math, the serving path's floor.  Here
    the units are the probed lists' parquet FILES (driver-side glob —
    metadata only); each task opens its files with pyarrow directly from
    shared storage, so bytes move disk/page-cache → Python once, with no
    JVM hop, and repeat queries serve from the OS page cache —
    resident-index semantics without per-worker state.  File-level
    pruning is exact: only probed lists' files are listed at all."""
    import glob as _glob

    probe_map = payload[2]
    # Hot-list query slicing: under IP centroid ranking the probe
    # distribution is EXTREMELY skewed (measured at the 10M point:
    # 2 of 3200 lists absorb ~94% of all probes — high-norm centroids
    # attract almost every query), so a task-per-file layout serializes
    # the whole job behind one (nq_hot × list) GEMM.  Plan one unit per
    # (file, query-slice) with ≤ _QSLICE probing queries per slice —
    # the slice re-reads a page-cache-resident file (cheap) and scores
    # a disjoint strided subset of its queries, so the per-task partial
    # top-k merge semantics are unchanged.
    files = []
    misses = 0
    for cid in sorted(probe_map):
        hits = sorted(_glob.glob(f"{entries_dir}/centroid_id={cid}/*.parquet"))
        if not hits:
            # partitionBy writes NO directory for an empty list, so a
            # probed-but-empty list is legitimately absent (small/skewed
            # builds); an absent list contributes nothing, same as the
            # DataFrame route.  All-absent still means a wrong path.
            misses += 1
            continue
        nsl = max(1, -(-len(probe_map[cid]) // _QSLICE))
        files.extend((p, cid, s, nsl) for p in hits for s in range(nsl))
    if misses and not files:
        raise FileNotFoundError(
            f"none of the {misses} probed lists have parquet under "
            f"{entries_dir} — wrong entries_dir?"
        )
    column = codec.column

    def serve(payload, units):
        import pyarrow.parquet as pq

        def lists(groups):
            for path, cid, sl, nsl in units:
                pos = groups[int(cid)][sl::nsl]  # disjoint strided query slice
                if len(pos) == 0:
                    continue
                tbl = pq.read_table(path, columns=["id", column])
                if tbl.num_rows:
                    ids = tbl.column("id").to_numpy(zero_copy_only=False)
                    yield pos, ids, flatten_fixed_list(tbl.column(column), tbl.num_rows)

        yield from _score_lists(codec, refine, metric, payload, lists)

    # one task per core: each unit costs its file's on-disk bytes (∝
    # rows — fixed-width payload) × its slice's probing queries, so the
    # longest-first placement spreads the hot lists' slices across
    # cores instead of leaving the skew to scheduling.  An empty probe
    # map (possible only with 0 queries, which union_query_chunks_df
    # already short-circuits) gives an empty frame
    cost = [
        os.path.getsize(p) * len(range(sl, len(probe_map[cid]), nsl))
        for p, cid, sl, nsl in files
    ]
    return scan_units(spark, [Scan(files, cost, payload, serve)], _SCORED)


def list_scores(
    queries: DataFrame,
    entries: DataFrame,
    centroids: DataFrame | None,
    codec: Codec,
    nprobe: int,
    refine: int,
    metric: str = "l2",
) -> DataFrame:
    """(qid, id, adist): each query (qid, qemb) scored by the codec
    against the rows of its `nprobe` nearest lists, each task's output
    cut to the per-query top-`refine`.  Above the broadcast cap the
    query set chunk-and-unions through union_query_chunks_df — driver
    and executor memory stay O(chunk), each chunk gets its own probe map
    and pruned scan.  Reads the probed lists' files directly when
    `entries` is a load_lists result over a local path; otherwise scans
    the `entries` DataFrame."""
    if metric not in codec.metrics:
        raise ValueError(
            f"{codec.name} codes cannot be scored with metric {metric!r} "
            f"(supported: {', '.join(codec.metrics)})"
        )
    C, cids = _centroid_matrix(centroids) if centroids is not None else (None, None)
    entries_dir = _delegate_entries_dir(entries)

    def score_chunk(ch):
        Q = np.stack(ch["qemb"].to_numpy()).astype(np.float64)
        prepared = codec.prepare(Q, metric)  # checks the codec's query preconditions
        payload = (
            ch["qid"].to_numpy(dtype=np.int64), prepared, _probe_map(Q, C, cids, nprobe, metric)
        )
        if entries_dir is not None:
            return _direct_scan(
                entries.sparkSession, entries_dir, codec, payload, refine, metric
            )
        return _frame_scan(entries, codec, payload, refine, metric)

    return union_query_chunks_df(queries.select("qid", "qemb"), score_chunk, _SCORED)


def search(
    queries: DataFrame,
    entries: DataFrame,
    centroids: DataFrame | None,
    codec: Codec,
    base: DataFrame | None,
    k: int,
    nprobe: int,
    refine: int,
    metric: str = "l2",
) -> DataFrame:
    """Top-k of each query (qid, qemb) under metric ∈ codec.metrics
    (l2 = L2² ascending, ip descending; centroid ranking and score
    ordering flip together, as in faiss METRIC_INNER_PRODUCT).  Returns
    (qid, id, dist, rank).

    Inexact codec: cut to `refine` candidates per query, rescore the cut
    exactly against `base` (id, emb) through a pruned join (nq×refine
    float rows are touched), take the top-k.

    Exact codec: the top-k comes straight from the scan, and `refine`
    stays the scan's per-task partial width — the tie-slack knob
    (integer scores DO tie at the k-th; slack lets the final (dist, id)
    ordering see every tying candidate).  The bounded partials are
    merged driver-side with one Arrow collect and a vectorized lexsort
    instead of a per_group_topk shuffle and window job (VERDICT r6 #1),
    so this runs EAGERLY: errors surface at the call and the result is
    a small materialized DataFrame."""
    scored = list_scores(queries, entries, centroids, codec, nprobe, refine, metric)
    if codec.exact:
        import pandas as pd

        tbl = scored.toArrow()
        qids = tbl.column("qid").to_numpy(zero_copy_only=False)
        ids = tbl.column("id").to_numpy(zero_copy_only=False)
        ad = tbl.column("adist").to_numpy(zero_copy_only=False)
        sel, rank = _topk_per_group(qids, ids, -ad if metric == "ip" else ad, k)
        out = pd.DataFrame(
            {"qid": qids[sel], "id": ids[sel], "dist": ad[sel], "rank": (rank + 1).astype(np.int32)}
        )
        return queries.sparkSession.createDataFrame(
            out, schema="qid long, id long, dist double, rank int"
        )
    first = (lambda c: F.col(c).desc()) if metric == "ip" else (lambda c: F.col(c).asc())
    cut = per_group_topk(scored, ["qid"], [first("adist"), F.col("id").asc()], refine)
    pairs = base.select("id", "emb").join(F.broadcast(cut.select("qid", "id")), "id")
    q = F.broadcast(queries.select("qid", "qemb"))
    return per_group_topk(
        pairwise_scores(pairs.join(q, "qid"), metric), ["qid"], [first("dist"), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")

