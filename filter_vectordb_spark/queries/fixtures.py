"""Build-once staging helpers for the bench-honesty scale fixtures
(100k/1M/10M synth corpora, query batches, IVF+SQ8 indexes, numpy
ground truth) — split out of queries/scale.py (VERDICT r7 #8) so the
scale-point registrations stay reviewable.

Everything here is content-addressed into the shared on-disk cache
(queries.core._index_cache_dir) and idempotent: stage once per machine,
serve from parquet after — the reference's fit-then-measure protocol
(BASELINE QPS numbers exclude build time, `filter/run.py:15-52`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.queries.core import _index_cache_dir, _is_built

#: serving-layout file count for the direct-read corpora (r12, guide
#: §2.5/§6): the scan kernels form (file, row-group) task units, so the
#: staged layout CAPS their parallelism.  The old stagers inherited the
#: STAGING session's partitioning — a cache first built by an 8-core
#: run (the driver benches at low core counts too) permanently pinned
#: the 32-core exact anchors to 8-16 oversized units (measured: the 1M
#: anchor ran 8 tasks of 98 GFLOP each with 24 cores idle; the
#: driver-recorded knn_ip_10m 32c/8c anti-scaling is this layout, 16
#: units of 625k rows thrashing memory bandwidth).  A FIXED count —
#: independent of whoever stages first — with ~16 MB row groups keeps
#: units fine enough for any core count in the driver's sweep; at
#: cluster scale the same rule is "size file × row-group units to the
#: task grain, never to the writer's parallelism".
_BASE_FILES = 128
#: stagers self-heal a coarser persisted layout (a pre-r12 cache or one
#: staged at low core count): below this file count the fixture is
#: regenerated — deterministic generators, so the VALUES are identical;
#: only the file/row-group grain changes.  Build-time work by design.
_MIN_BASE_FILES = 64


def _layout_ok(d: str, min_files: int = _MIN_BASE_FILES) -> bool:
    import glob

    return len(glob.glob(f"{d}/*.parquet")) >= min_files


def _write_base(df: DataFrame, out: str, n_files: int = _BASE_FILES) -> None:
    """Write a direct-read corpus in the fixed serving layout: n_files
    CONTIGUOUS-id files (min/max stats keep range predicates prunable —
    the streaming replays slice inserts by id range), ~16 MB row groups
    (sub-splittable by operators.knn.rg_units at higher core counts)."""
    (
        df.repartitionByRange(n_files, "id")
        .write.mode("overwrite")
        .option("parquet.block.size", 16 * 1024 * 1024)
        .parquet(out)
    )


def _write_u8_base(df: DataFrame, out: str, n_files: int = _BASE_FILES) -> None:
    """_write_base's layout with `emb` stored as uint8: n_files
    contiguous-id `part-*.parquet` files (range partitions by id, each
    id-sorted), row groups of at most 16 MB, columns `id` (int64,
    DELTA_BINARY_PACKED) and `emb` (`fixed_size_binary(d)`, i.e. parquet
    FIXED_LEN_BYTE_ARRAY(d), PLAIN and uncompressed), `_SUCCESS` last.
    A direct-read scan then reads d plain bytes per row — no repetition
    levels, dictionary or list offsets to decode (operators.knn.
    flatten_fixed_list views them as (n, d) uint8).  Each range
    partition is written by pyarrow inside its task.  A value that is
    not an integer in 0..255 raises ValueError naming `emb` and the
    smallest offending id; nothing wraps into uint8.  (_write_base, kept
    for the msturing corpora whose replays run Spark array expressions
    over `emb`, stores it as Spark's parquet list<int32>.)"""
    import os
    import shutil

    import numpy as np

    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)

    def write(it):
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark import TaskContext

        from filter_vectordb_spark.operators.knn import flatten_fixed_list

        # one row per partition: its vector width, and the smallest id
        # holding a value uint8 cannot store (null when it wrote a file)
        schema = pa.schema([("d", pa.int32()), ("bad", pa.int64())])
        pid = TaskContext.get().partitionId()
        batches = [b for b in it if b.num_rows]
        if not batches:
            return
        ids = np.concatenate([b.column("id").to_numpy(zero_copy_only=False) for b in batches])
        X = np.concatenate(
            [flatten_fixed_list(b.column("emb"), b.num_rows) for b in batches]
        )
        order = np.argsort(ids, kind="stable")
        ids, X = ids[order], X[order]
        ok = (X >= 0) & (X <= 255)
        if X.dtype.kind == "f":
            ok &= X == np.rint(X)
        bad = np.flatnonzero(~ok.all(axis=1))
        d = X.shape[1]
        if len(bad):
            yield pa.RecordBatch.from_pydict(
                {"d": [d], "bad": [int(ids[bad[0]])]}, schema=schema
            )
            return
        U = np.ascontiguousarray(X, dtype=np.uint8)
        emb = pa.FixedSizeBinaryArray.from_buffers(pa.binary(d), len(U), [None, pa.py_buffer(U)])
        path = os.path.join(out, f"part-{pid:05d}.parquet")
        tmp = os.path.join(out, f".part-{pid:05d}.parquet.tmp")
        pq.write_table(
            pa.table({"id": pa.array(ids, pa.int64()), "emb": emb}),
            tmp,
            row_group_size=max(1, (16 << 20) // (8 + d)),
            use_dictionary=False,
            column_encoding={"id": "DELTA_BINARY_PACKED", "emb": "PLAIN"},
            compression="NONE",
            write_statistics=["id"],
        )
        os.replace(tmp, path)
        yield pa.RecordBatch.from_pydict({"d": [d], "bad": [None]}, schema=schema)

    res = (
        df.select("id", "emb")
        .repartitionByRange(n_files, "id")
        .mapInArrow(write, "d INT, bad BIGINT")
        .collect()
    )
    bad = [r["bad"] for r in res if r["bad"] is not None]
    if bad:
        shutil.rmtree(out, ignore_errors=True)
        raise ValueError(
            f"emb: id {min(bad)} holds a value that is not an integer in "
            "0..255 — the uint8 base cannot store it"
        )
    if len({r["d"] for r in res}) > 1:
        shutil.rmtree(out, ignore_errors=True)
        raise ValueError(f"emb: vectors of different lengths {sorted({r['d'] for r in res})}")
    open(os.path.join(out, "_SUCCESS"), "w").close()


def _u8_layout_ok(d: str, min_files: int = _MIN_BASE_FILES, dim: int = 192) -> bool:
    """A staged uint8 base is served only when _SUCCESS exists, it has
    at least min_files files, and its first file's footer stores `emb`
    as fixed_size_binary(dim): a list-format base staged by an older
    writer restages (in the stager, outside any timed region) instead of
    being served through the slow list decode."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    if not (_is_built(d) and _layout_ok(d, min_files)):
        return False
    try:
        first = min(glob.glob(f"{d}/*.parquet"))
        return pq.read_schema(first).field("emb").type == pa.binary(dim)
    except (OSError, KeyError, pa.ArrowException):
        return False


def _u8_view(spark: SparkSession, path: str) -> DataFrame:
    """The public (id BIGINT, emb ARRAY<INT>) frame over a uint8 base:
    one mapInArrow that decodes `emb` with the scans' decoder
    (operators.knn.flatten_fixed_list) and rebuilds list<int32>, so index
    builds, harness engines and rescore joins see the list schema and
    values.  The direct-read scans (knn_join base_dir=) and the harness's
    exact scans (harness.base._scan_source) read the files themselves and
    never pass through this view.  A job that scans the view several
    times persists it first (_build_ivfsq): the decode worker otherwise
    runs beside the consumer's in every task.  (A decode in Spark SQL
    instead — split of the ISO-8859-1 string, ascii per element —
    measured 4.3x slower than this view over the 1M base on 4 cores.)"""
    import numpy as np

    def decode(it):
        import pyarrow as pa

        from filter_vectordb_spark.operators.knn import flatten_fixed_list

        for b in it:
            n = b.num_rows
            if n == 0:
                continue
            X = flatten_fixed_list(b.column("emb"), n)
            d = X.shape[1]
            emb = pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * d + 1, d, dtype=np.int32)),
                pa.array(X.astype(np.int32).ravel()),
            )
            yield pa.RecordBatch.from_arrays([b.column("id"), emb], ["id", "emb"])

    return spark.read.parquet(path).mapInArrow(decode, "id BIGINT, emb ARRAY<INT>")


# ------------------------------------------------------------- 100k fixture


def _synth100k_base(spark: SparkSession) -> DataFrame:
    """Stage (once) and load the 100k × 192-d v2 fixture as (id, emb)."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    out = _index_cache_dir("synth100k_v2", "base")
    # half the write target, as _MIN_BASE_FILES is for the bigger
    # bases: repartitionByRange's sampled bounds can leave a few of the
    # 32 ranges empty, and an exact check would restage every session
    if not _u8_layout_ok(out, 16):
        _write_u8_base(synth_uint8_base(spark).select("id", "emb"), out, 32)
    return _u8_view(spark, out)


def _synth_queries_staged(spark: SparkSession, nq: int) -> DataFrame:
    """Stage (once) and load a synth query batch — the reference reads
    its query set from a file, it does not regenerate it per run
    (`filter/run.py:10-12`); regenerating via the 32-task mapInPandas
    job cost ~3.7 s per measured run at nq=2048, pure fixture overhead.
    NOTE: these queries are the first nq BASE vectors (in-distribution
    by construction) — the filter track's query regime.  The OOD serving
    points use _synth_ood_queries_staged instead (VERDICT r7 #1)."""
    from filter_vectordb_spark.sources.synth import synth_queries

    out = _index_cache_dir("synth100k_v2", f"queries_nq{nq}")
    if not _is_built(out):
        synth_queries(spark, nq=nq).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _synth_ood_queries_staged(spark: SparkSession, nq: int) -> DataFrame:
    """Stage (once) and load the distribution-shifted query batch
    (sources/synth.synth_ood_queries): different hash family, per-dim
    shifted/scaled marginals, qids ∉ corpus — the text2image-shaped
    workload the OOD track actually measures (VERDICT r7 #1)."""
    from filter_vectordb_spark.sources.synth import synth_ood_queries

    out = _index_cache_dir("synth_ood_v1", f"queries_nq{nq}")
    if not _is_built(out):
        synth_ood_queries(spark, nq=nq).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


# -------------------------------------------------------------- 1M fixture


def _synth1m_base(spark: SparkSession) -> DataFrame:
    """Stage (once) and load the 1M × 192-d v2 fixture — 10× the 100k
    point, one decade below the OOD track's text2image-10M.  At this
    size the exact scan is ~79 Gflop per 2k-query batch, so a sub-linear
    index path shows a REAL throughput multiple instead of drowning in
    per-job constants (the 100k point's failure mode)."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    bdir = _index_cache_dir("synth1m_v2", "base")
    if not _u8_layout_ok(bdir):
        _write_u8_base(synth_uint8_base(spark, n=1_000_000).select("id", "emb"), bdir)
    return _u8_view(spark, bdir)


def _build_ivfsq(base: DataFrame, out: str, **kw) -> None:
    """Build (coarse="numpy") and save an IVF+SQ8 index over a base view.
    The build scans its base four times (sample, assignment, SQ grid,
    encode), so the view is persisted to disk first: decoded once, the
    build's own Python stages then reuse the decode stage's idle workers
    instead of running one decode worker beside each of theirs — that
    second worker per task OOM-killed the 1M build at 8 local tasks on a
    16 GB host, where the list-format parent peaked at 15.1 GB."""
    from pyspark import StorageLevel

    from filter_vectordb_spark.index.ivfsq import build_ivfsq, save_ivfsq

    base = base.persist(StorageLevel.DISK_ONLY)
    try:
        save_ivfsq(*build_ivfsq(base, coarse="numpy", **kw), out)
    finally:
        base.unpersist()


def _ivfsq_1m(spark: SparkSession):
    """Build-once (faiss protocol: coarse quantizer trained on a 100k
    sample, everything assigned) and load the 1M IVF(256)+SQ8 index.
    Returns (entries, centroids, vmin, vmax, out_dir).

    _g2: integer-snapped lossless grid (train_sq snap_integer) +
    the deterministic driver-side coarse trainer (coarse="numpy" on the
    id-ordered sample) — MLlib's limit()-sampled clustering varied
    across rebuilds, which silently shifted partial-probe recall."""
    from filter_vectordb_spark.index.ivfsq import load_ivfsq

    base = _synth1m_base(spark)
    out = _index_cache_dir("synth1m_v2", "ivfsq256_g2")
    if not _is_built(f"{out}/entries", f"{out}/centroids", f"{out}/grid"):
        _build_ivfsq(base, out, nlist=256, max_iter=16, train_rows=100_000)
    return (*load_ivfsq(spark, out), out)


# ------------------------------------------------------------- 10M fixture

_10M_N = 10_000_000
_10M_NLIST = 3200  # √N rule (√10M ≈ 3162; the reference's IVF16384 at 100M-class)


def _synth10m_base(spark: SparkSession) -> DataFrame:
    """Stage (once) and load the 10M × 192-d v2 fixture — the OOD
    track's own scale (text2image-10M).  Exact anchor ≈ 7.9 Tflop per
    2048-query batch."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    bdir = _index_cache_dir("synth10m_v2", "base")
    if not _u8_layout_ok(bdir):
        _write_u8_base(synth_uint8_base(spark, n=_10M_N).select("id", "emb"), bdir)
    return _u8_view(spark, bdir)


def _ivfsq_10m(spark: SparkSession):
    """Build-once/load the 10M IVF(3200)+SQ8 index.  The coarse quantizer
    trains driver-side (coarse="numpy", blocked f32 BLAS over a 200k
    sample — MLlib's scalar loops need minutes per iteration at √N-rule
    list counts where the BLAS block needs ~1 s); assignment of the full
    10M rows is one distributed Arrow pass."""
    from filter_vectordb_spark.index.ivfsq import load_ivfsq

    base = _synth10m_base(spark)
    out = _index_cache_dir("synth10m_v2", f"ivfsq{_10M_NLIST}_g1")
    if not _is_built(f"{out}/entries", f"{out}/centroids", f"{out}/grid"):
        _build_ivfsq(base, out, nlist=_10M_NLIST, max_iter=10, train_rows=200_000)
    return (*load_ivfsq(spark, out), out)


def _gt_kth_10m(spark: SparkSession) -> "object":
    """Stage (once) the true 10th-best IP score for every 32nd OOD query
    (256 sampled queries — VERDICT r7 #3 widened the denominator from
    64) — the tie-aware recall denominator, recomputed in numpy from the
    closed-form generators (base: synth_uint8_base's pattern; queries:
    sources/synth.ood_matrix — the distribution-shifted set, VERDICT r7
    #1) and cached as parquet.  f32 GEMM is exact here: base ≤ 250,
    query ≤ 253, 192-dim partial sums < 2²⁴."""
    import os

    import numpy as np
    import pandas as pd

    out = _index_cache_dir("synth10m_v2", "gt_ood_kth_nq256")
    path = os.path.join(out, "gt.parquet")
    if not os.path.exists(path):
        from filter_vectordb_spark.index.ivf import driver_blas
        from filter_vectordb_spark.sources.synth import ood_matrix

        os.makedirs(out, exist_ok=True)
        K1, K3 = 2654435761, 2246822519
        js = np.arange(192, dtype=np.int64)

        def emb(ids):
            return (
                (((ids[:, None] * K1) ^ ((js[None, :] + 1) * K3)) >> 11) % 251
            ).astype(np.float32)

        qids = np.arange(0, 8192, 32, dtype=np.int64)
        Q = ood_matrix(qids).astype(np.float32)
        best = None
        with driver_blas(os.cpu_count() or 8):
            for lo in range(0, _10M_N, 250_000):
                ids = np.arange(lo, lo + 250_000, dtype=np.int64)
                G = Q @ emb(ids).T
                p = np.argpartition(-G, 10, axis=1)[:, :10]
                d = np.take_along_axis(G, p, axis=1)
                best = d if best is None else np.concatenate([best, d], axis=1)
        kth = -np.partition(-best, 9, axis=1)[:, 9]
        tmp = path + ".tmp"
        pd.DataFrame({"qid": qids, "kth": kth.astype(np.float64)}).to_parquet(tmp)
        os.replace(tmp, path)
    return __import__("pandas").read_parquet(path)


# ----------------------------------------------------- sparse 1M fixture

SPARSE1M_N = 1_000_000
SPARSE1M_NNZ = 120  # the SPLADE document profile (~120 nnz/doc)
SPARSE1M_Q_NNZ = 32
SPARSE1M_NQ = 1_024


def _synth_sparse1m_terms_dir(spark: SparkSession) -> str:
    """Stage (once) the 1M-doc / 30k-dim / 120-nnz SPLADE-shaped sparse
    corpus (~120M long-form rows) and return its parquet dir.

    Segment layout IS the index (sparse_topk_sharded's fast path):
    repartitionByRange(id) makes every file a CONTIGUOUS-id slice of
    complete documents (dense doc index = id − min, no per-task
    factorize), and sortWithinPartitions(term) stores each segment
    term-sorted so posting lists are binary-searchable ranges with no
    per-task argsort — profiled: the in-kernel 3.7M-row sort cost more
    than the whole scoring under 32-way memory contention.  This is
    build-time work by design: the reference's linscan builds its
    inverted index once too (BASELINE QPS excludes build).

    128 segments (v3; was 32) — the serving-layout rule (_BASE_FILES):
    the per-task dense score block is nq × (1M/nsegments) f64, and at
    32 segments each of 32 concurrent tasks allocated-faulted-freed a
    256 MB bincount block per file (8 GB of first-touch per run — the
    measured 8× run-1 arena tax, VERDICT r11 #7) and the task grain
    pinned low-core benches to 1 wave.  At 128 the block is 64 MB, the
    grain serves any core count, and the global top-k is segmentation-
    independent (per-file local top-k + exact merge, parity-tested), so
    values are identical."""
    from filter_vectordb_spark.sources.synth import synth_sparse_terms

    out = _index_cache_dir("sparse1m_v1", "terms_v3")
    if not _is_built(out):
        synth_sparse_terms(spark, n=SPARSE1M_N, nnz=SPARSE1M_NNZ).repartitionByRange(
            128, "id"
        ).sortWithinPartitions("term").write.mode("overwrite").parquet(out)
    return out


def _synth_sparse1m_queries(spark: SparkSession) -> DataFrame:
    """Stage (once) the 1,024-query / ~32-nnz sparse batch."""
    from filter_vectordb_spark.sources.synth import synth_sparse_queries

    out = _index_cache_dir("sparse1m_v1", "queries")
    if not _is_built(out):
        synth_sparse_queries(spark, nq=SPARSE1M_NQ, nnz=SPARSE1M_Q_NNZ).write.mode(
            "overwrite"
        ).parquet(out)
    return spark.read.parquet(out)


# ----------------------------------------------------- sparse 8.84M fixture

SPARSE8M84_N = 8_841_823  # MSMARCO-SPLADE's exact doc count (BASELINE row 2)


def _synth_sparse8m84_terms_dir(spark: SparkSession) -> str:
    """Stage (once) the sparse corpus at the reference track's OWN size:
    8,841,823 docs / 30k dims / ~120 nnz (linscan's MSMARCO-SPLADE,
    `README.md:42` — 101 QPS on 8 vCPUs).  Same segment-is-the-index
    layout as the 1M staging; 256 range segments keep each task's dense
    score block at nq×width ≈ 1024 × ~34.5k ≈ 283 MB, inside
    sparse_topk_sharded's dense-path cap.  ~1.06 G long-form rows,
    ~4 GB parquet; build-time work by design (BASELINE QPS excludes
    build)."""
    from filter_vectordb_spark.sources.synth import synth_sparse_terms

    # IMPACT-ORDERED segments: within each term's posting range the rows
    # are weight-descending, so a traversal budget is a pure slice of
    # the binary-searched range — linscan's impact-ordered index layout
    # (`sparse/linscan` processes postings in decreasing-impact order
    # under a time/length budget).  The EXACT path is unaffected: it
    # consumes whole ranges, and term-sortedness still holds.
    out = _index_cache_dir("sparse8m84_v1", "terms_impact")
    if not _is_built(out):
        synth_sparse_terms(spark, n=SPARSE8M84_N, nnz=SPARSE1M_NNZ).repartitionByRange(
            256, "id"
        ).sortWithinPartitions("term", F.desc("w")).write.mode("overwrite").parquet(out)
    return out


def _synth_sparse8m84_skewed_terms_dir(spark: SparkSession) -> str:
    """Stage (once) the SKEWED-impact variant of the 8.84M corpus
    (profile="skewed": log-quantized heavy-tail weights, the real
    SPLADE impact shape — see sources/synth.sparse_weight_matrix).
    Same impact-ordered segment layout.  This is the regime where
    linscan's budgeted traversal actually operates: on the
    uniform-weight corpus budget pruning is a tie-lottery (measured
    non-monotone recall, docs/RESULTS_r8.md §5); here the rare
    high-impact postings that decide top-k rankings sort to the front
    of every posting range."""
    from filter_vectordb_spark.sources.synth import synth_sparse_terms

    out = _index_cache_dir("sparse8m84_v1", "terms_skewed")
    if not _is_built(out):
        synth_sparse_terms(
            spark, n=SPARSE8M84_N, nnz=SPARSE1M_NNZ, profile="skewed"
        ).repartitionByRange(256, "id").sortWithinPartitions(
            "term", F.desc("w")
        ).write.mode("overwrite").parquet(out)
    return out


# ------------------------------------------------- yfcc-shaped fixtures
# BASELINE row 1 (filter track, yfcc-10M) at the reference's own corpus
# size AND vocabulary shape: the dyadic-Zipf tag model
# (sources/synth.synth_yfcc_base — 262k-tag vocabulary, heavy-tailed
# doc frequencies, 1-2-tag queries spanning the selectivity range the
# mt_threshold hybrid was built for).  The 30-tag modular model behind
# filtered_knn_100k stays registered as the pair-view-only point.


def _yfcc_index_dir(spark: SparkSession, key: str, n: int) -> str:
    """Stage (once) the full filtered-serving index (index/filteridx
    layout: stats/grid/codes/tagview/pair) over an n-doc yfcc-shaped
    corpus; returns the index dir.  Build-time work by design (the
    reference prebuilds its per-tag/pair sub-indexes at fit(),
    `filter/faiss/faiss.py:254-337`; BASELINE QPS excludes build)."""
    from filter_vectordb_spark.index.filteridx import (
        build_filtered_index,
        index_is_built,
    )
    from filter_vectordb_spark.sources.synth import synth_yfcc_base

    # _v3: tag views carry the shared coarse quantizer's list id
    # (lst-sorted files) + centroids/ — the nprobe-gated serving layout.
    # _v4: codes + tagview persist the per-row squared-norm column
    # (VERDICT r8 #1a) so serving reads norms instead of recomputing
    # them over the whole corpus every batch
    out = _index_cache_dir(key, "fidx_v4")
    if not index_is_built(out):
        build_filtered_index(synth_yfcc_base(spark, n=n), out)
    else:
        # upgrade-in-place: the memmap serving sidecars (meta_bin/ +
        # tag_bin/) are derived artifacts — ensure them without
        # rebuilding the parquet layout (idempotent no-op once present)
        from filter_vectordb_spark.index.filteridx import (
            build_meta_bins,
            build_tag_bins,
        )

        build_meta_bins(spark, out)
        build_tag_bins(spark, out)
    return out


def _yfcc100k_index(spark: SparkSession) -> str:
    return _yfcc_index_dir(spark, "yfcc100k_v2", 100_000)


def _yfcc10m_index(spark: SparkSession) -> str:
    return _yfcc_index_dir(spark, "yfcc10m_v2", 10_000_000)


def _yfcc_queries_staged(spark: SparkSession, nq: int) -> DataFrame:
    """Stage (once) the yfcc-shaped query batch (1-2 conjunctive tags,
    in-distribution off-corpus embeddings)."""
    from filter_vectordb_spark.sources.synth import synth_yfcc_queries

    out = _index_cache_dir("yfcc_queries_v2", f"nq{nq}")
    if not _is_built(out):
        synth_yfcc_queries(spark, nq=nq).write.mode("overwrite").parquet(out)
    return spark.read.parquet(out)


def _yfcc_queries_8192(spark: SparkSession) -> DataFrame:
    """The standing 8,192-query serving batch (bench.py's stager list
    needs a named single-argument callable)."""
    return _yfcc_queries_staged(spark, 8192)


# ----------------------------------------------------- msturing-1M fixture


def _synth_msturing1m_clustered(spark: SparkSession) -> tuple[DataFrame, str]:
    """Stage (once) the CLUSTER-PERMUTED msturing-1M corpus plus its
    delete-runbook YAML; returns (base(id, emb), runbook_path).

    BASELINE row 4's shape (VERDICT r7 #4): the reference's
    msturing-10M-clustered delete_runbook interleaves cluster inserts
    with range deletes under a capacity cap so consolidation fires
    repeatedly (`streaming/delete_runbook.yaml`).  Here: 8 k-means
    clusters (deterministic driver-side trainer), cluster-contiguous
    reindex (streaming/clustered.cluster_permutation — the generator's
    offsets/counters permutation), and generate_delete_runbook's fixed
    insert/delete/search interleave with max_pts = 3/4 of the corpus."""
    import os

    from filter_vectordb_spark.index.ivf import build_ivf
    from filter_vectordb_spark.streaming.clustered import (
        cluster_permutation,
        generate_delete_runbook,
    )

    out = _index_cache_dir("msturing1m_v2", "clustered_base")
    # the yaml lives BESIDE the parquet dir — Spark's parquet reader
    # lists every non-underscore file in its directory
    ydir = _index_cache_dir("msturing1m_v2", "clustered_runbook")
    ypath = os.path.join(ydir, "delete_runbook.yaml")
    if not (_is_built(out) and os.path.exists(ypath) and _layout_ok(out)):
        os.makedirs(ydir, exist_ok=True)
        src = _synth_msturing1m(spark).filter(F.col("id") < 1_000_000)
        assignments, _ = build_ivf(
            src, nlist=8, max_iter=8, train_rows=100_000, coarse="numpy"
        )
        labeled = assignments.withColumnRenamed("centroid_id", "label")
        permuted, offsets = cluster_permutation(labeled)
        _write_base(permuted.select(F.col("new_id").alias("id"), "emb"), out)
        tmp = ypath + ".tmp"
        generate_delete_runbook(offsets, tmp, dataset="msturing-1m-clustered")
        os.replace(tmp, ypath)
    return spark.read.parquet(out), ypath


def _synth_msturing10m_clustered(spark: SparkSession) -> tuple[DataFrame, str]:
    """Stage (once) the cluster-permuted msturing-10M corpus plus its
    delete-runbook YAML — BASELINE row 4 at the reference's OWN scale
    (msturing-10M-clustered delete_runbook: 0.924 recall @ ~23 min,
    `README.md:44`).  Same recipe as the 1M staging: 8 deterministic
    k-means clusters, cluster-contiguous reindex, and
    generate_delete_runbook's insert/range-delete/search interleave
    under max_pts = 3/4 corpus so ST4 consolidation fires repeatedly."""
    import os

    from filter_vectordb_spark.index.ivf import build_ivf
    from filter_vectordb_spark.streaming.clustered import (
        cluster_permutation,
        generate_delete_runbook,
    )

    out = _index_cache_dir("msturing10m_v1", "clustered_base")
    ydir = _index_cache_dir("msturing10m_v1", "clustered_runbook")
    ypath = os.path.join(ydir, "delete_runbook.yaml")
    if not (_is_built(out) and os.path.exists(ypath)):
        os.makedirs(ydir, exist_ok=True)
        src = _synth_msturing10m(spark).filter(F.col("id") < 10_000_000)
        assignments, _ = build_ivf(
            src, nlist=8, max_iter=8, train_rows=100_000, coarse="numpy"
        )
        labeled = assignments.withColumnRenamed("centroid_id", "label")
        permuted, offsets = cluster_permutation(labeled)
        permuted.select(F.col("new_id").alias("id"), "emb").repartition(
            spark.sparkContext.defaultParallelism
        ).write.mode("overwrite").parquet(out)
        tmp = ypath + ".tmp"
        generate_delete_runbook(offsets, tmp, dataset="msturing-10m-clustered")
        os.replace(tmp, ypath)
    return spark.read.parquet(out), ypath


def _synth_msturing10m(spark: SparkSession) -> DataFrame:
    """Stage (once) the msturing-shaped 10M × 100-d fixture plus 8,192
    query rows (ids ≥ 10M relabel as qids) — BASELINE row 5's own scale
    (msturing-10M simple_runbook: recall@10 0.892 @ ~28 min).  ~4.2 GB
    parquet; integer values keep every checkpoint search f32-exact."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    out = _index_cache_dir("msturing10m_v1", "base")
    if not _is_built(out):
        synth_uint8_base(spark, n=10_008_192, d=100).select("id", "emb").write.mode(
            "overwrite"
        ).parquet(out)
    return spark.read.parquet(out)


def _synth_msturing1m(spark: SparkSession) -> DataFrame:
    """Stage (once) the msturing-shaped 1M × 100-d fixture plus 8,192
    query rows (ids ≥ 1M relabel as qids — distinct from every corpus
    row by construction).  msturing is 100-d; integer values keep every
    checkpoint search f32-exact (knn_join contract)."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    out = _index_cache_dir("msturing1m_v2", "base")
    if not (_is_built(out) and _layout_ok(out)):
        _write_base(
            synth_uint8_base(spark, n=1_008_192, d=100).select("id", "emb"), out
        )
    return spark.read.parquet(out)
