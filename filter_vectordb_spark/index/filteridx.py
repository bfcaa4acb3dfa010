"""yfcc-scale filtered k-NN serving (BASELINE row 1 at the reference's
own 10M × 192-d × heavy-tailed-vocabulary shape).

Reference architecture (`filter/faiss/faiss.py:238-418`): fit() computes
per-tag doc frequencies (`:238-239`) and prebuilds sub-indexes for every
frequent tag and tag pair (`:254-337`, threshold 0.003); search() routes
per query on estimated selectivity (`mt_threshold`, `:378-385` min-
frequency upper bound): selective queries take metadata-first CSR
intersection + brute force (`:392-399`); the rest search the rarer tag's
sub-index with the other tag checked per node
(`filter/hnsw/hnswalg.h:89,1751-1756` filter_label_set_).

Spark re-expression — four routes, ALL exact (recall 1.0; the reference
trades recall for QPS only because its per-tag indexes are HNSW):

  R1 pair view    both query tags form a prebuilt pair partition →
                  partition-pruned scan of exactly the matching docs
                  (filteridx_kernels._view_scan, SQ8-coded, salted).
  R2 tag view     single frequent tag → partition-pruned scan of the
                  tag's docs.
  R3 tag view+mask  two tags, pair unbuilt, rarer tag frequent → scan
                  the rarer tag's partition, mask rows containing the
                  other tag in-kernel (the view carries each doc's full
                  tags array — the filter_label_set_ equivalent).
  R4 metadata-first  rarer tag below min_freq → ONE direct-read pass
                  over the id-sorted codes table: probed-tag inverted
                  hits (vectorized searchsorted over the flattened tags
                  column), per-query posting intersection, grouped GEMM
                  over only the candidates — work ∝ Σ_q |candidates(q)|,
                  the reference's metadata-first cost model batched
                  across the whole query set.

Layout (build_filtered_index):
  stats/    (tag, ndoc)                         A1 routing table
  grid/     SQ8 lossless grid                   shared decode offset
  codes/    (id, codes, tags, xn) id-range      meta_bin's build source,
                                                R4 gather plan's input
  pair/     index/tagpart pair layout           R1
  meta_bin/ int8 bins + CSR + norms (npy)       R4 memmap serving
  tag_bin/  per-(tag, salt) bins, lst-sorted    R2/R3 memmap serving,
            + CSR                               written by the view's
                                                grouped encode pass

The *_bin sidecars (r9) are DERIVED serving artifacts — the reference's
in-RAM uint8 matrix + CSR metadata (`benchmark/datasets.py` xbin_mmap,
`filter/faiss/faiss.py:237`) as memmapped files: workers share corpus
pages through the page cache instead of re-reading + re-decoding
parquet into per-worker buffers every batch, and candidate gathers
touch only candidate rows.  They are R2-R4's only serving layout: an
index without them is not built (index_is_built), and filtered_search
refuses it by name.  meta_bin/ is built from the codes/ parquet;
tag_bin/ is written straight from the frequent-tag view frame, with no
parquet copy of the view.

Everything serves 1-byte SQ8 codes (lossless on integer corpora — the
yfcc uint8 regime) and ships only nq×k partials per task into the W3
merge; no route materializes a candidate join.

Contracts: `tags` arrays hold DISTINCT tags per doc (the exploded
views and the R4 hit lists would otherwise duplicate candidates —
every in-tree generator satisfies this).  R4's one-pass sweep is the
right plan while the codes table is page-cache-sized (2.4 GB at 10M);
for a corpus orders of magnitude past RAM, the same selective queries
route through the posting-intersection candidate join instead
(operators/filtered_knn.filtered_knn_metadata_first — work ∝
Σ|postings|, oracle-checked), trading the sweep for a shuffle.
"""

from __future__ import annotations

import glob as _glob
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.index.tagpart import _train_codec
from filter_vectordb_spark.operators.postings import explode_tags
from filter_vectordb_spark.operators.topk import per_group_topk

#: the reference's sub-index build threshold (`filter/faiss/faiss.py:268`)
DEFAULT_MIN_FREQ = 0.003


def _encode_with_tags(base: DataFrame, vmin: np.ndarray, vmax: np.ndarray) -> DataFrame:
    """(id, codes ARRAY<TINYINT>, tags ARRAY<INT>, xn DOUBLE) in one
    Arrow pass — index/sq.encode_sq's transform with the tags column
    carried through (a post-hoc join would shuffle the corpus a second
    time at build).

    xn is the per-row squared norm, persisted AT BUILD (VERDICT r8 #1a):
    serving previously recomputed `_sqnorms` over the whole corpus every
    batch in every route — a full extra memory pass over data that never
    changes.  On the lossless integer grid the f64 build-time sum equals
    the serve-time f32-einsum exactly (partial sums < 2²⁴), so persisted
    and recomputed norms are bit-identical."""
    from filter_vectordb_spark.index.sq import _scales

    scale = _scales(vmin, vmax)
    lo = vmin.copy()

    def enc(it):
        import pyarrow as pa

        from filter_vectordb_spark.operators.knn import flatten_fixed_list, list_column

        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column("emb"), batch.num_rows).astype(np.float64)
            C = np.clip(np.rint((X - lo[None, :]) / scale[None, :]), 0, 255)
            codes = (C - 128).astype(np.int8)
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("id"),
                    list_column(codes),
                    batch.column("tags"),
                    pa.array(np.einsum("ij,ij->i", X, X)),
                ],
                ["id", "codes", "tags", "xn"],
            )

    return base.select("id", "emb", "tags").mapInArrow(
        enc, schema="id long, codes array<tinyint>, tags array<int>, xn double"
    )


#: the memmap serving sidecars, written last by build_filtered_index
_SIDECARS = ("meta_bin", "tag_bin")


def index_is_built(out_dir: str) -> bool:
    return (
        os.path.exists(f"{out_dir}/meta.json")
        and all(
            os.path.exists(f"{out_dir}/{p}/_SUCCESS")
            for p in ("stats", "grid", "codes", "pair/view", "centroids")
        )
        and all(os.path.exists(f"{out_dir}/{p}/_SUCCESS.json") for p in _SIDECARS)
    )


def build_filtered_index(
    base: DataFrame,
    out_dir: str,
    min_freq: float = DEFAULT_MIN_FREQ,
    pair_min_freq: float = DEFAULT_MIN_FREQ,
    split_rows: int = 262_144,
    nlist: int | None = None,
) -> None:
    """Fit-time build (the reference's fit(), `filter/faiss/faiss.py:
    238-337`; BASELINE QPS excludes build).  base: (id, emb, tags) with
    integer emb admitting the lossless SQ8 grid — the yfcc uint8 regime;
    a float corpus is refused rather than silently served lossy.

    nlist (default √n): a shared coarse quantizer is sample-trained and
    every tag-view row carries its list id, stored LIST-SORTED within
    each (tag, salt) file — the per-tag sub-index the reference builds
    as HNSW (`filter/faiss/faiss.py:254-288`) becomes binary-searchable
    list ranges inside the partition, so an nprobe-gated serve scans
    only each query's nearest lists (filtered_search(nprobe=…))."""
    from filter_vectordb_spark.index.ivf import build_ivf
    from filter_vectordb_spark.index.sq import write_grid
    from filter_vectordb_spark.index.tagpart import build_tag_pair_partitions

    spark = base.sparkSession
    codec = _train_codec(base)
    if codec is None:
        raise ValueError(
            "build_filtered_index requires an integer corpus admitting "
            "the lossless SQ8 grid (the yfcc uint8 regime); float "
            "embeddings would serve lossy codes"
        )
    # Rebuild-in-place safety (ADVICE r9 medium): the parquet below is
    # written mode=overwrite, but the *_bin sidecars are idempotent
    # build artifacts gated on _SUCCESS.json — left in place the
    # trailing build_*_bins calls would keep them, and serving would
    # answer from the OLD corpus.  Retire them first; those calls then
    # regenerate both from the new parquet.
    import shutil

    for sub in _SIDECARS:
        shutil.rmtree(f"{out_dir}/{sub}", ignore_errors=True)
    vmin, vmax = codec
    n = base.count()
    if nlist is None:
        nlist = max(16, int(round(n**0.5)))  # the √N rule
    stats = (
        explode_tags(base).groupBy("tag").agg(F.count("*").alias("ndoc"))
    )
    stats.write.mode("overwrite").parquet(f"{out_dir}/stats")
    write_grid(spark, vmin, vmax, f"{out_dir}/grid")

    coded = _encode_with_tags(base, vmin, vmax)
    # id-range files, id-sorted within: R4 tasks read row-group slices
    # whole; the sorted id column is what makes every view's ids align
    # with deterministic scan order (and keeps parquet RG stats tight)
    coded.repartitionByRange(
        spark.sparkContext.defaultParallelism, "id"
    ).sortWithinPartitions("id").write.mode("overwrite").parquet(f"{out_dir}/codes")

    # shared coarse quantizer (faiss protocol: sample-trained, full
    # assignment — the deterministic driver-side trainer)
    assignments, centroids = build_ivf(
        base.select("id", "emb"),
        nlist=nlist,
        max_iter=10,
        train_rows=min(200_000, n),
        coarse="numpy",
    )
    centroids.write.mode("overwrite").parquet(f"{out_dir}/centroids")

    # frequent-tag view, hot tags salted into ≤split_rows groups (the
    # pair build's straggler fix, index/tagpart.py — one bin-writer task
    # AND one scan unit per (tag, salt))
    sdf = spark.read.parquet(f"{out_dir}/stats")
    frequent = sdf.filter(F.col("ndoc") >= min_freq * n).select("tag", "ndoc")
    nsplit = F.greatest(F.lit(1), F.ceil(F.col("ndoc") / F.lit(split_rows))).cast("int")
    view = (
        explode_tags(base)
        .join(F.broadcast(frequent), "tag")
        .join(
            spark.read.parquet(f"{out_dir}/codes").select(
                "id", "codes", "tags", "xn"
            ),
            "id",
        )
        .join(assignments.select("id", F.col("centroid_id").alias("lst")), "id")
        .select(
            "tag",
            F.pmod(F.xxhash64(F.col("id")), nsplit).cast("int").alias("_salt"),
            "id",
            "codes",
            "tags",
            "xn",
            "lst",
        )
    )

    build_tag_pair_partitions(base, f"{out_dir}/pair", min_freq=pair_min_freq)

    meta = {
        "n_base": int(n),
        "min_freq": min_freq,
        "pair_min_freq": pair_min_freq,
        "nlist": int(nlist),
        # codes/ carries the persisted per-row squared-norm column
        # (VERDICT r8 #1a) that the sidecars serve; build_meta_bins
        # refuses a layout without it
        "xn": True,
    }
    tmp = f"{out_dir}/meta.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(meta, fh)
    os.replace(tmp, f"{out_dir}/meta.json")
    build_meta_bins(spark, out_dir)
    build_tag_bins(view, out_dir, nlist)


def _persisted_norms_meta(out_dir: str) -> dict:
    """meta.json of a layout whose codes/ parquet carries the persisted
    `xn` norms meta_bin/ copies; older layouts are refused."""
    with open(f"{out_dir}/meta.json") as fh:
        meta = json.load(fh)
    if not meta.get("xn"):
        raise ValueError(
            f'{out_dir}/meta.json lacks "xn": true — its parquet predates '
            "persisted norms; rebuild the index with build_filtered_index"
        )
    return meta


def build_meta_bins(spark: SparkSession, out_dir: str) -> None:
    """R4 serving sidecars — the reference's in-RAM serving arrays
    (uint8 base matrix + CSR tag metadata, `benchmark/datasets.py`
    xbin_mmap readers + `filter/faiss/faiss.py:237` meta_b CSR)
    re-expressed as BUILD ARTIFACTS beside the parquet.  Per codes file:

      meta_bin/<stem>.codes.bin   raw int8 (n × d) row-major — memmapped
      meta_bin/<stem>.ids.npy     int64 row → doc id
      meta_bin/<stem>.xn.npy      float64 per-row squared norms
      meta_bin/<stem>.ptags.npy   distinct tags in the file, ascending
      meta_bin/<stem>.pstarts.npy CSR offsets into prows
      meta_bin/<stem>.prows.npy   int32 row indices, ascending per tag

    Why: the parquet sweep re-read and re-decoded the whole codes table
    per batch into PER-WORKER Arrow + decode buffers (32 private copies
    under local[32]); memmapped bins share corpus pages across workers
    via the page cache and let the metadata-first kernel gather ONLY
    candidate rows — work ∝ Σ|candidates| with no full-corpus decode
    and no per-batch tags scan (the CSR is prebuilt).  On a cluster
    these artifacts live beside the parquet on shared storage and fault
    into each executor's page cache exactly once — the standard serving-
    index pattern the reference's mmap readers use.  Idempotent;
    _SUCCESS.json records the manifest.  Build-time work by design
    (BASELINE QPS excludes build)."""
    dest = f"{out_dir}/meta_bin"
    if os.path.exists(f"{dest}/_SUCCESS.json"):
        return
    _persisted_norms_meta(out_dir)
    os.makedirs(dest, exist_ok=True)
    files = sorted(_glob.glob(f"{out_dir}/codes/*.parquet"))
    fdf = spark.createDataFrame([(p,) for p in files], "path STRING")
    bc = spark.sparkContext.broadcast(dest)

    def build_one(it):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from filter_vectordb_spark.index.filteridx_kernels import (
            _codes_matrix,
            _flat_tags,
        )

        bdest = bc.value
        for batch in it:
            for path in batch.column("path").to_pylist():
                stem = os.path.splitext(os.path.basename(path))[0]
                cols = ["id", "codes", "tags", "xn"]
                tbl = pq.ParquetFile(path).read(columns=cols)
                n = tbl.num_rows
                ids = tbl.column("id").to_numpy(zero_copy_only=False).astype(
                    np.int64
                )
                C8 = np.ascontiguousarray(_codes_matrix(tbl.column("codes"), n))
                xn = tbl.column("xn").to_numpy(zero_copy_only=False)
                xn = np.ascontiguousarray(xn, dtype=np.float64)
                flat, row_of = _flat_tags(tbl.column("tags"), n)
                order = np.lexsort((row_of, flat))
                ft, ro = flat[order], row_of[order]
                bnd = np.flatnonzero(np.r_[True, ft[1:] != ft[:-1]])
                ptags = ft[bnd]
                pstarts = np.r_[bnd, len(ft)].astype(np.int64)
                prows = ro.astype(np.int32)
                for name, arr in (
                    ("ids", ids),
                    ("xn", xn),
                    ("ptags", ptags),
                    ("pstarts", pstarts),
                    ("prows", prows),
                ):
                    tmp = f"{bdest}/{stem}.{name}.npy.tmp"
                    np.save(open(tmp, "wb"), arr)
                    os.replace(tmp, f"{bdest}/{stem}.{name}.npy")
                tmp = f"{bdest}/{stem}.codes.bin.tmp"
                C8.tofile(tmp)
                os.replace(tmp, f"{bdest}/{stem}.codes.bin")
                yield pa.RecordBatch.from_pydict(
                    {"stem": [stem], "n": [n], "d": [C8.shape[1]]}
                )

    rows = fdf.mapInArrow(build_one, schema="stem string, n long, d long").collect()
    manifest = {
        "d": int(rows[0]["d"]) if rows else 0,
        "files": sorted((r["stem"], int(r["n"])) for r in rows),
    }
    tmp = f"{dest}/_SUCCESS.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, f"{dest}/_SUCCESS.json")


def build_tag_bins(view: DataFrame, out_dir: str, nlist: int) -> None:
    """R2/R3 serving sidecars — the tag-view twin of build_meta_bins,
    written straight from build_filtered_index's frequent-tag view
    (tag, _salt, id, codes, tags, xn, lst): one grouped-map call per
    (tag, salt) group, keyed `<t>.<salt>` →

      tag_bin/<key>.codes.bin  raw int8 (n × d), rows in (lst, id) order
      tag_bin/<key>.ids.npy    int64 row → doc id
      tag_bin/<key>.xn.npy     float64 squared norms
      tag_bin/<key>.lst.npy    int32 coarse-list id, ascending
      tag_bin/<key>.bounds.npy int64 first row of each list (nlist+1)
      tag_bin/<key>.{ptags,pstarts,prows}.npy  in-unit tag CSR

    The probed route previously read a probed tag's ENTIRE partition
    from parquet (hot tag ≈ 500 MB of Arrow per batch) to gather a few
    thousand candidate rows per query; the memmap layout makes the
    probe a binary-searched row-range gather from shared page-cache
    pages.  Each group is sorted by (lst, id) in its own task, so
    serving reads canonical lst-sorted rows; the CSR replaces the
    per-batch tags flatten for R3 conjunction masks.
    _SUCCESS.json records {tag: [[key, n], ...]}."""
    dest = f"{out_dir}/tag_bin"
    os.makedirs(dest, exist_ok=True)

    def write(tbl):
        import pyarrow as pa

        from filter_vectordb_spark.index.filteridx_kernels import (
            _codes_matrix,
            _flat_tags,
        )

        tag = tbl.column("tag")[0].as_py()
        key = f"{tag}.{tbl.column('_salt')[0].as_py()}"
        ids = tbl.column("id").to_numpy().astype(np.int64)
        lst = tbl.column("lst").to_numpy().astype(np.int32)
        order = np.lexsort((ids, lst))
        ids, lst = ids[order], lst[order]
        tbl = tbl.select(["codes", "tags", "xn"]).take(order)
        n = tbl.num_rows
        C8 = np.ascontiguousarray(_codes_matrix(tbl.column("codes"), n))
        xn = np.ascontiguousarray(tbl.column("xn").to_numpy(), dtype=np.float64)
        flat, row_of = _flat_tags(tbl.column("tags"), n)
        torder = np.lexsort((row_of, flat))
        ft, ro = flat[torder], row_of[torder]
        bnd = np.flatnonzero(np.r_[True, ft[1:] != ft[:-1]])
        # per-unit probe bounds precomputed at build (VERDICT r9 next
        # #1b): bounds[l] = first row of coarse list l in the lst-sorted
        # layout — the probed kernel's per-batch searchsorted (and its
        # lst page touches) move here, once per unit ever
        bounds = np.searchsorted(lst, np.arange(nlist + 1, dtype=np.int64)).astype(
            np.int64
        )
        for name, arr in (
            ("ids", ids),
            ("xn", xn),
            ("lst", lst),
            ("bounds", bounds),
            ("ptags", ft[bnd]),
            ("pstarts", np.r_[bnd, len(ft)].astype(np.int64)),
            ("prows", ro.astype(np.int32)),
        ):
            tmp = f"{dest}/{key}.{name}.npy.tmp"
            with open(tmp, "wb") as fh:
                np.save(fh, arr)
            os.replace(tmp, f"{dest}/{key}.{name}.npy")
        tmp = f"{dest}/{key}.codes.bin.tmp"
        C8.tofile(tmp)
        os.replace(tmp, f"{dest}/{key}.codes.bin")
        return pa.Table.from_pydict(
            {"tag": [tag], "key": [key], "n": [n], "d": [C8.shape[1]]}
        )

    rows = (
        view.groupBy("tag", "_salt")
        .applyInArrow(write, schema="tag long, key string, n long, d long")
        .collect()
    )
    by_tag: dict = {}
    for r in rows:
        by_tag.setdefault(int(r["tag"]), []).append((r["key"], int(r["n"])))
    manifest = {
        "d": int(rows[0]["d"]) if rows else 0,
        "tags": {str(t): sorted(v) for t, v in by_tag.items()},
    }
    tmp = f"{dest}/_SUCCESS.json.tmp"
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.replace(tmp, f"{dest}/_SUCCESS.json")


def _tag_bins(out_dir: str):
    """The checked tag_bin manifest (_bin_manifest) as the tag-view
    kernels' `bins` tuple (bin_dir, {tag: [(key, n)]}, d), or None when
    the sidecar is not built."""
    bin_dir = f"{out_dir}/tag_bin"
    if not os.path.exists(f"{bin_dir}/_SUCCESS.json"):
        return None
    man = _bin_manifest(bin_dir)
    return bin_dir, man["tags"], int(man["d"])


#: per-session memo of loaded routing metadata, keyed by (appId, path,
#: meta.json mtime) — the freshness pattern of tagpart._VIEW_CACHE,
#: which memoizes the same _view_files listing for the tag/pair views
_ROUTE_CACHE: dict = {}


def _load_routing(spark: SparkSession, out_dir: str):
    """(ndoc dict, n_base, min_freq, decode_off, pair→files dict,
    freq_tag→sidecar units dict, centroids, has_xn).  The stats table is
    vocabulary-bounded (the
    reference's is ~200k tags — a few MB driver-side, the same table
    its fit() keeps in memory, `filter/faiss/faiss.py:238-239`); the
    built pairs come from the partition directory names, the routable
    frequent tags from the tag_bin manifest the tag-view kernels serve
    (empty without one) — driver metadata, no Spark job."""
    from filter_vectordb_spark.index.sq import read_grid

    try:
        token = os.stat(f"{out_dir}/meta.json").st_mtime_ns
    except OSError:
        token = None
    key = (spark.sparkContext.applicationId, out_dir, token)
    hit = _ROUTE_CACHE.get(key)
    if hit is None:
        with open(f"{out_dir}/meta.json") as fh:
            meta = json.load(fh)
        pdf = spark.read.parquet(f"{out_dir}/stats").toPandas()
        ndoc = dict(zip(pdf["tag"].astype(int), pdf["ndoc"].astype(int)))
        vmin, _vmax = read_grid(spark, f"{out_dir}/grid")
        off = vmin + 128.0
        pair_files = _view_files(f"{out_dir}/pair/view", _PAIR_KEYS)
        cpdf = (
            spark.read.parquet(f"{out_dir}/centroids")
            .toPandas()
            .sort_values("centroid_id")
        )
        C = np.stack(cpdf["centroid"].to_numpy()).astype(np.float64)
        for stale in [k for k in _ROUTE_CACHE if k[1] == out_dir]:
            del _ROUTE_CACHE[stale]
        hit = (
            ndoc,
            int(meta["n_base"]),
            float(meta["min_freq"]),
            off,
            pair_files,
            C,
            bool(meta.get("xn", False)),
        )
        _ROUTE_CACHE[key] = hit
    ndoc, n_base, min_freq, off, pair_files, C, has_xn = hit
    tb = _tag_bins(out_dir)
    tag_files = {} if tb is None else tb[1]
    return ndoc, n_base, min_freq, off, pair_files, tag_files, C, has_xn


# Serve kernels + shared decode/posting helpers live in
# index/filteridx_kernels.py (VERDICT r8 #8 split); re-exported here so
# the public surface (and the tests pinning kernel internals) keep one
# import root.
from filter_vectordb_spark.index.filteridx_kernels import (  # noqa: F401
    _BIN_MANIFESTS,
    _DECODE_SCRATCH,
    _PAIR_CHUNK,
    _PAIR_KEYS,
    _PARTIAL,
    _bin_manifest,
    _codes_matrix,
    _decode,
    _decode_poison,
    _flat_tags,
    _meta_bin_scan,
    _score_meta_bin,
    _score_meta_gather,
    _score_pairview,
    _score_tagview,
    _score_tagview_probed,
    _sqnorms,
    _tagview_probed_scan,
    _tagview_scan,
    _view_files,
    _view_scan,
)

#: auto meta-plan switch (VERDICT r8 #1c): when the batch's estimated
#: candidate volume Σ_q ndoc[rarer tag] is below this fraction of the
#: corpus, the tagged selective queries take the shuffle-based
#: posting-gather plan instead of the O(corpus) direct-read sweep.  The
#: sweep amortizes one full metadata pass over the whole batch — right
#: for big batches on a page-cache-sized corpus (the 8,192-query yfcc
#: bench rows stay on it: their Σ est is ~10× corpus) — but for a small
#: or hyper-selective batch, and for any corpus far past executor RAM,
#: the gather's work ∝ Σ|postings| + Σ|candidates| with spill-safe
#: shuffles is the plan that survives a 100× scale-up.
GATHER_MAX_CAND_FRAC = 0.002


def _route(qtags_col, ndoc: dict, thr: float, pairs: set, tag_files: dict):
    """Per-query route decision — the reference's min-frequency rule
    (`filter/faiss/faiss.py:378-385`) plus its prebuilt-sub-index
    preference (`:404-418`).  Returns (r_pair, r_tag, r_meta row-index
    lists, tag_col, other_col).  Pure driver-side; unit-tested."""
    n = len(qtags_col)
    r_pair, r_tag, r_meta = [], [], []
    tag_col = np.full(n, -1, dtype=np.int64)
    other_col = np.full(n, -1, dtype=np.int64)
    for j, t in enumerate(qtags_col):
        need = sorted({int(x) for x in (t if t is not None else ())})
        if len(need) == 2 and (need[0], need[1]) in pairs:
            r_pair.append(j)
            continue
        if len(need) > 2:
            # >2-tag conjunctions go to the metadata route UNCONDITIONALLY:
            # its multi-tag sorted-intersection path verifies every
            # conjunct, whereas the tag-view route carries only (rarer,
            # other) and would silently drop the third conjunct —
            # returning a superset that violates the conjunction
            # (ADVICE r8; pinned in tests/test_filteridx.py)
            r_meta.append(j)
            continue
        freqs = [(ndoc.get(x, 0), x) for x in need]
        if not freqs or min(f for f, _ in freqs) < thr:
            r_meta.append(j)  # incl. the empty conjunction (scan-all)
            continue
        _, rarer = min(freqs)
        if rarer in tag_files:
            tag_col[j] = rarer
            rest = [x for x in need if x != rarer]
            other_col[j] = rest[0] if rest else -1
            r_tag.append(j)
        else:
            # frequent by count but not in the tag_bin manifest — exact
            # through the metadata route
            r_meta.append(j)
    return r_pair, r_tag, r_meta, tag_col, other_col


def filtered_search(
    spark: SparkSession,
    out_dir: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int | None = None,
    meta_plan: str = "auto",
) -> DataFrame:
    """Serve a query batch through the built index.  queries: (qid,
    qemb, qtags ARRAY<INT>, 0-2 tags).  Returns (qid, id, dist, rank);
    a query whose conjunction matches no doc is absent (the harness's
    -1 padding is W2's job).  Routing is the reference's min-frequency
    rule (`filter/faiss/faiss.py:378-385`): rarer-tag ndoc < min_freq·n
    → metadata-first; else the prebuilt pair/tag partitions.

    nprobe: None serves the tag-view routes EXACTLY (full partition
    scan — recall 1.0 everywhere).  An integer serves them through the
    per-tag IVF layout (each query scans only its nprobe nearest coarse
    lists — the reference's per-tag sub-indexes are likewise
    approximate, its 3,200 QPS is AT the 0.9-recall gate); the pair
    and metadata-first routes stay exact either way, mirroring the
    reference's hybrid (selective queries are exact brute force there
    too, `filter/faiss/faiss.py:392-399`).  nprobe ≥ nlist reproduces
    the exact result bit-for-bit.

    The direct-read routes (pair view, tag view, metadata sweep) run as
    one scan_units launch — one stage, one Python task per core, each
    task serving its share of every route in turn; the gather plan, a
    DataFrame plan, is unioned before the W3 merge.

    meta_plan: how the R4 selective queries execute (VERDICT r8 #1c) —
    "sweep" is the direct-read pass over the meta_bin sidecar (work:
    Σ|postings| over its prebuilt CSR + Σ|candidates|, right while the
    batch is large and the corpus page-cache-sized), "gather" is the
    shuffle-based posting-intersection + candidate-join plan (_score_meta_gather
    — work ∝ Σ|postings| + Σ|candidates| with no broadcast/page-cache
    assumption, the shape that survives a 100× corpus), "auto" picks
    per batch on the estimated candidate volume vs GATHER_MAX_CAND_FRAC
    of the corpus.  Both plans are exact with bit-identical distances;
    scan-all (empty-conjunction) queries always run the sweep.

    Raises FileNotFoundError when a serving sidecar (meta_bin/,
    tag_bin/) is missing — an index whose sidecar build died is not
    served."""
    import filter_vectordb_spark.operators.knn as _knn

    for sub in _SIDECARS:
        if not os.path.exists(f"{out_dir}/{sub}/_SUCCESS.json"):
            raise FileNotFoundError(
                f"{out_dir}/{sub}/_SUCCESS.json not found: the index's "
                f"{sub} serving sidecar is missing or partial; rebuild the "
                "index with build_filtered_index"
            )
    ndoc, n_base, min_freq, off, pair_files, tag_files, C, _has_xn = (
        _load_routing(spark, out_dir)
    )
    qpdf = queries.select("qid", "qemb", "qtags").limit(
        _knn.MAX_BROADCAST_QUERIES
    ).toPandas()
    if len(qpdf) >= _knn.MAX_BROADCAST_QUERIES:
        raise ValueError(
            "filtered_search serves broadcast-sized query batches "
            f"(< {_knn.MAX_BROADCAST_QUERIES}); chunk the batch upstream"
        )
    if len(qpdf) == 0:
        return spark.createDataFrame([], "qid LONG, id LONG, dist DOUBLE, rank INT")
    r_pair, r_tag, r_meta, tag_col, other_col = _route(
        qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
    )
    scans, parts = [], []
    if r_pair:
        pp = qpdf.iloc[r_pair].copy()
        tt = np.array([sorted({int(x) for x in t}) for t in pp["qtags"]])
        pp["tag_a"], pp["tag_b"] = tt[:, 0], tt[:, 1]
        scans.append(_view_scan(spark, pair_files, pp, _PAIR_KEYS, k, off))
    if r_tag:
        tp = qpdf.iloc[r_tag].copy()
        tp["tag"] = tag_col[r_tag]
        tp["other"] = other_col[r_tag]
        tb = _tag_bins(out_dir)
        if nprobe is None or nprobe >= len(C):
            scans.append(_tagview_scan(tb, tp, k, off))
        else:
            from filter_vectordb_spark.index.ivf import driver_blas

            # per-query probe lists: rank the shared coarse centroids by
            # L2 — a bounded nq×nlist block, driver-side with borrowed
            # BLAS cores (restored on exit)
            Q = np.stack(tp["qemb"].to_numpy()).astype(np.float64)
            with driver_blas(os.cpu_count() or 8):
                d2 = (C * C).sum(axis=1)[None, :] - 2.0 * (Q @ C.T)
            P = np.argpartition(d2, nprobe - 1, axis=1)[:, :nprobe].astype(
                np.int64
            )
            scans.append(_tagview_probed_scan(tb, tp, k, off, P, len(C)))
    if r_meta:
        mp = qpdf.iloc[r_meta]
        tagged = mp["qtags"].map(
            lambda t: t is not None and len(t) > 0
        ).to_numpy(dtype=bool)
        use_gather = meta_plan == "gather"
        est = 0
        if tagged.any():
            est = sum(
                min(ndoc.get(int(x), 0) for x in t)
                for t in mp["qtags"][tagged]
            )
        if meta_plan == "auto" and tagged.any():
            use_gather = est <= GATHER_MAX_CAND_FRAC * n_base
        if use_gather and tagged.any():
            parts.append(
                _score_meta_gather(
                    spark,
                    f"{out_dir}/codes",
                    mp[tagged],
                    k,
                    off,
                    # bounded-by-construction candidates broadcast; an
                    # explicit meta_plan="gather" past the bound keeps
                    # the shuffle join (VERDICT r9 wrong #4)
                    broadcast_cand=est <= GATHER_MAX_CAND_FRAC * n_base,
                )
            )
            mp = mp[~tagged]  # scan-all queries stay on the sweep
        if len(mp):
            scans.append(_meta_bin_scan(spark, f"{out_dir}/meta_bin", mp, k, off, ndoc=ndoc))
    if scans:
        # every direct-read route in one launch: one stage, one Python
        # task per core for the whole batch
        parts.insert(0, _knn.scan_units(spark, scans, _PARTIAL))
    scored = parts[0]
    for p in parts[1:]:
        scored = scored.unionByName(p)
    return per_group_topk(
        scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], k
    ).select("qid", "id", "dist", "rank")
