"""Route kernels for the yfcc-scale filtered serving index — split out
of index/filteridx.py (VERDICT r8 #8) so build/route/search stay
reviewable there.  See filteridx's module docstring for the route map
(R1 pair view / R2-R3 tag view / R4 metadata-first) and the reference
citations; this module holds the serve kernels plus their shared
decode/posting helpers.

Every direct-read route is one scoring body on the engine's one scan
skeleton (operators/knn.py): its builder plans the units and returns a
`Scan` — _view_scan (R1, and index/tagpart's tag and pair views) over
parquet row groups, _tagview_scan, _tagview_probed_scan (R2/R3) and
_meta_bin_scan (R4) over memmap sidecar files, whose (query, row) pairs
all score through one _score_pairs.  `scan_units` launches a list of
them one Python task per core and calls each body with that task's
units; the body feeds its candidates into one `TaskPartials`, whose
emit() is the task's single bounded partial top-k per route for the
global merge.  filteridx.filtered_search hands all of a batch's routes
to one scan_units call, so the routes share one stage; each `_score_*`
runs its route alone (the per-route timings and tests).
_score_meta_gather is a DataFrame plan, not a scan.  The hash-checked
nq32 rows pin the results."""

from __future__ import annotations

import glob as _glob
import json
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import (  # noqa: F401 (_flat_tags: build-side name)
    Scan,
    TaskPartials,
    _f32_exact_ok,
    _flat_tags,
    flatten_fixed_list,
    gemm_topk,
    rg_units,
    scan_units,
)

#: schema of every route kernel's per-task partial
_PARTIAL = "qid long, id long, dist double"

#: partition keys of the pair view (R1, index/tagpart.build_tag_pair_partitions)
_PAIR_KEYS = ("tag_a", "tag_b")


def _l2_topk(out, qids: np.ndarray, Q: np.ndarray, X: np.ndarray, xn, ids) -> None:
    """Exact L2² top-k of the float64 queries Q (qids) over the block X
    (row ids `ids`, squared norms xn) into the task's TaskPartials
    `out`.  The GEMM runs in X's dtype: float32 only on the
    integer-exact path _f32_exact_ok gates, query norms in float64."""
    Qc = Q.astype(np.float32) if X.dtype == np.float32 else Q
    part, dist = gemm_topk(Qc, (Q * Q).sum(axis=1), X, xn, "l2", out.k)
    out.add_topk(qids, ids, part, dist)


def _view_files(view_dir: str, keys: tuple) -> dict:
    """{key tuple: sorted parquet files} of a view written
    `partitionBy(*keys)`: the partition directory names
    (`k1=v1/k2=v2/…`) are the integer keys — driver metadata, no Spark
    job."""
    files: dict = {}
    for d in _glob.glob(f"{view_dir}/" + "/".join(f"{c}=*" for c in keys)):
        parts = os.path.relpath(d, view_dir).split(os.sep)
        files[tuple(int(p.split("=", 1)[1]) for p in parts)] = sorted(
            _glob.glob(f"{d}/*.parquet")
        )
    return files


def _view_scan(
    spark: SparkSession,
    files: dict,
    qpdf,
    keys: tuple,
    k: int,
    off: np.ndarray | None,
) -> Scan:
    """Direct read of a partition view: qpdf(qid, qemb, *keys), `files`
    the view's {key tuple: parquet files} (_view_files).  Only the
    PROBED keys' files are opened (driver-side dict lookup — the
    partition-pruning the DataFrame route left to runtime DPP, which
    measured a full 531 MB view read + JVM Arrow hop per batch at the
    10M point); per key group one GEMM per task unit.  off set (an
    SQ8-coded view): `codes` decode to x = code + off, exact on the
    lossless grid, and integer queries take the f32 GEMM; off None (a
    float view): `emb` is read as float64."""
    groups: dict = {}
    for key, grp in qpdf.groupby(list(keys)):
        groups[tuple(int(v) for v in key)] = (
            grp["qid"].to_numpy(dtype=np.int64),
            np.stack(grp["qemb"].to_numpy()).astype(np.float64),
        )
    use_f32 = off is not None and _f32_exact_ok(
        np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    )
    nq = len(qpdf)
    units, cost = [], []
    for key, (qids, _Q) in groups.items():
        for p, lo, hi, rows in rg_units(spark, list(files.get(key, ()))):
            units.append((key, p, lo, hi))
            cost.append(rows * len(qids))

    def serve(payload, units):
        import pyarrow.parquet as pq

        bgroups, boff, bf32 = payload
        out = TaskPartials(k, nq, False)
        for key, path, lo, hi in units:
            qids, Q = bgroups[key]
            tbl = pq.ParquetFile(path).read_row_groups(
                list(range(lo, hi)), columns=["id", "emb" if boff is None else "codes"]
            )
            n = tbl.num_rows
            if n == 0:
                continue
            ids = tbl.column("id").to_numpy(zero_copy_only=False)
            if boff is None:
                X = flatten_fixed_list(tbl.column("emb"), n).astype(np.float64)
            else:
                X = _decode(tbl.column("codes"), None, n, boff, bf32)
            _l2_topk(out, qids, Q, X, _sqnorms(X), ids)
        yield from out.emit()

    return Scan(units, cost, (groups, off, use_f32), serve)


def _score_pairview(spark, pair_files, qpdf, k, off) -> DataFrame:
    """R1 alone: the pair view's _view_scan in a launch of its own."""
    return scan_units(
        spark, [_view_scan(spark, pair_files, qpdf, _PAIR_KEYS, k, off)], _PARTIAL
    )


#: the build-side name of the one dense decoder (index/filteridx's
#: build_meta_bins / build_tag_bins import it): SQ8 codes are int8
#: lists, which it views without a copy
_codes_matrix = flatten_fixed_list


#: per-worker decode scratch, keyed by dtype — Python workers persist
#: across tasks, so reusing one buffer avoids a fresh ~250 MB mmap +
#: first-touch page-fault storm per unit (measured 2.5 s/unit on this
#: host's THP-compacting kernel vs ~0.3 s into warm pages).  The buffer
#: is only valid until the NEXT _decode call on the same worker; every
#: caller finishes with a unit's block before decoding the next.
_DECODE_SCRATCH: dict = {}


def _decode_poison() -> bool:
    """Pytest-mode contract enforcement for the scratch-aliasing hazard
    (VERDICT r8 #3): when FVDB_DECODE_POISON=1, every _decode call
    retires the previous buffer by filling it with NaN and allocates a
    fresh one — a caller holding a returned view across _decode calls
    reads NaN and fails its assertions instead of silently serving
    stale vectors.  Off (the default) the scratch is reused as before."""
    return os.environ.get("FVDB_DECODE_POISON", "") == "1"


def _decode(codes_col, rows: np.ndarray | None, n: int, off: np.ndarray, f32: bool):
    """Selected rows of the int8 code block, decoded to original values
    (lossless grid): x = code + off — ONE fused pass (int8 + f32
    broadcasts straight to f32) into the reused scratch.  codes_col is
    an Arrow list column OR an int8 ndarray/memmap (the bin-sidecar
    units) — same math either way.

    CONTRACT: the returned array is a view into a shared per-worker
    buffer, valid only until the NEXT _decode call on this worker —
    finish with a unit's block before decoding the next (enforced under
    pytest via _decode_poison)."""
    if isinstance(codes_col, np.ndarray):
        C = codes_col
    else:
        C = flatten_fixed_list(codes_col, n)
    if rows is not None:
        C = C[rows]
    dt = np.float32 if f32 else np.float64
    need = C.shape[0] * C.shape[1]
    if _decode_poison():
        old = _DECODE_SCRATCH.pop(dt, None)
        if old is not None:
            old.fill(np.nan)
    buf = _DECODE_SCRATCH.get(dt)
    if buf is None or buf.size < need:
        buf = np.empty(max(need, 1), dtype=dt)
        _DECODE_SCRATCH[dt] = buf
    X = buf[:need].reshape(C.shape)
    np.add(C, off.astype(dt)[None, :], out=X)
    return X


def _sqnorms(X: np.ndarray) -> np.ndarray:
    """Per-row squared norms as float64.  On the f32 integer-exact path
    the products and every partial sum stay below 2²⁴, so one f32
    einsum is BIT-exact — the per-group float64 matrix conversion it
    replaces was the meta/tag kernels' single largest memory-traffic
    term (192 × 8 B per candidate row).  A float64 block sums
    `(X * X).sum(axis=1)`: the float views' norms, which an einsum
    would round differently in the last bits (integer rows are exact
    either way)."""
    if X.dtype == np.float32:
        return np.einsum("ij,ij->i", X, X).astype(np.float64)
    return (X * X).sum(axis=1)


def _csr_restrict(prefix: str, probed: np.ndarray):
    """(prow_cat, starts) over a bin sidecar's prebuilt tag CSR,
    restricted to `probed` (sorted): rows carrying probed[i] are
    prow_cat[starts[i]:starts[i+1]], row-ascending — per-tag posting
    lists without touching a tags column."""
    if len(probed) == 0:
        return np.empty(0, dtype=np.int64), np.zeros(1, dtype=np.int64)
    ptags = np.load(f"{prefix}.ptags.npy", mmap_mode="r")
    pstarts = np.load(f"{prefix}.pstarts.npy", mmap_mode="r")
    starts = np.zeros(len(probed) + 1, dtype=np.int64)
    if len(ptags) == 0:
        return np.empty(0, dtype=np.int64), starts
    prows = np.load(f"{prefix}.prows.npy", mmap_mode="r")
    pidx = np.searchsorted(ptags, probed)
    safe = np.minimum(pidx, len(ptags) - 1)
    okp = (pidx < len(ptags)) & (ptags[safe] == probed)
    lo = np.where(okp, pstarts[safe], 0)
    hi = np.where(okp, pstarts[safe + 1], 0)
    np.cumsum(hi - lo, out=starts[1:])
    if starts[-1] == 0:
        return np.empty(0, dtype=np.int64), starts
    prow_cat = np.concatenate(
        [prows[l:h] for l, h in zip(lo, hi)]
    ).astype(np.int64)
    return prow_cat, starts


def _open_bin(bin_dir: str, stem: str, n: int, d: int):
    """(ids, xn, C8) of one memmap sidecar file: row ids, persisted
    squared norms and the (n, d) int8 codes, all page-cache backed."""
    p = f"{bin_dir}/{stem}"
    return (
        np.load(f"{p}.ids.npy", mmap_mode="r"),
        np.load(f"{p}.xn.npy", mmap_mode="r"),
        np.memmap(f"{p}.codes.bin", dtype=np.int8, mode="r", shape=(n, d)),
    )


#: (manifest path, mtime) → checked sidecar manifest: a sidecar's files
#: are checked once per build, not once per search
_BIN_MANIFESTS: dict = {}


def _bin_manifest(bin_dir: str) -> dict:
    """A sidecar directory's `_SUCCESS.json` — build_meta_bins' {d,
    files: [[stem, n]]} or build_tag_bins' {d, tags: {tag: [[key, n]]}},
    tag keys made int — checked before use: every listed
    `<stem>.codes.bin` must hold n·d bytes, so a truncated or missing
    bin raises here, naming the file, instead of serving a short memmap.
    Cached per manifest mtime (a rebuild re-checks)."""
    path = f"{bin_dir}/_SUCCESS.json"
    key = (path, os.stat(path).st_mtime_ns)
    man = _BIN_MANIFESTS.get(key)
    if man is None:
        with open(path) as fh:
            man = json.load(fh)
        d = int(man["d"])
        if "tags" in man:
            man["tags"] = {int(t): keys for t, keys in man["tags"].items()}
        listed = man.get("files", []) + [
            u for keys in man.get("tags", {}).values() for u in keys
        ]
        for stem, n in listed:
            p = f"{bin_dir}/{stem}.codes.bin"
            size = os.path.getsize(p)
            if size != n * d:
                raise ValueError(
                    f"{p} holds {size} bytes, its manifest lists {n} × {d} "
                    f"= {n * d}; rebuild the index with build_filtered_index"
                )
        for stale in [k for k in _BIN_MANIFESTS if k[0] == path]:
            del _BIN_MANIFESTS[stale]
        _BIN_MANIFESTS[key] = man
    return man


def _tag_units(groups: dict, bins):
    """(units, cost, bin_dir, d) of the R2/R3 kernels: one memmap unit
    (tag, key, n) per sidecar file of each routed tag in the tag_bin
    manifest `bins`, costed rows × the tag's query count.  No manifest
    means no units (a typed empty result; filtered_search refuses an
    index without its sidecars before routing)."""
    if bins is None:
        return [], [], None, 0
    bin_dir, bin_tags, d = bins
    units = [(t, key, int(n)) for t in groups for key, n in bin_tags.get(t, ())]
    nq = {t: sum(len(g[1]) for g in gl) for t, gl in groups.items()}
    return units, [n * nq[t] for t, _key, n in units], bin_dir, d


def _tagview_scan(bins, qpdf, k: int, off: np.ndarray) -> Scan:
    """R2/R3: qpdf(qid, qemb, tag, other) with other = -1 for no mask.
    Direct-read over ONLY the routed tags' sidecar files; per unit, each
    single-tag group runs one GEMM over the whole unit, and every masked
    (tag, other) group's (query, row) pairs — `other`'s posting list in
    the unit's prebuilt CSR — score through _score_pairs; nq×k partials
    per task (W3)."""
    groups: dict = {}
    for (tag, other), grp in qpdf.groupby(["tag", "other"]):
        groups.setdefault(int(tag), []).append(
            (
                int(other),
                grp["qid"].to_numpy(dtype=np.int64),
                np.stack(grp["qemb"].to_numpy()).astype(np.float64),
            )
        )
    use_f32 = _f32_exact_ok(np.stack(qpdf["qemb"].to_numpy()).astype(np.float64))
    direct = use_f32 and _int_off_ok(off)
    nq = len(qpdf)

    def serve(payload, units):
        bgroups, boff, bf32, bdirect, bdir, bd = payload
        out = TaskPartials(k, nq, False)
        for tag, key, n in units:
            tgroups = bgroups.get(tag)
            if not tgroups or n == 0:
                continue
            ids, xn, C8 = _open_bin(bdir, key, n, bd)
            others = np.array(
                sorted({o for o, _, _ in tgroups if o >= 0}), dtype=np.int64
            )
            if len(others):
                # every unit row already carries THIS tag, so the
                # conjunction candidates of a (tag, other) group are
                # exactly `other`'s posting list in the unit
                prow, starts = _csr_restrict(f"{bdir}/{key}", others)
            parts = []
            for other, qids, Q in tgroups:
                if other < 0:
                    # single-tag group: the whole unit, GEMM-shaped
                    _l2_topk(out, qids, Q, _decode(C8, None, n, boff, bf32), xn, ids)
                    continue
                oi = int(np.searchsorted(others, other))
                rows = prow[starts[oi] : starts[oi + 1]]
                if len(rows):
                    qrep = np.repeat(np.arange(len(qids), dtype=np.int64), len(rows))
                    parts.append((qids, Q, qrep, np.tile(rows, len(qids))))
            if parts:
                _score_pairs(out, *_concat_pairs(parts), ids, C8, xn, boff, bf32, bdirect)
        yield from out.emit()

    units, cost, bin_dir, bin_d = _tag_units(groups, bins)
    return Scan(units, cost, (groups, off, use_f32, direct, bin_dir, bin_d), serve)


def _score_tagview(spark, tag_files, qpdf, k, off, has_xn=False, bins=None) -> DataFrame:
    """R2/R3 alone: _tagview_scan in a launch of its own.  The units
    come from `bins` (_tag_bins); tag_files and has_xn are not read."""
    return scan_units(spark, [_tagview_scan(bins, qpdf, k, off)], _PARTIAL)


def _tagview_probed_scan(
    bins, qpdf, k: int, off: np.ndarray, probes: np.ndarray, nlist: int
) -> Scan:
    """R2/R3 with the per-tag sub-index ACTUALLY pruning: each query
    scans only its `probes` row's coarse lists inside the routed tag's
    sidecar files — their lst-sorted rows and per-file list bounds turn
    a probe set into row ranges, the faiss IVF shape within each tag
    (the reference's per-tag sub-indexes are approximate HNSW;
    `filter/faiss/config.yaml:41-64`'s published 3,200 QPS is at the
    0.9-recall gate, so this is the like-for-like operating mode).
    Scanned rows are scored EXACTLY through _score_pairs — recall loss
    comes only from unprobed lists; nprobe ≥ nlist reproduces the exact
    route bit-for-bit (pytest-pinned)."""
    groups: dict = {}
    pos_of = {j: i for i, j in enumerate(qpdf.index)}
    for (tag, other), grp in qpdf.groupby(["tag", "other"]):
        rows = np.array([pos_of[j] for j in grp.index], dtype=np.int64)
        groups.setdefault(int(tag), []).append(
            (
                int(other),
                grp["qid"].to_numpy(dtype=np.int64),
                np.stack(grp["qemb"].to_numpy()).astype(np.float64),
                probes[rows],
            )
        )
    use_f32 = _f32_exact_ok(np.stack(qpdf["qemb"].to_numpy()).astype(np.float64))
    direct = use_f32 and _int_off_ok(off)
    nq = len(qpdf)

    def serve(payload, units):
        bgroups, boff, bf32, bdirect, bnlist, bdir, bd = payload
        out = TaskPartials(k, nq, False)
        for tag, key, n in units:
            tgroups = bgroups.get(tag)
            if not tgroups or n == 0:
                continue
            ids, xn, C8 = _open_bin(bdir, key, n, bd)
            # bounds[l] = first row of coarse list l in the unit's
            # lst-sorted rows, written by build_tag_bins
            bpath = f"{bdir}/{key}.bounds.npy"
            bounds = np.load(bpath)
            if len(bounds) != bnlist + 1:
                raise ValueError(
                    f"{bpath} holds {len(bounds)} list bounds, nlist={bnlist} "
                    f"needs {bnlist + 1}; rebuild the index with "
                    "build_filtered_index"
                )
            others = np.array(
                sorted({o for o, _, _, _ in tgroups if o >= 0}),
                dtype=np.int64,
            )
            if len(others):
                oth_rows, oth_starts = _csr_restrict(f"{bdir}/{key}", others)
            # every group's candidate (query, row) pairs; _score_pairs
            # then scores all of the unit's groups at once
            parts = []
            for other, qids, Q, P in tgroups:
                # every query's probed row ranges IN ONE SHOT (the
                # per-query range-concatenate loop ran len(qids) ×
                # units times — its Python overhead, not the math,
                # dominated hot-tag groups): one multi-slice gather
                # over the (query, probe) range matrix
                plo = bounds[P]  # (m, nprobe) range starts
                cnt = bounds[P + 1] - plo
                ccnt = cnt.ravel()
                tot = int(ccnt.sum())
                if tot == 0:
                    continue
                ofs = np.zeros(len(ccnt), dtype=np.int64)
                np.cumsum(ccnt[:-1], out=ofs[1:])
                rows = (
                    np.arange(tot, dtype=np.int64)
                    - np.repeat(ofs, ccnt)
                    + np.repeat(plo.ravel(), ccnt)
                )
                qrep = np.repeat(
                    np.arange(len(qids), dtype=np.int64), cnt.sum(axis=1)
                )
                if other >= 0:
                    # conjunction mask via sorted-posting membership
                    # — O(|rows|·log|post|), replacing a per-(other,
                    # unit) O(n) boolean mask build whose allocation
                    # + posting scatter dominated hot units with
                    # many distinct `other` tags
                    oi = int(np.searchsorted(others, other))
                    post = oth_rows[oth_starts[oi] : oth_starts[oi + 1]]
                    p2 = np.searchsorted(post, rows)
                    keep = p2 < len(post)
                    keep[keep] = post[p2[keep]] == rows[keep]
                    rows, qrep = rows[keep], qrep[keep]
                    if len(rows) == 0:
                        continue
                parts.append((qids, Q, qrep, rows))
            if parts:
                _score_pairs(out, *_concat_pairs(parts), ids, C8, xn, boff, bf32, bdirect)
        yield from out.emit()

    units, cost, bin_dir, bin_d = _tag_units(groups, bins)
    return Scan(units, cost, (groups, off, use_f32, direct, nlist, bin_dir, bin_d), serve)


def _score_tagview_probed(
    spark, tag_files, qpdf, k, off, probes, nlist, has_xn=False, bins=None
) -> DataFrame:
    """Probed R2/R3 alone: _tagview_probed_scan in a launch of its own
    (units from `bins`; tag_files and has_xn are not read)."""
    scan = _tagview_probed_scan(bins, qpdf, k, off, probes, nlist)
    return scan_units(spark, [scan], _PARTIAL)


#: pair-scoring chunk: per-chunk gather buffers are 2 × CH × d × 4 B
#: (≈ 50 MB at d=192) — bounded however many candidate pairs a unit has
_PAIR_CHUNK = 65_536


def _int_off_ok(off: np.ndarray) -> bool:
    """Corpus-side precondition for the int8-direct pair scorer: with
    the lossless integer grid (`sq.is_lossless_grid` — integral vmin,
    scale 1) the decode offset is integral with |off| ≤ 128+255, so
    splitting q·(c+off) into q·c + q·off keeps every product and
    partial sum under 2²⁴ whenever the query gate (_f32_exact_ok:
    |q| ≤ 255 integral, d ≤ 192) holds: |Σ q_j c_j| ≤ 192·255·128
    ≈ 6.3M and |Σ q_j off_j| ≤ 192·255·255 ≈ 12.5M — both f32-exact
    integers, so the split is BIT-IDENTICAL to decode-then-dot in any
    summation order."""
    return (
        off.ndim == 1
        and len(off) <= 192
        and bool(
            np.array_equal(off, np.rint(off))
            and np.abs(off).max(initial=0.0) <= 255
        )
    )


def _int8_pair_scores(
    Qm32: np.ndarray,
    qidx: np.ndarray,
    C8,
    rows: np.ndarray,
    chunk: int = _PAIR_CHUNK,
) -> np.ndarray:
    """Per-(query, row) dot products STRAIGHT OFF the int8 codes —
    f64 Σ_j q_j·code_j per pair.  The caller adds the per-query rebase
    q·off (see _int_off_ok for why the split stays bit-exact): the row
    union decode — the probed/meta serve loops' single largest
    memory-traffic term — drops out entirely; each pair touches 192 B
    of codes instead of 768 B of decoded floats.

    r12 (guide §4.2, VERDICT r11 #2): every caller builds pairs
    query-grouped, so qidx arrives sorted with one run per query.  The
    matrix-vector segment form `einsum("ij,j->i", C8[run], q)` then
    beats the pair-gather form 3-4× measured
    (scripts/exp_pair_kernel.py: 2.11 s → 0.49 s at 5M pairs / 600 per
    query, 1M-row unit): the 768 B/pair Qm gather disappears and the
    int8 rows stream through one cast buffer instead of two gathered
    operands.  Bit-identical by the same argument as the q·off split —
    every product and partial sum is an exact f32 integer, so any
    regrouping of the same per-pair dot is exact.  Short runs (< _SEG_
    MIN mean) fall back to the chunked pair-gather form: at ~60 pairs
    per query the per-call overhead of 8k tiny einsums loses to the
    gather (measured 0.24 s vs 0.17 s)."""
    npairs = len(rows)
    if npairs == 0:
        return np.empty(0, dtype=np.float64)
    g = np.empty(npairs, dtype=np.float64)
    d = np.diff(qidx)
    if np.all(d >= 0):  # one contiguous run per query
        seg = np.concatenate(([0], np.flatnonzero(d) + 1, [npairs]))
        if npairs >= _SEG_MIN_MEAN * (len(seg) - 1):
            for i in range(len(seg) - 1):
                s, e = seg[i], seg[i + 1]
                g[s:e] = np.einsum("ij,j->i", C8[rows[s:e]], Qm32[qidx[s]])
            return g
    for clo in range(0, npairs, chunk):
        chi = min(clo + chunk, npairs)
        g[clo:chi] = np.einsum(
            "ij,ij->i", Qm32[qidx[clo:chi]], C8[rows[clo:chi]]
        ).astype(np.float64)
    return g


#: segment-form cutoff: mean pairs/query below which the per-segment
#: einsum call overhead outweighs dropping the Qm gather (measured
#: crossover ≈ 64-120 pairs/query, scripts/exp_pair_kernel.py)
_SEG_MIN_MEAN = 96


def _concat_pairs(parts: list):
    """(qids, Q, qidx, rows) for _score_pairs from per-group (qids, Q,
    qrep, rows): the groups' query rows stacked, each group's local
    query index qrep rebased onto the stack (qidx stays query-grouped)."""
    base = np.cumsum([0] + [len(p[0]) for p in parts[:-1]])
    return (
        np.concatenate([p[0] for p in parts]),
        np.concatenate([p[1] for p in parts], axis=0),
        np.concatenate([b + p[2] for b, p in zip(base, parts)]),
        np.concatenate([p[3] for p in parts]),
    )


def _score_pairs(out, qids, Q, qidx, rows, ids, C8, xn, off, f32: bool, direct: bool):
    """Exact L2² of (query, row) pairs into the task's TaskPartials — the
    one pair scorer of the masked tag view, the probed tag view and the
    metadata-first flat queries.  Pair i is float64 query row Q[qidx[i]]
    (qid qids[qidx[i]]) against row rows[i] of a unit's int8 codes C8
    (doc ids `ids`, persisted squared norms xn).

    direct (f32 and _int_off_ok(off), decided driver-side by the scan
    builder): q·x = q·c + q·off straight off the int8 codes
    (_int8_pair_scores) — no decode, 192 B of codes per pair instead of
    768 B of floats.  Otherwise each _PAIR_CHUNK of pair rows is
    gathered, decoded (code + off, f32 on the integer-exact path) and
    dotted in one einsum.  Then qn − 2g + xn in float64, clamped at 0:
    bit-identical either way, by the exactness argument in _int_off_ok."""
    if direct:
        g = _int8_pair_scores(Q.astype(np.float32), qidx, C8, rows)
        g += (Q @ off)[qidx]  # f64 exact: integer q · integer off
    else:
        dt = np.float32 if f32 else np.float64
        Qm, offd = Q.astype(dt), off.astype(dt)
        g = np.empty(len(rows), dtype=np.float64)
        for lo in range(0, len(rows), _PAIR_CHUNK):
            hi = min(lo + _PAIR_CHUNK, len(rows))
            B = C8[rows[lo:hi]].astype(dt)
            B += offd[None, :]
            g[lo:hi] = np.einsum("ij,ij->i", Qm[qidx[lo:hi]], B)
    dist = (Q * Q).sum(axis=1)[qidx] - 2.0 * g + xn[rows]
    np.maximum(dist, 0.0, out=dist)
    out.add(qids[qidx], ids[rows], dist)


def _group_queries(qpdf, ndoc: dict | None):
    """R4 query grouping of the metadata-first kernel.  Splits the batch
    into scan_q (empty conjunction → full scan), flat_q (1-2 tags → the
    vectorized pair kernel, rarer conjunct picked via ndoc — the
    reference's min-frequency cost model, `filter/faiss/faiss.py:
    378-385`), multi_q (>2 tags → per-group sorted intersection), plus
    the sorted probed-tag universe."""
    qids_all = qpdf["qid"].to_numpy(dtype=np.int64)
    Q_all = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    needs = [
        sorted({int(x) for x in (t if t is not None else ())})
        for t in qpdf["qtags"]
    ]
    probed = np.array(sorted({t for need in needs for t in need}), dtype=np.int64)
    pidx_of = {int(t): i for i, t in enumerate(probed)}
    scan_pos: list[int] = []
    flat_pos: list[int] = []
    flat_rarer: list[int] = []
    flat_other: list[int] = []
    multi: list[tuple] = []
    for j, need in enumerate(needs):
        if not need:
            scan_pos.append(j)
        elif len(need) <= 2:
            rarer = min(need, key=lambda t: (ndoc or {}).get(t, 0))
            rest = [t for t in need if t != rarer]
            flat_pos.append(j)
            flat_rarer.append(pidx_of[rarer])
            flat_other.append(pidx_of[rest[0]] if rest else -1)
        else:
            idx = np.array([pidx_of[t] for t in need], dtype=np.int64)
            multi.append((idx, j))
    scan_q = (qids_all[scan_pos], Q_all[scan_pos]) if scan_pos else None
    fp = np.asarray(flat_pos, dtype=np.int64)
    flat_q = (
        qids_all[fp],
        Q_all[fp],
        np.asarray(flat_rarer, dtype=np.int64),
        np.asarray(flat_other, dtype=np.int64),
    )
    multi_q = [(idx, qids_all[j : j + 1], Q_all[j : j + 1]) for idx, j in multi]
    # use_f32 comes out of the same Q_all stack — the callers otherwise
    # re-stack the full query matrix just to recompute it
    return scan_q, flat_q, multi_q, probed, _f32_exact_ok(Q_all)


def _flat_pairs(frarer, fother, ptag, prow, starts, n: int):
    """All 1-2-tag candidate (query, row) pairs of a unit IN ONE SHOT —
    multi-slice gather over each query's rarer-tag posting range, second
    conjunct verified by one searchsorted over combined (tag, row) keys
    ((ptag, prow) is lexsorted and per-doc tags are distinct → keys are
    strictly ascending).  Returns (qrep, rows) or (None, None)."""
    if not len(frarer):
        return None, None
    cnt = starts[frarer + 1] - starts[frarer]
    tot = int(cnt.sum())
    if not tot:
        return None, None
    qrep = np.repeat(np.arange(len(frarer), dtype=np.int64), cnt)
    ofs = np.zeros(len(cnt), dtype=np.int64)
    np.cumsum(cnt[:-1], out=ofs[1:])
    idx = (
        np.arange(tot, dtype=np.int64)
        - np.repeat(ofs, cnt)
        + np.repeat(starts[frarer], cnt)
    )
    rows = prow[idx]
    ho = fother[qrep]
    m2 = ho >= 0
    if m2.any():
        keys = ptag * n + prow
        want = ho[m2] * n + rows[m2]
        p2 = np.searchsorted(keys, want)
        ok = p2 < len(keys)
        ok[ok] = keys[p2[ok]] == want[ok]
        keep = np.ones(tot, dtype=bool)
        keep[np.flatnonzero(m2)[~ok]] = False
        qrep, rows = qrep[keep], rows[keep]
    return qrep, rows


def _multi_rows(need_idx, prow, starts):
    """>2-tag conjunction row set within a unit: sorted intersection of
    the conjuncts' posting lists (reference J1 two-pointer merge,
    `bow_id_selector.swig:133-161`, as searchsorted passes)."""
    mrows = prow[starts[need_idx[0]] : starts[need_idx[0] + 1]]
    for t in need_idx[1:]:
        other = prow[starts[t] : starts[t + 1]]
        p2 = np.searchsorted(other, mrows)
        m = p2 < len(other)
        m[m] = other[p2[m]] == mrows[m]
        mrows = mrows[m]
    return mrows


def _score_meta_gather(
    spark: SparkSession,
    codes_dir: str,
    qpdf,
    k: int,
    off: np.ndarray,
    broadcast_cand: bool = True,
) -> DataFrame:
    """R4's posting-gather twin as a VISIBLE Spark plan (the
    operators/filtered_knn.filtered_knn_metadata_first shape over the
    coded table): conjunctive_candidates explodes only (id, tags) —
    column pruning keeps code bytes out of the postings branch — the
    candidate (qid, id) pairs equi-join back to (id, codes), and one
    Arrow kernel decodes + scores exactly the candidate rows.  Distance
    assembly is bit-identical to the sweep (same f32 decode, f32 einsum,
    f64 qn − 2g + xn), so routing between the two plans never changes
    results (pytest-pinned)."""
    from filter_vectordb_spark.operators.postings import conjunctive_candidates

    codes = spark.read.parquet(codes_dir)
    q = spark.createDataFrame(
        qpdf[["qid", "qemb", "qtags"]].reset_index(drop=True)
    )
    cand = conjunctive_candidates(q, codes)
    # the candidate join must never degrade into an O(corpus) sort-merge
    # shuffle of the codes table (VERDICT r9 wrong #4): in auto mode the
    # candidate side is bounded by construction (Σ est ≤
    # GATHER_MAX_CAND_FRAC·N pairs ≈ 320 KB at the 10M point), so PIN
    # BroadcastHashJoin with codes/ streaming — at 100× corpus the plan
    # cost stays Σ|postings| + Σ|candidates|, not a corpus shuffle.
    # Callers with an unbounded candidate volume (explicit
    # meta_plan="gather" over frequent tags) pass broadcast_cand=False
    # and take the shuffle they asked for.
    if broadcast_cand:
        gathered = codes.select("id", "codes").join(F.broadcast(cand), "id")
    else:
        gathered = cand.join(codes.select("id", "codes"), "id")
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    use_f32 = _f32_exact_ok(Q)
    qorder = np.argsort(qids, kind="stable")
    bc = spark.sparkContext.broadcast((qids[qorder], Q[qorder], off, use_f32))

    def score(it):
        bqids, bQ, boff, bf32 = bc.value
        Qm = bQ.astype(np.float32) if bf32 else bQ
        qn = (bQ * bQ).sum(axis=1)
        out = TaskPartials(k, len(bqids), False)
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            gq = batch.column("qid").to_numpy(zero_copy_only=False)
            gi = batch.column("id").to_numpy(zero_copy_only=False)
            X = _decode(batch.column("codes"), None, n, boff, bf32)
            pos = np.searchsorted(bqids, gq)
            g = np.einsum("ij,ij->i", Qm[pos], X).astype(np.float64)
            dist = qn[pos] - 2.0 * g + _sqnorms(X)
            np.maximum(dist, 0.0, out=dist)
            out.add(gq.astype(np.int64), gi.astype(np.int64), dist)
        yield from out.emit()

    return gathered.select("qid", "id", "codes").mapInArrow(score, schema=_PARTIAL)


def _meta_bin_scan(
    spark: SparkSession,
    bin_dir: str,
    qpdf,
    k: int,
    off: np.ndarray,
    ndoc: dict | None = None,
) -> Scan:
    """R4: one direct-read pass over the memmapped serving sidecars
    (filteridx.build_meta_bins — the reference's xbin_mmap + CSR serving
    arrays as build artifacts) for ALL selective queries.  qpdf(qid,
    qemb, qtags).  Per unit (a row split of one file), the PREBUILT CSR
    restricted to the probed tags gives every 1-2-tag query's candidate
    (query, row) pairs in one shot (_flat_pairs), scored through
    _score_pairs straight from the shared page-cache codes bin — per
    batch, work ∝ Σ_q |postings(rarer)| + Σ|candidates| with no
    full-corpus read, decode or tags scan.  >2-tag conjunctions take a
    per-group sorted intersection; an empty conjunction scans the unit's
    rows via the blocked GEMM.  Worker processes memmap the same files,
    so the corpus occupies ONE set of physical pages across local[32]
    instead of 32 private Arrow + decode heaps — which is also what
    makes the row robust on fault-taxed hosts.

    ndoc (the routing stats) picks each 2-tag query's RARER conjunct so
    the gather touches the smaller posting list — the reference's
    min-frequency cost model (`filter/faiss/faiss.py:378-385`)."""
    man = _bin_manifest(bin_dir)
    d = int(man["d"])
    scan_q, flat_q, multi_q, probed, use_f32 = _group_queries(qpdf, ndoc)
    direct = use_f32 and _int_off_ok(off)
    # units: (file, row-split) — candidate work splits with the rows, so
    # the balance is not capped at the file count
    nfiles = max(1, len(man["files"]))
    nsp = max(1, -(-2 * spark.sparkContext.defaultParallelism // nfiles))
    units = [
        (stem, int(n), sp, nsp) for stem, n in man["files"] for sp in range(nsp)
    ]
    nq = len(qpdf)

    def serve(payload, units):
        bscan, bflat, bmulti, bprobed, boff, bf32, bdirect, bdir, bd = payload
        dt = np.float32 if bf32 else np.float64
        offd = boff.astype(dt)
        fqids, fQ, frarer, fother = bflat
        out = TaskPartials(k, nq, False)

        def gather(C8, rows):
            B = C8[rows].astype(dt)
            B += offd[None, :]
            return B

        for stem, n, sp, snsp in units:
            rlo, rhi = n * sp // snsp, n * (sp + 1) // snsp
            if rlo >= rhi:
                continue
            ids, xn, C8 = _open_bin(bdir, stem, n, bd)
            # the prebuilt CSR restricted to the probed tags, then to
            # this unit's row split
            prow_cat, starts = _csr_restrict(f"{bdir}/{stem}", bprobed)
            ptag_cat = np.repeat(np.arange(len(bprobed), dtype=np.int64), np.diff(starts))
            if snsp > 1:
                m = (prow_cat >= rlo) & (prow_cat < rhi)
                prow_cat, ptag_cat = prow_cat[m], ptag_cat[m]
                starts = np.searchsorted(
                    ptag_cat, np.arange(len(bprobed) + 1, dtype=np.int64)
                )

            # ---- 1-2-tag bulk: every candidate pair in one shot
            qrep, rows = _flat_pairs(
                frarer, fother, ptag_cat, prow_cat, starts, n
            )
            if rows is not None and len(rows):
                _score_pairs(out, fqids, fQ, qrep, rows, ids, C8, xn, boff, bf32, bdirect)

            # ---- >2-tag conjunctions: sorted intersection over CSR
            for need_idx, qids, Q in bmulti:
                mrows = _multi_rows(need_idx, prow_cat, starts)
                if len(mrows) == 0:
                    continue
                _l2_topk(out, qids, Q, gather(C8, mrows), xn[mrows], ids[mrows])

            # ---- empty conjunction: this split's rows, blocked GEMM
            if bscan is not None:
                _l2_topk(out, *bscan, gather(C8, slice(rlo, rhi)), xn[rlo:rhi], ids[rlo:rhi])
        yield from out.emit()

    return Scan(
        units,
        [n * (sp + 1) // m - n * sp // m for _s, n, sp, m in units],
        (scan_q, flat_q, multi_q, probed, off, use_f32, direct, bin_dir, d),
        serve,
    )


def _score_meta_bin(spark, bin_dir, qpdf, k, off, ndoc=None) -> DataFrame:
    """R4 alone: _meta_bin_scan in a launch of its own."""
    return scan_units(spark, [_meta_bin_scan(spark, bin_dir, qpdf, k, off, ndoc)], _PARTIAL)
