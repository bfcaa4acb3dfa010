"""Route kernels for the yfcc-scale filtered serving index — split out
of index/filteridx.py (VERDICT r8 #8) so build/route/search stay
reviewable there.  See filteridx's module docstring for the route map
(R1 pair view / R2-R3 tag view / R4 metadata-first) and the reference
citations; this module holds the serve kernels plus their shared
decode/posting helpers.

Every direct-read route is one scoring body on the engine's one scan
skeleton (operators/knn.py): its builder (_pairview_scan,
_tagview_scan, _tagview_probed_scan, _meta_scan, _meta_bin_scan) plans
the units — parquet row groups or memmap sidecar files — and returns a
`Scan`; `scan_units` launches a list of them one Python task per core
and calls each body with that task's units; the body feeds its
candidates into one `TaskPartials`, whose emit() is the task's single
bounded partial top-k per route for the global merge.
filteridx.filtered_search hands all of a batch's routes to one
scan_units call, so the routes share one stage; each `_score_*` runs
its route alone (the per-route timings and tests).  _score_meta_gather
is a DataFrame plan, not a scan.  The hash-checked nq32 rows pin the
results."""

from __future__ import annotations

import glob as _glob
import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.index.tagpart import _f32_exact_ok, _l2_topk
from filter_vectordb_spark.operators.knn import (
    Scan,
    TaskPartials,
    flatten_fixed_list,
    rg_rows,
    rg_units,
    scan_units,
)

#: schema of every route kernel's per-task partial
_PARTIAL = "qid long, id long, dist double"


def _pairview_scan(
    spark: SparkSession,
    pair_files: dict,
    qpdf,
    k: int,
    off: np.ndarray,
) -> Scan:
    """R1, direct-read: qpdf(qid, qemb, tag_a, tag_b).  Only the PROBED
    pairs' partition files are opened (driver-side dict lookup — the
    partition-pruning the DataFrame route left to runtime DPP, which
    measured a full 531 MB view read + JVM Arrow hop per batch at the
    10M point); per pair group one GEMM per task unit."""
    groups: dict = {}
    for (a, b), grp in qpdf.groupby(["tag_a", "tag_b"]):
        groups[(int(a), int(b))] = (
            grp["qid"].to_numpy(dtype=np.int64),
            np.stack(grp["qemb"].to_numpy()).astype(np.float64),
        )
    use_f32 = _f32_exact_ok(np.stack(qpdf["qemb"].to_numpy()).astype(np.float64))
    nq = len(qpdf)
    units, cost = [], []
    for pr, (qids, _Q) in groups.items():
        for p, lo, hi, rows in rg_units(spark, list(pair_files.get(pr, ()))):
            units.append((pr[0], pr[1], p, lo, hi))
            cost.append(rows * len(qids))

    def serve(payload, units):
        import pyarrow.parquet as pq

        bgroups, boff, bf32 = payload
        out = TaskPartials(k, nq, False)
        for a, b, path, lo, hi in units:
            qg = bgroups.get((a, b))
            if qg is None:
                continue
            qids, Q = qg
            tbl = pq.ParquetFile(path).read_row_groups(
                list(range(lo, hi)), columns=["id", "codes"]
            )
            n = tbl.num_rows
            if n == 0:
                continue
            ids = tbl.column("id").to_numpy(zero_copy_only=False)
            X = _decode(tbl.column("codes"), None, n, boff, bf32)
            _l2_topk(out, qids, Q, X, _sqnorms(X), ids)
        yield from out.emit()

    return Scan(units, cost, (groups, off, use_f32), serve)


def _score_pairview(spark, pair_files, qpdf, k, off) -> DataFrame:
    """R1 alone: _pairview_scan in a launch of its own."""
    return scan_units(spark, [_pairview_scan(spark, pair_files, qpdf, k, off)], _PARTIAL)


def _flat_tags(tbl_col, n: int):
    """(flat_tags int64, row_of int64) off the Arrow list buffers —
    rebased for sliced arrays (the tagpart/filtered_knn convention)."""
    import pyarrow as pa

    col = tbl_col
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = (col.values.to_numpy(zero_copy_only=False).astype(np.int64))[
        off[0] : off[-1]
    ]
    row_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(off))
    return flat, row_of


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
    term (192 × 8 B per candidate row)."""
    if X.dtype == np.float32:
        return np.einsum("ij,ij->i", X, X).astype(np.float64)
    return np.einsum("ij,ij->i", X, X)


def _csr_restrict(prefix: str, probed: np.ndarray):
    """(prow_cat, starts) over a bin sidecar's prebuilt tag CSR,
    restricted to `probed` (sorted): rows carrying probed[i] are
    prow_cat[starts[i]:starts[i+1]], row-ascending — the _hit_lists
    output shape without touching a tags column."""
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


def _tag_units(spark: SparkSession, groups: dict, tag_files: dict, bins):
    """Task units for the R2/R3 kernels: memmap-sidecar units
    (tag, key, -1, n) when the tag is in the bin manifest, parquet
    row-group units (tag, path, rg_lo, rg_hi) otherwise — PER TAG, so a
    routed tag absent from a stale/partial sidecar manifest falls back
    to its parquet partition instead of silently contributing zero
    units (ADVICE r9: that failure returned no rows for those queries).
    The serve loops branch per unit on rg_lo < 0, so mixing is free."""
    units = []
    bin_dir, bin_tags, bin_d = (None, {}, 0) if bins is None else bins
    for t in groups:
        keys = bin_tags.get(str(t))
        if keys:
            units.extend((t, key, -1, int(n)) for key, n in keys)
        else:
            for p in tag_files.get(t, ()):
                units.extend(
                    (t, pth, lo, hi) for pth, lo, hi, _rows in rg_units(spark, [p])
                )
    return units, bin_dir, bin_d


def _tag_cost(units: list, groups: dict) -> list:
    """Placement cost of _tag_units' units: rows × the tag's query
    count."""
    nq = {t: sum(len(g[1]) for g in gl) for t, gl in groups.items()}
    return [(hi if lo < 0 else int(rg_rows(p)[lo:hi].sum())) * nq[t] for t, p, lo, hi in units]


def _tagview_scan(
    spark: SparkSession,
    tag_files: dict[int, list[str]],
    qpdf,
    k: int,
    off: np.ndarray,
    has_xn: bool = False,
    bins: tuple | None = None,
) -> Scan:
    """R2/R3: qpdf(qid, qemb, tag, other) with other = -1 for no mask.
    Direct-read over ONLY the probed tags' partition files; per (tag,
    other) query group, one mask (when other ≥ 0) + one GEMM per task
    unit; nq×k partials per task (W3).  has_xn: read the persisted
    squared-norm column instead of recomputing (VERDICT r8 #1a); units
    serving only masked groups decode only candidate rows (#1b)."""
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
    nq = len(qpdf)

    def serve(payload, units):
        import pyarrow.parquet as pq

        bgroups, boff, bf32, bxn, bdir, bd = payload
        int8_direct = bf32 and _int_off_ok(boff)
        out = TaskPartials(k, nq, False)
        for tag, path, lo, hi in units:
            tgroups = bgroups.get(tag)
            if not tgroups:
                continue
            others = np.array(
                sorted({o for o, _, _ in tgroups if o >= 0}), dtype=np.int64
            )
            has_single = any(o < 0 for o, _, _ in tgroups)
            starts = prow = None
            if lo < 0:  # memmap sidecar unit: path = key, hi = n
                n = hi
                if n == 0:
                    continue
                ids, xn_col, codes_src = _open_bin(bdir, path, n, bd)
                if len(others):
                    prow, starts = _csr_restrict(f"{bdir}/{path}", others)
            else:
                cols = (
                    ["id"]
                    + (["xn"] if bxn else [])
                    + ["codes"]
                    + (["tags"] if len(others) else [])
                )
                tbl = pq.ParquetFile(path).read_row_groups(
                    list(range(lo, hi)), columns=cols
                )
                n = tbl.num_rows
                if n == 0:
                    continue
                ids = tbl.column("id").to_numpy(zero_copy_only=False)
                xn_col = (
                    tbl.column("xn").to_numpy(zero_copy_only=False)
                    if bxn
                    else None
                )
                codes_src = tbl.column("codes")
                if len(others):
                    # every unit row already carries THIS tag, so the
                    # conjunction candidates of a (tag, other) group
                    # are exactly `other`'s posting list in the unit
                    flat, row_of = _flat_tags(tbl.column("tags"), n)
                    _pt, prow, starts = _hit_lists(
                        flat, row_of, others, _probed_lut(others)
                    )
            # masked 2-tag groups: flat (query, row) pairs, scored in
            # one chunked integer-exact einsum (the per-group slice +
            # BLAS-call loop ran |others| × units times)
            pq_ = []
            for other, qids, Q in tgroups:
                if other < 0:
                    continue
                oi = int(np.searchsorted(others, other))
                rows = prow[starts[oi] : starts[oi + 1]]
                if len(rows) == 0:
                    continue
                m = len(qids)
                nb = sum(g[2].shape[0] for g in pq_)  # query-row base
                pq_.append(
                    (
                        np.repeat(qids, len(rows)),
                        nb + np.repeat(np.arange(m, dtype=np.int64), len(rows)),
                        Q,
                        np.tile(rows, m),
                    )
                )
            if not has_single and not pq_:
                continue  # every group masked and no candidates here
            # decode: the whole unit when a single-tag group scans it
            # anyway (GEMM over all rows), else only the union of the
            # masked groups' candidate rows (VERDICT r8 #1b) — and
            # with the r11 int8-direct path (persisted norms +
            # integral grid) not even that: masked pairs score
            # straight off the int8 codes below
            fast_pairs = (
                not has_single and int8_direct and xn_col is not None
            )
            if has_single:
                X_all = _decode(codes_src, None, n, boff, bf32)
                xn_all = xn_col if xn_col is not None else _sqnorms(X_all)
            elif not fast_pairs:
                rcat = np.concatenate([g[3] for g in pq_])
                ur, inv_u = _row_union(rcat, n)
                XU = _decode(codes_src, ur, n, boff, bf32)
                xn_u = xn_col[ur] if xn_col is not None else _sqnorms(XU)
            for other, qids, Q in tgroups:
                if other >= 0:
                    continue
                # single-tag group: the whole unit, GEMM-shaped
                _l2_topk(out, qids, Q, X_all, xn_all, ids)
            if pq_:
                QU = np.concatenate([g[2] for g in pq_], axis=0)
                qidx = np.concatenate([g[1] for g in pq_])
                qid_cat = np.concatenate([g[0] for g in pq_])
                rows_cat = np.concatenate([g[3] for g in pq_])
                qn_u = (QU * QU).sum(axis=1)
                if fast_pairs:
                    # int8-direct (r11, see _int_off_ok): no decode
                    C8m = (
                        codes_src
                        if isinstance(codes_src, np.ndarray)
                        else flatten_fixed_list(codes_src, n)
                    )
                    Qm = QU.astype(np.float32)
                    qoff = QU @ boff
                    g = _int8_pair_scores(Qm, qidx, C8m, rows_cat)
                    dist = (
                        qn_u[qidx]
                        - 2.0 * (g + qoff[qidx])
                        + xn_col[rows_cat]
                    )
                else:
                    if has_single:
                        XP, upos = X_all, rows_cat
                        xn_rows = xn_all[rows_cat]
                    else:
                        XP, upos = XU, inv_u[rows_cat]
                        xn_rows = xn_u[upos]
                    Qm = (
                        QU.astype(np.float32)
                        if XP.dtype == np.float32
                        else QU
                    )
                    g = np.empty(len(rows_cat), dtype=np.float64)
                    for clo in range(0, len(rows_cat), _PAIR_CHUNK):
                        chi = min(clo + _PAIR_CHUNK, len(rows_cat))
                        g[clo:chi] = np.einsum(
                            "ij,ij->i",
                            Qm[qidx[clo:chi]],
                            XP[upos[clo:chi]],
                        ).astype(np.float64)
                    dist = qn_u[qidx] - 2.0 * g + xn_rows
                np.maximum(dist, 0.0, out=dist)
                out.add(qid_cat, ids[rows_cat], dist)
        yield from out.emit()

    units, bin_dir, bin_d = _tag_units(spark, groups, tag_files, bins)
    return Scan(
        units, _tag_cost(units, groups), (groups, off, use_f32, has_xn, bin_dir, bin_d), serve
    )


def _score_tagview(spark, tag_files, qpdf, k, off, has_xn=False, bins=None) -> DataFrame:
    """R2/R3 alone: _tagview_scan in a launch of its own."""
    return scan_units(spark, [_tagview_scan(spark, tag_files, qpdf, k, off, has_xn, bins)], _PARTIAL)


def _tagview_probed_scan(
    spark: SparkSession,
    tag_files: dict[int, list[str]],
    qpdf,
    k: int,
    off: np.ndarray,
    probes: np.ndarray,
    nlist: int,
    has_xn: bool = False,
    bins: tuple | None = None,
) -> Scan:
    """R2/R3 with the per-tag sub-index ACTUALLY pruning: each query
    scans only its `probes` row's coarse lists inside the routed tag's
    partition — the lst-sorted file layout turns a probe set into
    binary-searched row ranges, the faiss IVF shape within each tag
    (the reference's per-tag sub-indexes are approximate HNSW;
    `filter/faiss/config.yaml:41-64`'s published 3,200 QPS is at the
    0.9-recall gate, so this is the like-for-like operating mode).
    Scanned rows are scored EXACTLY (decoded lossless codes, f64
    distance assembly) — recall loss comes only from unprobed lists;
    nprobe ≥ nlist reproduces the exact route bit-for-bit (pytest-
    pinned)."""
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
    nq = len(qpdf)

    def serve(payload, units):
        import pyarrow.parquet as pq

        bgroups, boff, bf32, bnlist, bxn, bdir, bd = payload
        off32 = boff.astype(np.float32)
        int8_direct = bf32 and _int_off_ok(boff)
        out = TaskPartials(k, nq, False)
        for tag, path, lo, hi in units:
            tgroups = bgroups.get(tag)
            if not tgroups:
                continue
            need_tags = any(o >= 0 for o, _, _, _ in tgroups)
            oth_rows = oth_starts = None
            others = np.array(
                sorted({o for o, _, _, _ in tgroups if o >= 0}),
                dtype=np.int64,
            )
            bounds = None
            if lo < 0:  # memmap sidecar unit: path = key, hi = n
                n = hi
                if n == 0:
                    continue
                ids, xn_col, C8 = _open_bin(bdir, path, n, bd)
                # precomputed list bounds (VERDICT r9 next #1b):
                # written at bin build / upgraded at manifest load —
                # the per-batch searchsorted over lst (and the lst
                # pages themselves) drop out of the serve path
                try:
                    bounds = np.load(f"{bdir}/{path}.bounds.npy")
                    if len(bounds) != bnlist + 1:
                        bounds = None  # foreign nlist — recompute
                except OSError:
                    bounds = None
                if bounds is None:
                    lst = np.load(f"{bdir}/{path}.lst.npy", mmap_mode="r")
                if need_tags:
                    oth_rows, oth_starts = _csr_restrict(
                        f"{bdir}/{path}", others
                    )
                # lst ascending is canonical in bins (build_tag_bins
                # applies the stable re-sort once at build)
            else:
                cols = (
                    ["id", "codes", "lst"]
                    + (["xn"] if bxn else [])
                    + (["tags"] if need_tags else [])
                )
                tbl = pq.ParquetFile(path).read_row_groups(
                    list(range(lo, hi)), columns=cols
                )
                n = tbl.num_rows
                if n == 0:
                    continue
                ids = tbl.column("id").to_numpy(zero_copy_only=False)
                xn_col = (
                    tbl.column("xn").to_numpy(zero_copy_only=False)
                    if bxn
                    else None
                )
                lst = tbl.column("lst").to_numpy(zero_copy_only=False)
                C8 = flatten_fixed_list(tbl.column("codes"), n)
                flat = row_of = None
                if need_tags:
                    flat, row_of = _flat_tags(tbl.column("tags"), n)
                # lst ascending within each file by the build's
                # (tag, lst, id) sortWithinPartitions — probe sets
                # become binary-searched row ranges.  GUARD, not
                # assumption: a writer that re-sorts by partition
                # columns (older layouts, foreign builds) hands back
                # scrambled rows — re-sort locally instead of
                # silently scanning the wrong lists (that failure
                # measured recall ≈ nprobe/nlist)
                if np.any(np.diff(lst) < 0):
                    order = np.argsort(lst, kind="stable")
                    ids, lst = ids[order], lst[order]
                    C8 = np.ascontiguousarray(C8[order])
                    if xn_col is not None:
                        xn_col = xn_col[order]
                    if row_of is not None:
                        inv = np.empty(n, dtype=np.int64)
                        inv[order] = np.arange(n, dtype=np.int64)
                        row_of = inv[row_of]
                if need_tags:
                    # (rows, starts) over `others` — the CSR shape,
                    # so the mask build below is source-agnostic
                    _pt, oth_rows, oth_starts = _hit_lists(
                        flat, row_of, others, _probed_lut(others)
                    )
            if bounds is None:
                bounds = np.searchsorted(
                    lst, np.arange(bnlist + 1, dtype=np.int64)
                )
            # PHASE 1 — every group's candidate (query, row) pairs,
            # no codes touched yet.  PHASE 2 below decodes the UNION
            # of probed rows across ALL of the unit's query groups
            # once (VERDICT r9 next #1a: different groups' probe
            # sets overlap on hot lists — per-group decode touched a
            # hot list's codes once per group, now once per unit).
            pq_ = []  # (qid_rows, global query-row idx, Q, rows)
            nb = 0  # query-row base into the concatenated Q
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
                pq_.append((qids[qrep], nb + qrep, Q, rows))
                nb += len(qids)
            if not pq_:
                continue
            # PHASE 2 — chunked pair scores over every group's
            # pairs.  The einsum is per-pair independent, so
            # batching groups together is bit-identical to the
            # per-group loop.  Int8-direct fast path (r11 — the
            # phase profile put 53% of serve-body time in the row
            # union decode): with integer-exact queries, an
            # integral grid offset, and persisted norms, score
            # q·x = q·c + q·off straight off the int8 codes — the
            # union decode drops out and per-pair code traffic
            # falls 4× (192 B int8 vs 768 B decoded f32); the sum
            # split is bit-exact (see _int_off_ok).
            rows_cat = np.concatenate([g[3] for g in pq_])
            QU = np.concatenate([g[2] for g in pq_], axis=0)
            qidx = np.concatenate([g[1] for g in pq_])
            qid_cat = np.concatenate([g[0] for g in pq_])
            qn_u = (QU * QU).sum(axis=1)
            Qm = QU.astype(np.float32) if bf32 else QU
            if int8_direct and xn_col is not None:
                qoff = QU @ boff  # f64 exact: integer q · integer off
                g = _int8_pair_scores(Qm, qidx, C8, rows_cat)
                dist = (
                    qn_u[qidx] - 2.0 * (g + qoff[qidx]) + xn_col[rows_cat]
                )
            else:
                ur, inv = _row_union(rows_cat, n)
                pos = inv[rows_cat]
                if bf32:  # integer-exact f32 (knn_join contract)
                    Xu = C8[ur].astype(np.float32) + off32[None, :]
                else:
                    Xu = C8[ur].astype(np.float64) + boff[None, :]
                xn_u = xn_col[ur] if xn_col is not None else _sqnorms(Xu)
                g = np.empty(len(rows_cat), dtype=np.float64)
                for clo in range(0, len(rows_cat), _PAIR_CHUNK):
                    chi = min(clo + _PAIR_CHUNK, len(rows_cat))
                    g[clo:chi] = np.einsum(
                        "ij,ij->i", Qm[qidx[clo:chi]], Xu[pos[clo:chi]]
                    ).astype(np.float64)
                dist = qn_u[qidx] - 2.0 * g + xn_u[pos]
            np.maximum(dist, 0.0, out=dist)
            out.add(qid_cat, ids[rows_cat], dist)
        yield from out.emit()

    units, bin_dir, bin_d = _tag_units(spark, groups, tag_files, bins)
    return Scan(
        units,
        _tag_cost(units, groups),
        (groups, off, use_f32, nlist, has_xn, bin_dir, bin_d),
        serve,
    )


def _score_tagview_probed(
    spark, tag_files, qpdf, k, off, probes, nlist, has_xn=False, bins=None
) -> DataFrame:
    """Probed R2/R3 alone: _tagview_probed_scan in a launch of its own."""
    scan = _tagview_probed_scan(spark, tag_files, qpdf, k, off, probes, nlist, has_xn, bins)
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

#: build the probed-tag lookup table only while it stays broadcast-small
#: (int32 LUT over 0..max_tag — 262k-tag yfcc vocab ≈ 1 MB); a sparse /
#: huge / negative tag space falls back to binary search
_LUT_MAX_TAG = 8_000_000


def _probed_lut(probed: np.ndarray) -> np.ndarray | None:
    if len(probed) == 0 or probed[0] < 0 or probed[-1] > _LUT_MAX_TAG:
        return None
    lut = np.full(int(probed[-1]) + 1, -1, dtype=np.int32)
    lut[probed] = np.arange(len(probed), dtype=np.int32)
    return lut


def _hit_lists(flat, row_of, probed, lut):
    """(ptag, prow, starts): probed-tag posting lists within a unit —
    rows carrying probed tag probed[i] are prow[starts[i]:starts[i+1]],
    row-ascending.  Membership via the O(1) LUT gather when the tag
    space admits it, else one searchsorted sweep."""
    if lut is not None:
        # clip BOTH ends: a negative tag with magnitude > len(lut) would
        # make the gather throw (ADVICE r8); the (flat >= 0) term below
        # already excludes every negative tag from matching
        safe = np.clip(flat, 0, len(lut) - 1)
        pidx = lut[safe]
        valid = (pidx >= 0) & (flat == safe) & (flat >= 0)
        ptag = pidx[valid].astype(np.int64)
    else:
        pos = np.searchsorted(probed, flat)
        valid = pos < len(probed)
        valid[valid] = probed[pos[valid]] == flat[valid]
        ptag = pos[valid]
    prow = row_of[valid]
    order = np.lexsort((prow, ptag))
    ptag, prow = ptag[order], prow[order]
    starts = np.searchsorted(ptag, np.arange(len(probed) + 1, dtype=np.int64))
    return ptag, prow, starts


def _group_queries(qpdf, ndoc: dict | None):
    """R4 query grouping shared VERBATIM by the parquet sweep and the
    bin kernel (VERDICT r9 #8 — the two copies must never drift; their
    equality is the bin/parquet contract).  Splits the batch into
    scan_q (empty conjunction → full scan), flat_q (1-2 tags → the
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
    strictly ascending).  Returns (qrep, rows) or (None, None); shared
    by _score_meta and _score_meta_bin (VERDICT r9 #8)."""
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


def _row_union(rows_cat: np.ndarray, n: int):
    """(ur, pos): sorted unique rows + each pair's index into ur —
    np.unique(..., return_inverse=True) semantics via an O(P + n)
    mark + inverse-LUT pass instead of unique's O(P log P) sort (the
    probed route runs this on millions of pairs per unit; n is bounded
    by the unit's row count)."""
    mark = np.zeros(n, dtype=bool)
    mark[rows_cat] = True
    ur = np.flatnonzero(mark)
    inv = np.empty(n, dtype=np.int64)
    inv[ur] = np.arange(len(ur), dtype=np.int64)
    return ur, inv


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


def _meta_scan(
    spark: SparkSession,
    codes_dir: str,
    qpdf,
    k: int,
    off: np.ndarray,
    ndoc: dict | None = None,
    has_xn: bool = False,
) -> Scan:
    """R4: one direct-read pass over the codes table for ALL selective
    queries.  qpdf(qid, qemb, qtags).  Per task unit: PHASE 1 reads only
    the metadata columns (id, tags, persisted xn norms) — flatten the
    tags column once, one vectorized LUT membership pass against the
    probed tags, lexsort the hits into per-tag posting lists, build
    every query's candidate (query, row) pairs IN ONE SHOT (multi-slice
    gather over each query's rarer-tag posting range, second conjunct
    verified by one searchsorted over combined (tag, row) keys).
    PHASE 2 reads the codes column and decodes ONLY the union of
    candidate rows (VERDICT r8 #1b — the sweep previously decoded and
    norm'd every row per batch regardless of selectivity; the full
    decode now happens only for scan-all queries or candidate-dense
    units where the gather would cost more than the pass).  All pairs
    score through a chunked integer-exact f32 einsum.  Work ∝
    Σ_q |postings(rarer tag of q)| plus one metadata-column sweep; no
    per-query Python loop, never a candidate join shuffle.

    ndoc (the routing stats) picks each 2-tag query's RARER conjunct so
    the gather touches the smaller posting list — the reference's
    min-frequency cost model (`filter/faiss/faiss.py:378-385`).
    Conjunctions beyond 2 tags take a per-group sorted-intersection
    path; an empty conjunction scans the unit via the blocked GEMM.
    has_xn: the build persisted per-row squared norms (VERDICT r8 #1a)
    — read them instead of recomputing; bit-identical on the integer
    grid (pre-r9 layouts fall back to _sqnorms)."""
    scan_q, flat_q, multi_q, probed, use_f32 = _group_queries(qpdf, ndoc)
    lut = _probed_lut(probed)
    files = sorted(_glob.glob(f"{codes_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {codes_dir}")
    nq = len(qpdf)

    def serve(payload, units):
        import pyarrow.parquet as pq

        bscan, bflat, bmulti, bprobed, blut, boff, bf32, bxn = payload
        int8_direct = bf32 and _int_off_ok(boff)
        fqids, fQ, frarer, fother = bflat
        fQ32 = fQ.astype(np.float32)
        fqn = (fQ * fQ).sum(axis=1)
        fqoff = fQ @ boff if int8_direct else None  # f64 exact rebase
        out = TaskPartials(k, nq, False)
        for path, lo, hi in units:
            pf = pq.ParquetFile(path)
            rgs = list(range(lo, hi))
            # PHASE 1: metadata columns only — candidates are known
            # before a single code byte is read
            mcols = ["id", "tags"] + (["xn"] if bxn else [])
            tbl = pf.read_row_groups(rgs, columns=mcols)
            n = tbl.num_rows
            if n == 0:
                continue
            ids = tbl.column("id").to_numpy(zero_copy_only=False)
            xn_col = (
                tbl.column("xn").to_numpy(zero_copy_only=False)
                if bxn
                else None
            )
            flat, row_of = _flat_tags(tbl.column("tags"), n)
            ptag, prow, starts = _hit_lists(flat, row_of, bprobed, blut)

            # ---- the 1-2-tag bulk: all candidate pairs in one shot
            qrep, rows = _flat_pairs(frarer, fother, ptag, prow, starts, n)
            n_flat = len(qrep) if rows is not None else 0

            # ---- >2-tag conjunctions: sorted-intersection row sets
            mhits = []
            for need_idx, qids, Q in bmulti:
                mrows = _multi_rows(need_idx, prow, starts)
                if len(mrows):
                    mhits.append((mrows, qids, Q))

            if not n_flat and not mhits and bscan is None:
                continue  # nothing in this unit touches codes at all

            # PHASE 2: the codes column — decode only the candidate
            # union unless a scan-all query (or candidate density
            # past half the unit, where the gather costs more than
            # the straight pass) wants every row
            codes_col = pf.read_row_groups(rgs, columns=["codes"]).column(
                "codes"
            )
            # int8-direct fast path (r11, see _int_off_ok): with
            # persisted norms + the integral grid, the flat pairs
            # score straight off the int8 codes view — only the
            # >2-tag GEMM row sets still decode; a scan-all batch
            # decodes every row anyway, so the fast path stands
            # down there
            fast_flat = (
                int8_direct and xn_col is not None and bscan is None
            )
            parts = (
                [rows[:n_flat]] if n_flat and not fast_flat else []
            ) + [m[0] for m in mhits]
            if parts:
                ur, inv_u = _row_union(np.concatenate(parts), n)
            else:
                ur = np.empty(0, dtype=np.int64)
            full = bscan is not None or ur.size * 2 > n
            if full:
                X_all = _decode(codes_col, None, n, boff, bf32)
                xn_all = xn_col if xn_col is not None else _sqnorms(X_all)
                XU = X_all
            elif len(ur):
                XU = _decode(codes_col, ur, n, boff, bf32)
                xn_u = xn_col[ur] if xn_col is not None else _sqnorms(XU)

            if n_flat:
                Qm = fQ32 if bf32 else fQ
                if fast_flat and not full:
                    C8m = flatten_fixed_list(codes_col, n)
                    np_d = _int8_pair_scores(Qm, qrep, C8m, rows)
                    np_d += fqoff[qrep]
                    xn_rows = xn_col[rows]
                else:
                    up = rows if full else inv_u[rows]
                    xn_rows = xn_all[rows] if full else xn_u[up]
                    np_d = np.empty(n_flat, dtype=np.float64)
                    for plo in range(0, n_flat, _PAIR_CHUNK):
                        phi = min(plo + _PAIR_CHUNK, n_flat)
                        a = Qm[qrep[plo:phi]]
                        b = XU[up[plo:phi]]
                        g = np.einsum("ij,ij->i", a, b)
                        np_d[plo:phi] = g.astype(np.float64)
                dist = fqn[qrep] - 2.0 * np_d + xn_rows
                np.maximum(dist, 0.0, out=dist)
                out.add(fqids[qrep], ids[rows], dist)

            for mrows, qids, Q in mhits:
                up = mrows if full else inv_u[mrows]
                xc = xn_all[mrows] if full else xn_u[up]
                _l2_topk(out, qids, Q, np.ascontiguousarray(XU[up]), xc, ids[mrows])

            # ---- empty conjunction: every row, blocked GEMM
            if bscan is not None:
                _l2_topk(out, *bscan, X_all, xn_all, ids)
        yield from out.emit()

    units = rg_units(spark, files)
    return Scan(
        [u[:3] for u in units],
        [u[3] for u in units],
        (scan_q, flat_q, multi_q, probed, lut, off, use_f32, has_xn),
        serve,
    )


def _score_meta(spark, codes_dir, qpdf, k, off, ndoc=None, has_xn=False) -> DataFrame:
    """R4 sweep alone: _meta_scan in a launch of its own."""
    return scan_units(spark, [_meta_scan(spark, codes_dir, qpdf, k, off, ndoc, has_xn)], _PARTIAL)


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
    """R4 over the memmapped serving sidecars (filteridx.build_meta_bins
    — the reference's xbin_mmap + CSR serving arrays as build
    artifacts): the PREBUILT per-file CSR replaces the per-batch tags
    scan entirely, and scoring gathers ONLY candidate rows straight
    from the shared page-cache codes bin — per batch, work ∝
    Σ_q |postings(rarer)| + Σ|candidates| with no full-corpus read or
    decode anywhere (the parquet sweep's remaining O(corpus) terms).
    Worker processes memmap the same files, so the corpus occupies ONE
    set of physical pages across local[32] instead of 32 private Arrow
    + decode heaps — which is also what makes the row robust on
    fault-taxed hosts.  Query grouping (scan/flat/multi, rarer-conjunct
    choice via ndoc), distance assembly (f32 gather-einsum, f64
    qn − 2g + xn), and tie semantics are IDENTICAL to _score_meta —
    the two paths are hash-pinned against the same oracle."""
    import json as _json

    with open(f"{bin_dir}/_SUCCESS.json") as fh:
        man = _json.load(fh)
    d = int(man["d"])
    scan_q, flat_q, multi_q, probed, use_f32 = _group_queries(qpdf, ndoc)
    # units: (file, row-split) — candidate work splits with the rows, so
    # the balance is not capped at the file count
    nfiles = max(1, len(man["files"]))
    nsp = max(1, -(-2 * spark.sparkContext.defaultParallelism // nfiles))
    units = [
        (stem, int(n), sp, nsp) for stem, n in man["files"] for sp in range(nsp)
    ]
    nq = len(qpdf)

    def serve(payload, units):
        bscan, bflat, bmulti, bprobed, boff, bf32, bdir, bd = payload
        off32 = boff.astype(np.float32)
        offd = boff if not bf32 else off32
        int8_direct = bf32 and _int_off_ok(boff)
        fqids, fQ, frarer, fother = bflat
        fQ32 = fQ.astype(np.float32)
        fqn = (fQ * fQ).sum(axis=1)
        fqoff = fQ @ boff if int8_direct else None  # f64 exact rebase
        out = TaskPartials(k, nq, False)

        def gather(C8, rows):
            B = C8[rows].astype(np.float32 if bf32 else np.float64)
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

            # ---- 1-2-tag bulk (the shared _score_meta flat kernel)
            qrep, rows = _flat_pairs(
                frarer, fother, ptag_cat, prow_cat, starts, n
            )
            n_flat = len(qrep) if rows is not None else 0
            if n_flat:
                Qm = fQ32 if bf32 else fQ
                if int8_direct:
                    # int8-direct scoring (r11): q·x = q·c + q·off
                    # straight off the codes bin — no per-chunk f32
                    # decode buffer; bit-exact per _int_off_ok
                    np_d = _int8_pair_scores(Qm, qrep, C8, rows)
                    np_d += fqoff[qrep]
                else:
                    np_d = np.empty(n_flat, dtype=np.float64)
                    for plo in range(0, n_flat, _PAIR_CHUNK):
                        phi = min(plo + _PAIR_CHUNK, n_flat)
                        B = gather(C8, rows[plo:phi])
                        g = np.einsum("ij,ij->i", Qm[qrep[plo:phi]], B)
                        np_d[plo:phi] = g.astype(np.float64)
                dist = fqn[qrep] - 2.0 * np_d + xn[rows]
                np.maximum(dist, 0.0, out=dist)
                out.add(fqids[qrep], ids[rows], dist)

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
        (scan_q, flat_q, multi_q, probed, off, use_f32, bin_dir, d),
        serve,
    )


def _score_meta_bin(spark, bin_dir, qpdf, k, off, ndoc=None) -> DataFrame:
    """R4 over the sidecars alone: _meta_bin_scan in a launch of its own."""
    return scan_units(spark, [_meta_bin_scan(spark, bin_dir, qpdf, k, off, ndoc)], _PARTIAL)
