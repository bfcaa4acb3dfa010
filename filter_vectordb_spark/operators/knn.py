"""Exact k-NN join (SURVEY.md §2.3 J3) — the engine's fundamental operator.

Semantics: for each query row, the k nearest rows of the base set under a
metric, ties broken by id ascending, results ranked 1..k.  The reference
implements this as brute-force SIMD kernels + per-query heaps
(`filter/faiss/faiss.py:395-418`, `uint8_knn.hpp:39-82`,
`hnsw/bruteforce.h`); the Spark-native design is:

  broadcast(queries)  ×  base (partitioned, arbitrarily large)
        │
        ├─ strategy="expr":  crossJoin + codegen'd distance expression
        │                    + window top-k   (pure JVM, zero Python)
        │
        └─ strategy="vectorized":  mapInArrow over base partitions,
                                   float64 BLAS block — per-task
                                   streaming top-k (nq×k rows out per task)
                                   → global final top-k (W3 merge)

Scale posture (100 TB): the base side is never collected or shuffled in
full — only nq×k rows per task leave the scan stage, then one shuffle of
nq×k×ntasks rows for the final merge.  Queries must be the
provably-small side (the reference's query sets are 10k-100k rows; the
broadcast cap guards this).

The vectorized path mirrors the reference's dot-trick kernel
(`uint8_knn.hpp:9-29`: dist = ‖x‖² − 2·x·q + ‖q‖²) but in float64, so
rankings agree with the exact expression path.  Over a uint8 base it
runs the reference's VNNI kernel itself (u8_scan.c, StreamTopK.scan_u8):
exact int32 dots, so its scores equal the BLAS path's bit for bit.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from filter_vectordb_spark.functions.distance import cosine_sim, dot, l2_sq
from filter_vectordb_spark.operators.topk import per_group_topk

#: refuse to broadcast a query side bigger than this (rows)
MAX_BROADCAST_QUERIES = 1_000_000

#: byte-aware companion cap (VERDICT r6 #3): a chunk's broadcast payload
#: (rows × ~8 bytes per scalar/list element) must also fit this budget,
#: so a 1536-d query set chunks at ~160k rows instead of shipping a
#: 12 GB broadcast to every executor.  2 GiB keeps the familiar
#: 1M × 192-d bench chunks single-shot (1.5 GB).
BROADCAST_BYTES_BUDGET = 2 << 30

METRICS = ("l2", "ip", "cos")

#: column-block width for blocked per-row top-k selection.  One
#: argpartition over a full (nq, nb) row is erratic on this class of
#: host (measured 0.5-10s on identical 20M-element inputs — introselect's
#: random access pattern is memory-latency-bound); per-block partition +
#: a final partition over nblocks·k survivors is bounded and stable.
TOPK_BLOCK = 2048


def flatten_fixed_list(col, n_rows: int) -> np.ndarray:
    """The one dense-vector decoder of every dense reader (scans, index
    builds and encodes, rescore joins, dedup, the binary writer): an
    (n_rows, d) ndarray over an Arrow column of equal-length vectors.
    Accepts `list` / `large_list` / `fixed_size_list` (values keep their
    dtype) and the staged uint8 layout — `fixed_size_binary(d)` as
    pyarrow reads it, or `binary` / `large_binary` whose values all have
    d bytes, as Spark hands a raw-read FIXED_LEN_BYTE_ARRAY column to a
    Python task — as a uint8 view.  Slice offsets are honoured, and nothing is copied
    unless the column has several chunks (concatenated first) or list
    values hold nulls.  Ragged vectors or null rows raise ValueError.
    ~50× faster than np.stack over the per-row object arrays pandas
    hands back (measured 0.08s vs 4.2s per 125k × 192 rows) — the reason
    every dense reader takes Arrow batches (mapInArrow, toArrow)."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    if col.null_count:
        raise ValueError("null vectors — fixed-length vectors required")
    t = col.type
    if pa.types.is_fixed_size_binary(t):
        d = t.byte_width
        if n_rows == 0:
            return np.empty((0, d), np.uint8)
        flat = np.frombuffer(col.buffers()[1], np.uint8)[col.offset * d :][: n_rows * d]
    elif pa.types.is_binary(t) or pa.types.is_large_binary(t):
        if n_rows == 0:
            return np.empty((0, 0), np.uint8)
        ot = np.int64 if pa.types.is_large_binary(t) else np.int32
        offs = np.frombuffer(col.buffers()[1], ot)[col.offset : col.offset + n_rows + 1]
        d = _uniform_width(offs)
        flat = np.frombuffer(col.buffers()[2], np.uint8)[offs[0] : offs[-1]]
    elif pa.types.is_fixed_size_list(t):
        d = t.list_size
        flat = col.flatten().to_numpy(zero_copy_only=False)
    else:  # list / large_list
        d = _uniform_width(col.offsets.to_numpy(zero_copy_only=False))
        flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(n_rows, d)


def _flat_tags(col, n: int):
    """(flat_tags int64, row_of int64) of an Arrow list column of n rows,
    straight off its list buffers (no per-row Python): row_of[i] is the
    row flat_tags[i] belongs to.  A sliced array's offsets index into
    its PARENT values buffer, so the values are rebased to keep the two
    aligned."""
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    off = col.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    flat = (col.values.to_numpy(zero_copy_only=False).astype(np.int64))[
        off[0] : off[-1]
    ]
    row_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(off))
    return flat, row_of


def list_column(X: np.ndarray):
    """The inverse of flatten_fixed_list: a 2-D ndarray as an Arrow
    list column, one row per ndarray row (Spark `array<dtype>`)."""
    import pyarrow as pa

    offs = np.arange(0, X.size + 1, X.shape[1], dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(X.ravel()))


def _uniform_width(offs: np.ndarray) -> int:
    """The common length of the vectors an offsets array delimits (0 for
    no rows); raises ValueError when they differ."""
    w = np.diff(offs)
    if len(w) and (w != w[0]).any():
        raise ValueError("ragged vectors — fixed-length vectors required")
    return int(w[0]) if len(w) else 0


def topk_blocked(key: np.ndarray, k: int, block: int = TOPK_BLOCK) -> np.ndarray:
    """Per-row indices of the k SMALLEST entries of an (nr, nc) key
    matrix (unordered — ordering/ties are the global merge's job, exactly
    as with a single argpartition).  Each block is copied contiguous
    before partitioning: introselect over a strided slice of a wide
    matrix is memory-latency-bound (every probe a cache+TLB miss) and
    measured 10-100× the contiguous cost."""
    nr, nc = key.shape
    kk = min(k, nc)
    if kk == nc:
        return np.tile(np.arange(nc), (nr, 1))
    if nc <= block:
        return np.argpartition(np.ascontiguousarray(key), kk - 1, axis=1)[:, :kk]
    cand = []
    for lo in range(0, nc, block):
        blk = np.ascontiguousarray(key[:, lo : lo + block])
        bk = min(k, blk.shape[1])
        if bk == blk.shape[1]:
            cand.append(np.tile(np.arange(lo, lo + bk), (nr, 1)))
        else:
            cand.append(np.argpartition(blk, bk - 1, axis=1)[:, :bk] + lo)
    C = np.concatenate(cand, axis=1)
    V = np.take_along_axis(key, C, axis=1)
    pf = np.argpartition(V, kk - 1, axis=1)[:, :kk]
    return np.take_along_axis(C, pf, axis=1)


#: sentinel id of an empty top-k slot: sorts after every real id, so at
#: an equal score a real row always wins the slot
_NO_ID = np.iinfo(np.int64).max

#: columns of the first block that seed an empty accumulator's
#: threshold (at least k): the k-th best of this narrow slice bounds the
#: final k-th best, so the first block needs no full-width selection
SEED_COLS = 256


def _topk_per_group(groups: np.ndarray, ids: np.ndarray, key: np.ndarray, k: int):
    """The one per-group top-k cut of every partial merge: positions of
    each group's k best rows by (key asc, id asc), ordered by (group,
    key, id), and each kept row's 0-based rank in its group — one
    vectorized lexsort, no per-group Python loop.  Callers pass key =
    -score when larger is better."""
    order = np.lexsort((ids, key, groups))
    g = groups[order]
    starts = np.flatnonzero(np.r_[True, g[1:] != g[:-1]])
    rank = np.arange(len(g)) - np.repeat(starts, np.diff(np.r_[starts, len(g)]))
    keep = rank < k
    return order[keep], rank[keep]


def _threshold_merge(
    best_idx: np.ndarray,
    best_val: np.ndarray,
    rows: np.ndarray,
    ids: np.ndarray,
    vals: np.ndarray,
    larger: bool,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Merge sparse (row, id, val) candidates into the dense per-row
    (id, val) top-kk state; returns (best_idx, best_val, thr) with rows
    sorted best-first by (val, id asc), so thr (the per-row selection
    boundary) is the last column and a tie at the boundary keeps the
    lowest ids.  One lexsort over kk·nq + ncand entries — the candidate
    stream is ~kk·ln(nb/chunk) per row on unordered data, so this is
    metadata-sized next to the GEMM."""
    nq, kk = best_idx.shape
    all_r = np.concatenate([np.repeat(np.arange(nq), kk), rows])
    all_i = np.concatenate([best_idx.ravel(), ids])
    all_v = np.concatenate([best_val.ravel(), vals])
    sel, _ = _topk_per_group(all_r, all_i, -all_v if larger else all_v, kk)
    # every row already holds kk dense entries → exactly kk survive per row
    best_idx = all_i[sel].reshape(nq, kk)
    best_val = all_v[sel].reshape(nq, kk)
    return best_idx, best_val, best_val[:, -1].copy()


class StreamTopK:
    """Per-row top-k over score blocks streamed through one at a time —
    the reference's one heap per query per scan thread
    (`uint8_knn.hpp:39-82`) in vectorized form.  A scan task keeps ONE
    accumulator across all of its units and emits one partial at the
    end, so no unit restarts its selection.

    Selection is threshold-pruned (r8: the exact anchors were
    selection-bound — introselect costs ~10-40 ns/element where a SIMD
    compare is ~0.5).  State: per row the best k (id, score) so far,
    sorted best-first by (score, id asc); thr is the k-th score.  A
    block's entries become
    candidates only when no worse than thr — ties KEPT, so a tied lower
    id can still take the last slot — gathered with one flatnonzero +
    divmod.  Candidates merge into the state (re-tightening thr) once
    they pass ~4·nq·k, which bounds memory and keeps the candidate rate
    at ~k/seen per element on unordered data.  An accumulator that has
    not yet seen k columns seeds thr from the k-th best of the block's
    first SEED_COLS columns (ties again go through the same compare), so
    no full-width selection ever runs.

    The kept set is exact under (score, id asc): results do not depend
    on how rows are cut into blocks, units or tasks.  metric ∈ METRICS
    fixes the direction (l2 smaller is better, ip/cos larger).

    Two paths feed the same state.  scan (BLAS GEMM + push) scores any
    dtype and every metric.  scan_u8 (the compiled u8_scan.c kernel)
    scores a uint8 block for l2/ip queries that pack_u8_queries packed:
    integer-valued with a per-query range ≤ 255.  _push_block takes
    scan_u8 whenever both hold and the kernel built (u8_kernel() ==
    "active"), and scan otherwise; both give the same kept set and the
    same float64 scores, so which one ran never shows in a result."""

    def __init__(self, nq: int, k: int, metric: str):
        self.k = k
        self.larger = metric in ("ip", "cos")
        self.metric = metric
        fill = -np.inf if self.larger else np.inf
        self.val = np.full((nq, k), fill)
        self.idx = np.full((nq, k), _NO_ID, dtype=np.int64)
        self.thr = self.val[:, -1].copy()
        self.seen = 0
        self._pend: list = []  # (rows, ids, vals) candidate triples
        self._npend = 0
        self._cap = max(65_536, 4 * nq * k)
        self._ubuf = None  # scan_u8's candidate buffers, made on first use

    def push(self, D: np.ndarray, ids: np.ndarray) -> None:
        """Offer a C-contiguous (nq, c) score block for the base rows
        `ids` (c,) int64."""
        nc = D.shape[1]
        if nc == 0:
            return
        if self.seen < self.k <= nc:
            # the k-th best of any k seen scores bounds the final k-th
            # best, so the seed holds until a merge tightens it
            S = D[:, : max(self.k, min(nc, SEED_COLS))].astype(np.float64)
            if self.larger:
                kth = -np.partition(-S, self.k - 1, axis=1)[:, self.k - 1]
                self.thr = np.maximum(self.thr, kth)
            else:
                kth = np.partition(S, self.k - 1, axis=1)[:, self.k - 1]
                self.thr = np.minimum(self.thr, kth)
        t = self.thr
        self.seen += nc
        # compare in D's dtype; when the f64 boundary rounds toward
        # "stricter" in f32, step it one ulp looser so no true candidate
        # is lost (ties must stay in the pool)
        if D.dtype == np.float32:
            t32 = t.astype(np.float32)
            if self.larger:
                t = np.where(t32 > t, np.nextafter(t32, np.float32(-np.inf)), t32)
            else:
                t = np.where(t32 < t, np.nextafter(t32, np.float32(np.inf)), t32)
        m = D >= t[:, None] if self.larger else D <= t[:, None]
        flat = np.flatnonzero(m)
        if len(flat) == 0:
            return
        r, c = np.divmod(flat, nc)
        self._pend.append((r, ids[c], D.ravel()[flat].astype(np.float64)))
        self._npend += len(flat)
        if self._npend > self._cap:
            self._merge()

    def scan(self, Q, qn, X, xn, ids: np.ndarray, chunk: int = TOPK_BLOCK) -> None:
        """Fused BLAS + push over base rows in CONTIGUOUS chunks:
        G = Q @ X[lo:hi]ᵀ lands C-contiguous at (nq, chunk), is pushed,
        and is freed before the next chunk — peak memory is O(nq·chunk)
        however many rows X carries, and no selection ever runs on
        strided memory.  Q/X in the caller's compute dtype; qn/xn
        float64 squared norms (l2) or norms (cos), None for ip."""
        for lo in range(0, X.shape[0], chunk):
            G = Q @ X[lo : lo + chunk].T  # (nq, c) C-contiguous
            if self.metric == "ip":
                # score straight off G (f32 for the integer-exact
                # contract, f64 otherwise); only candidates become f64
                D = G
            elif self.metric == "l2":
                D = qn[:, None] - 2.0 * G.astype(np.float64) + xn[None, lo : lo + chunk]
                np.maximum(D, 0.0, out=D)
            else:  # cos — divide (not reciprocal-multiply) to keep f64
                # rounding identical to the expression path G / (‖q‖·‖x‖)
                D = G.astype(np.float64) / (qn[:, None] * xn[None, lo : lo + chunk])
            self.push(D, ids[lo : lo + chunk])

    def scan_u8(self, P: U8Queries, X: np.ndarray, ids: np.ndarray) -> None:
        """The compiled twin of scan for a uint8 (n, d) block X and
        queries packed by pack_u8_queries: u8_scan.c computes each exact
        int32 dot product with vpdpbusd, compares its key with the
        current threshold while it is still in a register (ties kept, as
        push keeps them), and returns only the candidates, which become
        float64 on their way into the pending triples — so the kept set,
        the merge and the emitted scores are push's, bit for bit.  An
        accumulator that has not yet seen k rows first seeds thr through
        scan over the block's first SEED_COLS rows.  The kernel writes at
        most max(cap, nq) candidates per call and commits them per
        1,024-row block: a block that would overflow is merged past
        (tightening thr) and rescanned, and one that overflows an empty
        buffer is rescanned in halves — a single row yields ≤ nq."""
        n = len(X)
        if X.dtype != np.uint8 or X.ndim != 2 or X.shape[1] != P.d or len(ids) != n:
            raise ValueError(f"scan_u8 needs ({n}, {P.d}) uint8 rows and {n} ids")
        if P.nq != len(self.thr):
            raise ValueError(f"scan_u8: {P.nq} packed queries for {len(self.thr)} rows")
        s = min(n, max(self.k, SEED_COLS)) if self.seen < self.k else 0
        if s:
            Xs = X[:s].astype(P.Q.dtype)
            self.scan(P.Q, P.qn, Xs, _norm_factor(Xs, self.metric), ids[:s])
        if s == n:
            return
        X, ids, dp = np.ascontiguousarray(X[s:]), ids[s:], P.qp.shape[1] * 4
        if dp != P.d:  # zero-pad rows to the packed width
            X = np.pad(X, ((0, 0), (0, dp - P.d)))
        cap = max(self._cap, P.nqp)
        if self._ubuf is None or self._ubuf.shape[1] < cap:
            self._ubuf = np.empty((3, cap), np.int32)
        rows, qs, keys = self._ubuf
        done = np.zeros(1, np.int64)
        lo, step, n = 0, len(X), len(X)
        while lo < n:
            hi = min(n, lo + step)
            thr = P.thr32(self.thr)  # held: the call reads its memory
            cnt = P.fn(
                X[lo:hi].ctypes.data, hi - lo, dp, P.qp.ctypes.data, P.nqp // _U8_QT,
                P.off.ctypes.data, thr.ctypes.data, P.l2,
                rows.ctypes.data, qs.ctypes.data, keys.ctypes.data, cap, done.ctypes.data,
            )
            took = int(done[0])
            if cnt:
                q = qs[:cnt].astype(np.int64)
                v = keys[:cnt].astype(np.float64)
                if P.l2:
                    v += P.qn[q]  # ‖q‖² + ‖x‖² − 2·dot, exact below 2⁵³
                self._pend.append((q, ids[lo + rows[:cnt]], v))
                self._npend += cnt
            self.seen += took
            lo += took
            if took == 0 and not self._npend:
                step = max(1, step // 2)  # ties overflow even an empty buffer
            elif lo < hi or self._npend > self._cap:
                self._merge()

    def _merge(self) -> None:
        if not self._npend:
            return
        r, i, v = (np.concatenate(a) for a in zip(*self._pend))
        self.idx, self.val, self.thr = _threshold_merge(
            self.idx, self.val, r, i, v, self.larger
        )
        self._pend, self._npend = [], 0

    def result(self) -> tuple[np.ndarray, np.ndarray]:
        """(ids (nq, kk), scores (nq, kk) float64), kk = min(k, seen),
        each row best-first by (score, id asc)."""
        self._merge()
        kk = min(self.k, self.seen)
        return self.idx[:, :kk], self.val[:, :kk]


#: the uint8 scan kernel (StreamTopK.scan_u8): its C source, its flags
#: (explicit ISA, never -march=native, so one build serves every host
#: with these flags) and the CPU flags it needs
_U8_SRC = os.path.join(os.path.dirname(__file__), "u8_scan.c")
_U8_CFLAGS = ("-O3", "-mavx512f", "-mavx512vnni", "-shared", "-fPIC")
_U8_CPU = frozenset({"avx512f", "avx512_vnni"})
#: queries per register tile — QT in u8_scan.c
_U8_QT = 64
_U8_BUILT: dict = {}  # _U8_SRC → (path, status), once per process
_U8_FNS: dict = {}  # path → loaded entry point, once per process


def u8_kernel() -> tuple[str | None, str]:
    """(path of the compiled uint8 scan kernel, "active"), or (None,
    why the numpy path runs: "no avx512_vnni", "no gcc" or "compile
    error: …").  Compiled once into tempfile.gettempdir(), named by the
    hash of the source and the flags, written under a temporary name and
    renamed into place, so racing builders are safe and a failed compile
    leaves nothing a later call would load.  The driver calls this while
    it plans a scan (it rebuilds a kernel file removed since); tasks only
    load the path it hands them."""
    built = _U8_BUILT.get(_U8_SRC)
    if built is None or (built[0] is not None and not os.path.exists(built[0])):
        built = _U8_BUILT[_U8_SRC] = _build_u8()
    return built


def _build_u8() -> tuple[str | None, str]:
    import hashlib
    import shutil
    import subprocess
    import tempfile

    from filter_vectordb_spark.session import _cpu_flags

    if not _U8_CPU <= (_cpu_flags() or frozenset()):
        return None, "no avx512_vnni"
    gcc = shutil.which("gcc")
    if gcc is None:
        return None, "no gcc"
    with open(_U8_SRC, "rb") as f:
        tag = hashlib.sha256(f.read() + " ".join(_U8_CFLAGS).encode()).hexdigest()[:16]
    path = os.path.join(tempfile.gettempdir(), f"fvdb_u8_scan_{tag}.so")
    if os.path.exists(path):
        if os.stat(path).st_uid != os.getuid():
            return None, f"compile error: {path} belongs to another user"
        return path, "active"
    fd, tmp = tempfile.mkstemp(suffix=".so.tmp", dir=os.path.dirname(path))
    os.close(fd)
    try:
        r = subprocess.run([gcc, *_U8_CFLAGS, "-o", tmp, _U8_SRC], capture_output=True, text=True)
        if r.returncode:
            return None, "compile error: " + (r.stderr.strip().splitlines() or ["gcc failed"])[-1]
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)
    return path, "active"


def _u8_fn(path: str):
    """The u8_scan entry point of the built kernel at path."""
    fn = _U8_FNS.get(path)
    if fn is None:
        import ctypes

        fn = ctypes.CDLL(path).u8_scan
        p, i64 = ctypes.c_void_p, ctypes.c_int64
        fn.argtypes = [p, i64, i64, p, i64, p, p, ctypes.c_int32, p, p, p, i64, p]
        fn.restype = i64
        _U8_FNS[path] = fn
    return fn


class U8Queries(NamedTuple):
    """A task's query set packed once for StreamTopK.scan_u8: qp holds
    int8 q − off (off a per-query offset that brings the query into
    int8; 0 when it already fits) in the kernel's 64-query × 4-dim tile
    order, zero-padded to nqp = a multiple of 64 queries and to a
    multiple of 4 dims.  Q/qn are the compute-dtype queries and their
    norm factor, which seed thr through scan."""

    fn: Any
    qp: np.ndarray  # (nqp // 64, ⌈d/4⌉, 64, 4) int8
    off: np.ndarray  # (nqp,) int32
    nq: int
    nqp: int
    d: int  # the queries' (and the base's) dimension
    l2: int
    Q: np.ndarray
    qn: np.ndarray | None

    def thr32(self, thr: np.ndarray) -> np.ndarray:
        """The kernel's int32 per-query key bounds for the float64
        thresholds thr: ip keeps dot ≥ ⌈thr⌉, l2 keeps ‖x‖² − 2·dot ≤
        ⌊thr − ‖q‖²⌋ (scores are integers, so both are exact); ±inf
        clips to keep-everything, and pad lanes keep nothing."""
        lo, hi = np.iinfo(np.int32).min, np.iinfo(np.int32).max
        t = np.full(self.nqp, lo if self.l2 else hi, np.int32)
        b = np.floor(thr - self.qn) if self.l2 else np.ceil(thr)
        t[: self.nq] = np.clip(b, lo, hi)
        return t


def pack_u8_queries(
    kernel: tuple[str | None, str], Q: np.ndarray, Qc: np.ndarray, qn, metric: str
) -> tuple[U8Queries | None, str]:
    """(queries packed for the uint8 kernel, "active"), or (None, why
    the numpy path runs): kernel is u8_kernel()'s pair; Q float64 (nq,
    d), Qc/qn as _query_side returns them.  The kernel scores l2 and ip
    (cos stays on numpy) for integer-valued queries whose per-query
    range max − min is ≤ 255 (they fit int8 after the offset — uint8
    and int8 query sets both do), and only while every int32
    intermediate stays exact."""
    path, status = kernel
    if path is None:
        return None, status
    try:
        fn = _u8_fn(path)
    except OSError as e:  # the driver's build is not on this host
        return None, f"load error: {e}"
    if metric == "cos":
        return None, "cos metric"
    nq, d = Q.shape
    if nq == 0 or not np.array_equal(Q, np.rint(Q)):
        return None, "non-integer queries"
    lo, hi = Q.min(axis=1), Q.max(axis=1)
    if (hi - lo).max() > 255:
        return None, "query range > 255"
    qmax = float(np.abs(Q).max())
    if 255.0 * d * (2.0 * qmax + 383.0) >= 2**31:
        return None, "int32 overflow"
    off = np.where((lo >= -128) & (hi <= 127), 0, lo + 128).astype(np.int32)
    nqp, dp = -(-nq // _U8_QT) * _U8_QT, -(-d // 4) * 4
    P = np.zeros((nqp, dp), np.int8)
    P[:nq, :d] = Q - off[:, None]
    qp = np.ascontiguousarray(P.reshape(nqp // _U8_QT, _U8_QT, dp // 4, 4).transpose(0, 2, 1, 3))
    offp = np.zeros(nqp, np.int32)
    offp[:nq] = off
    return U8Queries(fn, qp, offp, nq, nqp, d, int(metric == "l2"), Qc, qn), "active"


def gemm_topk(
    Q: np.ndarray,
    qn: np.ndarray | None,
    X: np.ndarray,
    xn: np.ndarray | None,
    metric: str,
    k: int,
    chunk: int = TOPK_BLOCK,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-row top-k of one (Q, X) block: a StreamTopK fed X's rows in
    `chunk`-row GEMM chunks.  Returns (idx (nq, kk) into X's rows,
    dist (nq, kk) float64), kk = min(k, len(X)), each row best-first by
    (dist, row index asc) — at a tied k-th distance the lowest row
    indices are kept."""
    acc = StreamTopK(Q.shape[0], k, metric)
    acc.scan(Q, qn, X, xn, np.arange(X.shape[0]), chunk)
    return acc.result()


def _row_payload_bytes(pdf: pd.DataFrame) -> int:
    """Estimated broadcast bytes per query row: 8 per scalar column, 8
    per element of a list/array column (qids + float64 query matrix is
    what the scan kernels actually broadcast).  List lengths are taken
    as the MAX over the first 16 rows (ADVICE r7): fixed-d vector
    columns are unaffected, while ragged columns (variable-length tag
    arrays) no longer let one short first row understate the budget."""
    if len(pdf) == 0:
        return 8
    total = 0
    sample = pdf.iloc[: min(len(pdf), 16)]
    for c in pdf.columns:
        col = sample[c]
        if isinstance(col.iloc[0], (list, tuple, np.ndarray)):
            total += 8 * max(
                (len(v) for v in col if v is not None), default=1
            )
        else:
            total += 8
    return max(total, 8)


def union_query_chunks_df(qdf: DataFrame, score_chunk, empty_schema: str) -> DataFrame:
    """Shared above-the-broadcast-cap contract for a query **DataFrame**:
    slice into chunks of ≤MAX_BROADCAST_QUERIES rows AND
    ≤BROADCAST_BYTES_BUDGET estimated broadcast bytes (rows × 8 per
    scalar/list element — so a 1536-d set chunks ~8× finer than a 192-d
    one), build one scored scan per chunk via `score_chunk(chunk_pdf)`,
    union the streams.  qids are disjoint across chunks, so any per-qid
    top-k downstream is identical to a single-shot run; executor memory
    stays bounded by one chunk's broadcast, and DRIVER memory by one
    chunk's rows.  Below both caps this is a single Arrow collect (one
    chunk — the unchanged fast path, probed with a limit(cap)); above
    the row cap, chunks stream through an Arrow-packed local iterator —
    each executor batch ships as ONE binary IPC blob, so the driver
    decodes columnar buffers instead of converting Rows one at a time
    (the r6 per-row tuple loop measured minutes of driver CPU per 1M-row
    chunk; this path builds a chunk in seconds) and never holds more
    than one chunk of query rows.  An empty query frame returns an empty
    typed DataFrame (`empty_schema`) instead of crashing in the kernel
    builder.

    Used by EVERY scan family — the vectorized k-NN join, the filtered
    scan, the PQ/SQ/IVF/IVF+PQ/IVF+SQ scans, and the tag-pair route —
    one implementation so the caps, streaming, and empty-input semantics
    cannot drift apart (they did once; see tests)."""
    import filter_vectordb_spark.operators.knn as _knn  # late-bound caps (tests patch them)

    spark = qdf.sparkSession
    cap = _knn.MAX_BROADCAST_QUERIES
    head = qdf.limit(cap).toPandas()
    if len(head) == 0:
        return spark.createDataFrame([], empty_schema)
    chunk_rows = int(
        min(cap, max(1, _knn.BROADCAST_BYTES_BUDGET // _row_payload_bytes(head)))
    )
    parts: list[DataFrame] = []
    if len(head) < cap:
        return pandas_query_chunks(head, score_chunk)
    del head  # above the row cap: re-stream the full set chunk-by-chunk

    def pack(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, batch.schema) as w:
                w.write_batch(batch)
            yield pa.RecordBatch.from_pydict(
                {"blob": pa.array([sink.getvalue().to_pybytes()], type=pa.binary())}
            )

    import pyarrow as pa

    packed = qdf.mapInArrow(pack, schema="blob binary")
    pend: list = []  # accumulated Arrow tables, < chunk_rows total
    npend = 0

    def flush() -> None:
        nonlocal pend, npend
        parts.append(score_chunk(pa.concat_tables(pend).to_pandas()))
        pend, npend = [], 0

    for row in packed.toLocalIterator(prefetchPartitions=True):
        t = pa.ipc.open_stream(row["blob"]).read_all()
        while npend + t.num_rows >= chunk_rows:
            take = chunk_rows - npend
            if take:
                pend.append(t.slice(0, take))
                npend += take
            flush()
            t = t.slice(take)
        if t.num_rows:
            pend.append(t)
            npend += t.num_rows
    if npend:
        flush()
    return _union_all(parts)


def pandas_query_chunks(pdf: pd.DataFrame, score_chunk) -> DataFrame:
    """Byte-cap slicing of an ALREADY-COLLECTED query frame: one
    score_chunk per ≤BROADCAST_BYTES_BUDGET slice (also ≤ the row cap),
    streams unioned.  Callers that hold the query batch driver-side
    anyway (the routed filtered k-NN) share the exact cap semantics of
    union_query_chunks_df through this."""
    import filter_vectordb_spark.operators.knn as _knn  # late-bound caps

    chunk_rows = int(
        min(
            _knn.MAX_BROADCAST_QUERIES,
            max(1, _knn.BROADCAST_BYTES_BUDGET // _row_payload_bytes(pdf)),
        )
    )
    if len(pdf) <= chunk_rows:
        return score_chunk(pdf)  # the unchanged single-shot fast path
    return _union_all(
        [
            score_chunk(pdf.iloc[lo : lo + chunk_rows].reset_index(drop=True))
            for lo in range(0, len(pdf), chunk_rows)
        ]
    )


def _union_all(parts: list[DataFrame]) -> DataFrame:
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def task_topk_merge(qids, ids, dists, k: int, largest: bool, col: str = "dist"):
    """Per-qid top-k over a task's (qid, id, dist) partials, kept in the
    downstream global merge's exact order (dist best-first, id asc).
    Returns an Arrow RecordBatch."""
    import pyarrow as pa

    sel, _ = _topk_per_group(qids, ids, -dists if largest else dists, k)
    return pa.RecordBatch.from_pydict({"qid": qids[sel], "id": ids[sel], col: dists[sel]})


class TaskPartials:
    """A scan task's one partial top-k — the partition-local half of the
    two-phase (partition top-k, global merge) skeleton every scan kernel
    shares.  Units, groups and batches add (qid, id, score) candidates;
    emit() yields the per-qid top-k once, at iterator end, so a task
    ships nq×k rows into the merge shuffle however much it scored.
    Pending rows are cut to the per-qid top-k once they pass
    max(65_536, 8·k·nq), which bounds per-task memory at O(nq·k + cap)
    (ADVICE r8: hot tags / large nprobe otherwise hold every candidate
    until iterator end).  The cut is exact under (score, id asc), so the
    emitted rows do not depend on when it runs.  Scores keep their
    dtype (the sparse kernel emits integer scores); `col` names the
    score column, `largest` its direction."""

    def __init__(self, k: int, nq: int, largest: bool, col: str = "dist"):
        self.k, self.largest, self.col = k, largest, col
        self._cap = max(65_536, 8 * k * nq)
        self._parts: list = []  # (qids, ids, vals) triples
        self._n = 0

    def add(self, qids: np.ndarray, ids: np.ndarray, vals: np.ndarray) -> None:
        """Offer flat (qid, id, score) triples."""
        if len(qids) == 0:
            return
        self._parts.append((qids, ids, vals))
        self._n += len(qids)
        if self._n > self._cap:
            q, i, v = self._pending()
            sel, _ = _topk_per_group(q, i, -v if self.largest else v, self.k)
            self._parts = [(q[sel], i[sel], v[sel])]
            self._n = len(sel)

    def add_topk(self, qids: np.ndarray, ids, idx: np.ndarray, vals: np.ndarray) -> None:
        """Offer a per-query selection: idx/vals (len(qids), kk) as
        gemm_topk / topk_blocked return them, idx indexing `ids`."""
        self.add(np.repeat(qids, idx.shape[1]), ids[idx].ravel(), vals.ravel())

    def _pending(self):
        return tuple(np.concatenate(a) for a in zip(*self._parts))

    def emit(self):
        """Zero or one RecordBatch (qid, id, col): the per-qid top-k,
        score best-first, then id ascending."""
        if self._parts:
            yield task_topk_merge(*self._pending(), self.k, self.largest, self.col)


def _balance(cost: list, nbins: int) -> list[list[int]]:
    """Longest-first greedy placement of units (by cost) into nbins bins:
    each unit, costliest first, goes to the least-loaded bin (ties: the
    bin with fewer units, then the lower index).  The bin that ends up
    heaviest was the lightest when it took its last unit, so max load ≤
    min load + the largest unit cost.  Returns per-bin unit indices in
    input order (file, row-group locality within a task)."""
    import heapq

    heap = [(0, 0, b) for b in range(nbins)]
    bins: list[list[int]] = [[] for _ in range(nbins)]
    for i in sorted(range(len(cost)), key=lambda j: -cost[j]):
        load, n, b = heapq.heappop(heap)
        bins[b].append(i)
        heapq.heappush(heap, (load + cost[i], n + 1, b))
    return [sorted(b) for b in bins]


class Scan(NamedTuple):
    """One route's share of a scan launch: its units (plain tuples), a
    per-unit placement cost (rows × queries where the route knows them),
    the payload its scoring body reads, and the body itself —
    serve(payload, units) yields Arrow batches of the launch's schema
    (its TaskPartials.emit())."""

    units: list
    cost: list
    payload: Any
    serve: Callable


def scan_units(spark, scans: list[Scan], out_schema: str) -> DataFrame:
    """The one direct-read scan launch: every scan's units in
    nparts = min(most units of any scan, defaultParallelism) Python
    tasks — one per core.  Each scan's units are placed into the nparts
    bins longest-first by its own cost (routes' costs are not
    comparable), `(payloads, bins)` is broadcast once, and
    `spark.range(0, nparts, 1, nparts)` starts the tasks: task p reads
    p from the `id` column and runs each scan's serve(payload, units)
    over that scan's bin p in turn, skipping empty bins.  Measured with
    an empty serve on a 4-core host (median of 5), a range launch costs
    0.34-0.36 s; shipping unit rows through parallelize → flatMap →
    createDataFrame costs 0.75 s (a Python worker for the rows plus one
    for serve), three such launches unioned 1.77 s — hence one launch
    for all of a batch's scans.  Scans with no units are dropped; when
    none is left the result is the typed empty `out_schema` frame,
    without a job."""
    scans = [s for s in scans if s.units]
    if not scans:
        return spark.createDataFrame([], out_schema)
    nparts = min(max(len(s.units) for s in scans), spark.sparkContext.defaultParallelism)
    placed = [_balance(s.cost, nparts) for s in scans]
    # bins[p][j]: scan j's unit tuples for task p, in input order
    bins = [[[s.units[i] for i in pl[p]] for s, pl in zip(scans, placed)] for p in range(nparts)]
    bc = spark.sparkContext.broadcast(([s.payload for s in scans], bins))
    serves = [s.serve for s in scans]  # the closure ships bodies only, payloads ride bc

    def run(it):
        payloads, bbins = bc.value
        for batch in it:
            for p in batch.column("id").to_pylist():
                for serve, payload, units in zip(serves, payloads, bbins[p]):
                    if units:
                        yield from serve(payload, iter(units))

    return spark.range(0, nparts, 1, nparts).mapInArrow(run, schema=out_schema)


#: planning grain of rg_units: units per core, so the longest-first
#: placement has pieces to balance with
UNITS_PER_CORE = 4

#: (path, mtime_ns, size) → per-row-group row counts — staged files are
#: immutable once written; per-batch footer re-reads measured ~0.4 s of
#: pure driver overhead on the filtered serving path
_RG_CACHE: dict = {}


def rg_rows(path: str) -> np.ndarray:
    """Row count of each row group of a parquet file (footer, cached)."""
    import os

    import pyarrow.parquet as pq

    st = os.stat(path)
    key = (path, st.st_mtime_ns, st.st_size)
    rows = _RG_CACHE.get(key)
    if rows is None:
        if len(_RG_CACHE) >= 4096:
            _RG_CACHE.clear()
        md = pq.ParquetFile(path).metadata
        rows = np.array(
            [md.row_group(i).num_rows for i in range(md.num_row_groups)], dtype=np.int64
        )
        _RG_CACHE[key] = rows
    return rows


def rg_units(spark, files: list[str]) -> list[tuple[str, int, int, int]]:
    """(path, rg_lo, rg_hi, rows) scan units, row-group-aligned (pyarrow
    reads row groups whole, so the units partition the rows exactly):
    ~4 units per core when row groups abound, one per row group
    otherwise — fine enough for scan_units to balance one task per
    core by rows."""
    counts = [(p, rg_rows(p)) for p in files]
    total_rg = sum(len(r) for _, r in counts)
    step = max(1, total_rg // (UNITS_PER_CORE * spark.sparkContext.defaultParallelism))
    return [
        (p, lo, min(lo + step, len(r)), int(r[lo : lo + step].sum()))
        for p, r in counts
        for lo in range(0, len(r), step)
    ]


def _order(metric: str):
    """l2: smaller is nearer; ip/cos: larger is nearer. Ties → id asc."""
    if metric == "l2":
        return [F.col("dist").asc(), F.col("id").asc()]
    return [F.col("dist").desc(), F.col("id").asc()]


def knn_join(
    queries: DataFrame,
    base: DataFrame,
    k: int,
    metric: str = "l2",
    strategy: str = "vectorized",
    q_id: str = "qid",
    q_vec: str = "qemb",
    b_id: str = "id",
    b_vec: str = "emb",
    compute_dtype: str = "float64",
    base_dir: str | None = None,
) -> DataFrame:
    """Returns (qid BIGINT, id BIGINT, dist DOUBLE, rank INT), rank 1..k.

    compute_dtype="float32" runs the BLAS block in single precision —
    about twice the float64 rate, with the absolute rate set by which
    OpenBLAS kernels load (single-thread f32 GEMM at 1024×192 · 192×2048
    measured 23-25 GFLOP/s on the SSE3 fallback, 108-141 on the AVX-512
    kernels session.get_spark selects for its workers) — and
    EXACT, not approximate, when both sides are
    integer-valued with |component| ≤ 255 and d ≤ 192: every product
    (≤ 65025) and every partial dot-product sum (≤ 192·65025 < 2²⁴) is
    an integer float32 represents exactly, so G == the float64 result
    bit-for-bit (asserted in tests/test_knn.py).  The distance assembly
    and emitted dist stay float64 either way.  Callers with genuine
    float embeddings must keep the float64 default.  Every base row is
    checked against that precondition before its cast (ValueError).

    Which kernel scores a block: when the decoded base block is uint8
    (the staged `fixed_size_binary` bases, or a raw BinaryType `emb`),
    the metric is l2 or ip, and the queries are integers whose
    per-query range max − min is ≤ 255, the compiled AVX-512 VNNI
    kernel (u8_scan.c) computes exact int32 dots and compares them with
    the running top-k threshold in registers — under either
    compute_dtype, since both are exact there.  Everything else (list
    bases, cos, real-valued queries, a host without avx512_vnni or gcc)
    runs the BLAS GEMM in compute_dtype.  Results are bit-identical
    whichever runs; u8_kernel() names the build status.

    base_dir (vectorized strategy only): path of the STAGED base's
    parquet directory, columns `id` and `emb`.  The scan then reads each
    file directly with pyarrow inside the tasks instead of shipping every
    vector over the executor↔Python Arrow socket per run — the
    serving-path cost model of index/ivf._direct_scan (VERDICT r7 #3:
    the 1M/10M exact anchors were Arrow-transfer-bound, ~0.8 GB of emb
    per run moving JVM→Python before any math; repeat runs now serve
    from the OS page cache).  `emb` may be any layout flatten_fixed_list
    decodes; the staged synth bases store it as uint8
    `fixed_size_binary(d)` (parquet FIXED_LEN_BYTE_ARRAY(d), written by
    queries/fixtures._write_u8_base), which reads as d plain bytes per
    row with no list decode.  Results are identical to the DataFrame
    scan — the same kernel runs over the same values; `base` must be
    that staged table (it still supplies the session and the b_id/b_vec
    schema).  strategy="expr" needs a Spark array `emb` and raises
    ValueError on a binary one."""
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    q = queries.select(F.col(q_id).alias("qid"), F.col(q_vec).alias("qemb"))
    b = base.select(F.col(b_id).alias("id"), F.col(b_vec).alias("emb"))
    if strategy == "expr":
        if dict(b.dtypes)["emb"] == "binary":
            raise ValueError(
                f"strategy='expr' scores Spark arrays; {b_vec!r} is binary (a staged "
                "uint8 base) — use strategy='vectorized', which decodes it"
            )
        scored = _score_expr(q, b, metric)
    elif strategy == "vectorized":
        scored = _score_vectorized(q, b, metric, k, compute_dtype, base_dir)
    else:
        raise ValueError(f"unknown strategy {strategy!r}")
    return per_group_topk(scored, ["qid"], _order(metric), k).select(
        "qid", "id", "dist", "rank"
    )


def _score_expr(q: DataFrame, b: DataFrame, metric: str) -> DataFrame:
    """Broadcast-nested-loop scoring with a whole-stage-codegen'd distance
    expression. Exact; used as the in-engine oracle for approximate plans."""
    a, c = F.col("qemb"), F.col("emb")
    expr = {"l2": l2_sq, "ip": dot, "cos": cosine_sim}[metric](a, c)
    return b.crossJoin(F.broadcast(q)).select("qid", "id", expr.alias("dist"))


def _score_vectorized(
    q: DataFrame,
    b: DataFrame,
    metric: str,
    k: int,
    compute_dtype: str = "float64",
    base_dir: str | None = None,
) -> DataFrame:
    """Arrow-batched numpy kernel: per-task partial top-k, distances in
    float64 (see knn_join for when the float32 BLAS block stays exact).

    Only the partial top-k (nq×k rows per task) leaves the scan stage —
    the W3 two-phase merge pattern (SURVEY.md §2.5).

    Above the broadcast cap the query set is sliced into ≤cap chunks, each
    scored by its own scan, and the scored streams unioned — qids are
    disjoint across chunks, so the per-qid top-k downstream is identical
    to a single-shot run.  Memory per executor stays bounded by one
    chunk's broadcast matrix AND driver memory by one chunk's rows
    (union_query_chunks_df streams chunks); total work is nq×N either
    way (that is the semantics, not an artifact of chunking).
    """
    if base_dir is not None:
        return union_query_chunks_df(
            q,
            lambda ch: _score_vectorized_chunk_direct(
                ch, b.sparkSession, base_dir, metric, k, compute_dtype
            ),
            "qid LONG, id LONG, dist DOUBLE",
        )
    return union_query_chunks_df(
        q,
        lambda ch: _score_vectorized_chunk(ch, b, metric, k, compute_dtype),
        "qid LONG, id LONG, dist DOUBLE",
    )


def _f32_exact_ok(Q: np.ndarray) -> bool:
    """The documented exactness precondition (knn_join) on a query
    block: the f32 GEMM is bit-exact only for integer components,
    |v| ≤ 255, d ≤ 192.  One pass over the block."""
    return Q.shape[1] <= 192 and bool(
        np.abs(Q).max(initial=0.0) <= 255 and np.array_equal(Q, np.rint(Q))
    )


def _check_f32_queries(Q: np.ndarray) -> None:
    """Enforce _f32_exact_ok on the query side of a float32 knn_join;
    the base side is checked per block before its cast
    (_check_f32_base)."""
    if not _f32_exact_ok(Q):
        raise ValueError(
            "compute_dtype='float32' requires integer-valued vectors "
            "with |component| <= 255 and d <= 192 (exactness "
            "precondition); use the float64 default for real-valued "
            "embeddings"
        )


def _score_vectorized_chunk(
    qpdf, b: DataFrame, metric: str, k: int, compute_dtype: str = "float64"
) -> DataFrame:
    """Scores arrive in (nq, nb) orientation — G = Q @ Xᵀ lands
    C-contiguous per query row, so the per-row top-k runs on contiguous
    memory with NO transposed copy (the (nb, nq) orientation needed an
    ascontiguousarray(-D.T) that measured 96s per 2 GB on this host's
    memory system — worse than the GEMM it followed).  One StreamTopK
    per task over all of its Arrow batches, one partial per task."""
    dt = np.dtype(compute_dtype)
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    if dt == np.float32:
        _check_f32_queries(Q)
    bc = b.sparkSession.sparkContext.broadcast((qids, Q, u8_kernel()))

    def score_batches(it):
        bqids, bQ, kernel = bc.value
        acc = StreamTopK(len(bqids), k, metric)
        Qc, qfac, u8 = _query_side(bQ, metric, dt, kernel)
        for batch in it:
            nb = batch.num_rows
            if nb == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False)
            _push_block(acc, Qc, qfac, u8, ids, flatten_fixed_list(batch.column("emb"), nb))
        yield from _acc_partial(acc, bqids)

    return b.mapInArrow(score_batches, schema="qid long, id long, dist double")


def _query_side(bQ: np.ndarray, metric: str, dt, kernel):
    """(Q in the compute dtype, its norm factor: float64 squared norms
    for l2, norms for cos, None for ip; the queries packed for the
    uint8 kernel, or None)."""
    qn64 = (bQ * bQ).sum(axis=1)  # float64 always — distance assembly
    Qc, qfac = bQ.astype(dt), {"l2": qn64, "ip": None, "cos": np.sqrt(qn64)}[metric]
    return Qc, qfac, pack_u8_queries(kernel, bQ, Qc, qfac, metric)[0]


def _norm_factor(X: np.ndarray, metric: str):
    """Base-side twin of _query_side's norm factor, float64."""
    if metric == "ip":
        return None
    Xf = X if X.dtype == np.float64 else X.astype(np.float64)
    xn = (Xf * Xf).sum(axis=1)
    return xn if metric == "l2" else np.sqrt(xn)


def _check_f32_base(X: np.ndarray) -> None:
    """The base side of the f32 exactness precondition (knn_join), over
    every decoded row: uint8 needs no check, other integer dtypes one
    min/max pass, floats the full integrality check."""
    if X.dtype == np.uint8 or X.size == 0:
        return
    if X.dtype.kind in "iu":
        ok = X.min() >= -255 and X.max() <= 255
    else:
        ok = np.abs(X).max() <= 255 and np.array_equal(X, np.rint(X))
    if not ok:
        raise ValueError(
            "compute_dtype='float32' exactness precondition "
            "violated by base vectors (non-integer or |v| > 255)"
        )


def _push_block(acc: StreamTopK, Qc, qfac, u8, ids, X) -> None:
    """Shared per-block scan body of the DataFrame and direct-read
    vectorized paths over decoded base rows X in their stored dtype:
    the uint8 kernel when X is uint8 and the task's queries were packed
    for it (u8), else the f32 exactness check, the cast to the compute
    dtype, norm factors and fused GEMM + push."""
    ids = ids.astype(np.int64, copy=False)
    if u8 is not None and X.dtype == np.uint8:
        acc.scan_u8(u8, X, ids)
        return
    if Qc.dtype == np.float32:
        _check_f32_base(X)
    X = X.astype(Qc.dtype, copy=False)
    acc.scan(Qc, qfac, X, _norm_factor(X, acc.metric), ids)


def _acc_partial(acc: StreamTopK, bqids: np.ndarray):
    """A task's one partial: its accumulator's per-query top-k as the
    TaskPartials rows (zero or one batch)."""
    idx, dist = acc.result()
    out = TaskPartials(acc.k, len(bqids), acc.larger)
    out.add(np.repeat(bqids, idx.shape[1]), idx.ravel(), dist.ravel())
    return out.emit()


def _score_vectorized_chunk_direct(
    qpdf, spark, base_dir: str, metric: str, k: int, compute_dtype: str = "float64"
) -> DataFrame:
    """Direct-read twin of _score_vectorized_chunk (VERDICT r7 #3): the
    units are the staged base's (file, row-group range) slices
    (driver-side glob + footers — metadata only); each task opens its
    files with pyarrow straight from shared storage, so vectors move
    disk/page-cache → Python once with no JVM Arrow hop, and repeat runs
    serve from the OS page cache — the same resident-data cost model as
    the IVF × codec direct serving path (index/ivf._direct_scan,
    where the POSIX-path caveat lives).  One task per core
    (scan_units, balanced by rows): each task carries one StreamTopK
    across all of its units and emits one partial."""
    import glob as _glob

    if "://" in base_dir:
        raise ValueError(
            "base_dir must be a local/shared-filesystem path; URI schemes "
            f"are not supported by the direct-read path: {base_dir!r}"
        )
    files = sorted(_glob.glob(f"{base_dir}/*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet files under {base_dir}")
    dt = np.dtype(compute_dtype)
    qids = qpdf["qid"].to_numpy(dtype=np.int64)
    Q = np.stack(qpdf["qemb"].to_numpy()).astype(np.float64)
    if dt == np.float32:
        _check_f32_queries(Q)

    def serve(payload, units):
        import pyarrow.parquet as pq

        bqids, bQ, kernel = payload
        acc = StreamTopK(len(bqids), k, metric)
        Qc, qfac, u8 = _query_side(bQ, metric, dt, kernel)
        for path, lo, hi in units:
            tbl = pq.ParquetFile(path).read_row_groups(
                list(range(lo, hi)), columns=["id", "emb"]
            )
            n = tbl.num_rows
            if n == 0:
                continue
            ids = tbl.column("id").to_numpy(zero_copy_only=False)
            _push_block(acc, Qc, qfac, u8, ids, flatten_fixed_list(tbl.column("emb"), n))
        yield from _acc_partial(acc, bqids)

    units = rg_units(spark, files)
    payload = (qids, Q, u8_kernel())
    return scan_units(
        spark,
        [Scan([u[:3] for u in units], [u[3] for u in units], payload, serve)],
        "qid long, id long, dist double",
    )


#: rows per float64 slice of pairwise_scores' kernel: bounds its
#: temporaries (Q, X and their products) to a few MB at 192-d instead of
#: ~600 MB for a 65,536-row Arrow batch
PAIRWISE_SLICE_ROWS = 8192


def pairwise_scores(
    df: DataFrame, metric: str = "l2", q_vec: str = "qemb", b_vec: str = "emb"
) -> DataFrame:
    """(qid, id, dist): row-aligned exact scores over candidate pairs via
    an Arrow kernel — each row carries its own query vector (the
    candidate-join shape), so this is an elementwise batch op, not a
    matrix product.  metric ∈ METRICS with the J3 semantics (l2 = L2²
    ascending-better, ip/cos descending-better).

    Use this instead of the distance expressions when candidate volume is
    large: Catalyst evaluates higher-order array lambdas interpreted
    (outside whole-stage codegen), which at ~10⁶ pairs × 192-d is minutes
    where the numpy kernel is milliseconds.
    """
    if metric not in METRICS:
        raise ValueError(f"metric must be one of {METRICS}")
    step = PAIRWISE_SLICE_ROWS

    def kern(it):
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            Qb = flatten_fixed_list(batch.column(q_vec), n)
            Xb = flatten_fixed_list(batch.column(b_vec), n)
            d = np.empty(n, dtype=np.float64)
            # float64 temporaries for `step` rows at a time, not the whole
            # batch; each row's sum is its own, so the slicing does not
            # change a bit of the scores
            for lo in range(0, n, step):
                sl = slice(lo, lo + step)
                Q, X = Qb[sl].astype(np.float64), Xb[sl].astype(np.float64)
                if metric == "l2":
                    d[sl] = ((Q - X) ** 2).sum(axis=1)
                elif metric == "ip":
                    d[sl] = (Q * X).sum(axis=1)
                else:  # cos
                    d[sl] = (Q * X).sum(axis=1) / (
                        np.sqrt((Q * Q).sum(axis=1)) * np.sqrt((X * X).sum(axis=1))
                    )
            yield pa.RecordBatch.from_arrays(
                [batch.column("qid"), batch.column("id"), pa.array(d)], ["qid", "id", "dist"]
            )

    return df.select("qid", "id", q_vec, b_vec).mapInArrow(
        kern, schema="qid long, id long, dist double"
    )


def topk_as_arrays(result: DataFrame, k: int, pad: bool = True) -> DataFrame:
    """Collapse (qid, id, rank) rows into the reference's result-matrix form
    (qid, neighbors ARRAY<BIGINT>), ascending by rank, padded to k with -1
    (`bindings.cpp:787-789` pads with sentinel ids)."""
    arr = F.transform(
        F.array_sort(
            F.collect_list(F.struct(F.col("rank"), F.col("id")))
        ),
        lambda s: s["id"],
    )
    out = result.groupBy("qid").agg(arr.alias("neighbors"))
    if pad:
        pad_arr = F.array_repeat(F.lit(-1).cast("long"), k)
        out = out.withColumn(
            "neighbors",
            F.slice(F.concat(F.col("neighbors"), pad_arr), 1, k),
        )
    return out
