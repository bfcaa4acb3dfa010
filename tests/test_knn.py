"""Property tests for the k-NN join and filtered k-NN operators, mirroring
the reference's runtime invariants (SURVEY.md §5: k results, sorted
distances, predicate satisfied, -1 padding)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from filter_vectordb_spark.operators.filtered_knn import filtered_knn
from filter_vectordb_spark.operators.knn import knn_join, topk_as_arrays
from filter_vectordb_spark.sources.vectors import dense_queries, dense_vectors
from tests.conftest import SF_DIR

K = 10


@pytest.fixture(scope="module")
def base(spark):
    return dense_vectors(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def queries(spark):
    return dense_queries(spark, SF_DIR).cache()


def test_strategies_agree(spark, base, queries):
    a = knn_join(queries, base, K, strategy="vectorized").select("qid", "rank", "id")
    b = knn_join(queries, base, K, strategy="expr").select("qid", "rank", "id")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.mark.parametrize("metric", ["l2", "ip", "cos"])
def test_k_results_sorted(spark, base, queries, metric):
    res = knn_join(queries, base, K, metric=metric).toPandas()
    for qid, grp in res.groupby("qid"):
        assert len(grp) == K
        d = grp.sort_values("rank")["dist"].to_numpy()
        if metric == "l2":
            assert (d[:-1] <= d[1:]).all()
        else:
            assert (d[:-1] >= d[1:]).all()


def test_filtered_results_satisfy_predicate(spark, base, queries):
    res = filtered_knn(queries, base, K)
    joined = (
        res.join(base.select("id", "tags"), "id")
        .join(queries.select("qid", "qtags"), "qid")
        .withColumn("ok", F.size(F.array_intersect("tags", "qtags")) == F.size("qtags"))
    )
    assert joined.filter(~F.col("ok")).count() == 0


def test_padding_rule(spark, base, queries):
    res = knn_join(queries, base, 3)
    arrs = topk_as_arrays(res.filter(F.col("rank") <= 2), 3).toPandas()
    for row in arrs.itertuples():
        assert len(row.neighbors) == 3
        assert row.neighbors[-1] == -1  # padded (`bindings.cpp:787-789`)


def test_vectorized_chunks_above_broadcast_cap(spark, base, queries, monkeypatch):
    """Above the broadcast cap the query set is sliced and unioned — results
    must be identical to the single-shot run (VERDICT r3 'What's wrong' #3)."""
    from filter_vectordb_spark.operators import knn as knn_mod

    want = knn_join(queries, base, K, strategy="vectorized").select(
        "qid", "rank", "id"
    )
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 3)  # 8 queries → 3 chunks
    got = knn_join(queries, base, K, strategy="vectorized").select("qid", "rank", "id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_filtered_scan_chunks_above_broadcast_cap(spark, base, queries, monkeypatch):
    from filter_vectordb_spark.operators import knn as knn_mod
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan

    want = filtered_knn_scan(queries, base, K).select("qid", "rank", "id")
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 3)
    got = filtered_knn_scan(queries, base, K).select("qid", "rank", "id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_byte_budget_chunks_high_dim_queries(spark, base, queries, monkeypatch):
    """VERDICT r6 #3: the broadcast cap is byte-aware — a query set whose
    rows × d × 8 exceeds BROADCAST_BYTES_BUDGET must chunk-and-union even
    below the row cap, with results identical to the single-shot run.
    The fixture queries are 16-d float64 ≈ 136 B/row; a 500-byte budget
    forces ~3-row chunks while MAX_BROADCAST_QUERIES stays at 1M."""
    from filter_vectordb_spark.operators import knn as knn_mod

    want = knn_join(queries, base, K, strategy="vectorized").select(
        "qid", "rank", "id"
    )
    monkeypatch.setattr(knn_mod, "BROADCAST_BYTES_BUDGET", 500)
    got = knn_join(queries, base, K, strategy="vectorized").select("qid", "rank", "id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_float32_compute_exact_on_integer_vectors(spark):
    """compute_dtype="float32" must be bit-exact on integer-valued uint8
    vectors (products ≤ 65025, partial sums < 2²⁴ — every intermediate is
    a float32-representable integer), for all three metrics' rankings and
    for l2/ip distances (knn_join docstring contract)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base_rows = [(i, rng.randint(0, 251, 192).tolist()) for i in range(400)]
    q_rows = [(i, rng.randint(0, 251, 192).tolist()) for i in range(6)]
    base = spark.createDataFrame(base_rows, "id LONG, emb ARRAY<INT>")
    qs = spark.createDataFrame(q_rows, "qid LONG, qemb ARRAY<INT>")
    for metric in ("l2", "ip"):
        want = (
            knn_join(qs, base, K, metric=metric)
            .orderBy("qid", "rank")
            .collect()
        )
        got = (
            knn_join(qs, base, K, metric=metric, compute_dtype="float32")
            .orderBy("qid", "rank")
            .collect()
        )
        assert [tuple(r) for r in got] == [tuple(r) for r in want], metric


def test_topk_blocked_matches_argpartition_set():
    """Blocked selection returns exactly the k smallest per row (as a
    set — ordering is the global merge's job) on widths straddling the
    block size, including ragged final blocks and nc <= k."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import topk_blocked

    rng = np.random.RandomState(3)
    for nc in (5, 17, 2048, 2049, 5000):
        key = rng.permutation(nc * 7).reshape(7, nc).astype(np.float64)
        got = topk_blocked(key, 10, block=16)
        want = np.sort(key, axis=1)[:, : min(10, nc)]
        got_vals = np.sort(np.take_along_axis(key, got, axis=1), axis=1)
        assert np.array_equal(got_vals, want), nc


def test_filtered_knn_null_qtags_routes_to_scan(spark, base, queries):
    """ADVICE r7: a null qtags array (None after toPandas) must route
    like the empty conjunction — scan branch, no predicate — in BOTH the
    driver-side router and the scan kernel, not raise TypeError."""
    q_null = queries.select(
        "qid", "qemb", F.lit(None).cast("array<int>").alias("qtags")
    )
    got = filtered_knn(q_null, base, K).select("qid", "rank", "id")
    # no predicate ≡ unfiltered exact k-NN
    want = knn_join(queries, base, K).select("qid", "rank", "id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


def test_row_payload_bytes_samples_ragged_rows():
    """ADVICE r7: the broadcast byte estimate must not be fooled by a
    short first row of a ragged list column — it samples the first 16
    rows and takes the max list length."""
    import pandas as pd

    from filter_vectordb_spark.operators.knn import _row_payload_bytes

    ragged = pd.DataFrame(
        {
            "qid": range(4),
            "qemb": [[1.0], [1.0] * 100, [1.0] * 50, [1.0] * 100],
        }
    )
    assert _row_payload_bytes(ragged) == 8 + 8 * 100


def test_knn_join_direct_read_equals_dataframe_path(spark, tmp_path):
    """base_dir (the direct pyarrow file read, VERDICT r7 #3) must
    return the exact rows of the DataFrame scan — same kernel over the
    same rows, across metrics and compute dtypes — over a Spark-written
    list base and over the uint8 fixed-size-binary base _write_u8_base
    stages: the direct read of its files and the DataFrame route over
    its raw BinaryType read.  strategy="expr" refuses the binary frame
    by name."""
    from filter_vectordb_spark.queries.fixtures import _write_u8_base
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base

    src = synth_uint8_base(spark, n=3000).select("id", "emb")
    out = str(tmp_path / "staged_base")
    src.repartition(5).write.parquet(out)
    staged = spark.read.parquet(out)
    u8 = str(tmp_path / "staged_u8")
    _write_u8_base(src, u8, 5)
    raw = spark.read.parquet(u8)
    assert raw.schema.simpleString() == "struct<id:bigint,emb:binary>"
    q = synth_queries(spark, nq=12).select("qid", "qemb")
    with pytest.raises(ValueError, match=r"'emb' is binary.*strategy='vectorized'"):
        knn_join(q, raw, K, strategy="expr")
    for metric, dtype in (("l2", "float64"), ("ip", "float32"), ("cos", "float64")):
        want = knn_join(
            q, staged, K, metric=metric, compute_dtype=dtype
        ).select("qid", "rank", "id", "dist")
        for b, d in ((staged, out), (raw, u8), (raw, None)):
            got = knn_join(
                q, b, K, metric=metric, compute_dtype=dtype, base_dir=d
            ).select("qid", "rank", "id", "dist")
            assert got.exceptAll(want).count() == 0, (metric, dtype, d)
            assert want.exceptAll(got).count() == 0, (metric, dtype, d)


def test_flatten_fixed_list_decodes_every_dense_layout():
    """The one dense decoder: equal values on every layout, slices
    (offset != 0), multi-chunk and zero-row inputs; the binary layouts
    come back as uint8 views of the Arrow data buffer (no copy)."""
    import numpy as np
    import pyarrow as pa

    from filter_vectordb_spark.operators.knn import flatten_fixed_list

    X = ((np.arange(35) * 37) % 256).astype(np.uint8).reshape(7, 5)
    rows = [list(map(int, r)) for r in X]
    raw = [bytes(r) for r in X]
    fsb = pa.FixedSizeBinaryArray.from_buffers(pa.binary(5), 7, [None, pa.py_buffer(X)])
    # (layout, array of X's rows, decoded as a uint8 view of its data buffer)
    layouts = [
        ("list<int32>", pa.array(rows, pa.list_(pa.int32())), False),
        ("fixed_size_list", pa.array(rows, pa.list_(pa.int32(), 5)), False),
        ("fixed_size_binary", fsb, True),
        ("binary", pa.array(raw, pa.binary()), True),
        ("large_binary", pa.array(raw, pa.large_binary()), True),
    ]
    for name, arr, view in layouts:
        got = flatten_fixed_list(arr, 7)
        np.testing.assert_array_equal(got, X, err_msg=name)
        sl = flatten_fixed_list(arr.slice(2, 4), 4)
        np.testing.assert_array_equal(sl, X[2:6], err_msg=name)
        ch = pa.chunked_array([arr.slice(0, 3), arr.slice(3, 4)])
        np.testing.assert_array_equal(flatten_fixed_list(ch, 7), X, err_msg=name)
        one = pa.chunked_array([arr.slice(1, 5)])
        np.testing.assert_array_equal(flatten_fixed_list(one, 5), X[1:6], err_msg=name)
        assert flatten_fixed_list(arr.slice(0, 0), 0).shape[0] == 0, name
        if view:
            data = np.frombuffer(arr.buffers()[-1], np.uint8)
            for a in (got, sl, flatten_fixed_list(one, 5)):
                assert a.dtype == np.uint8, name
                assert np.shares_memory(a, data), name
        else:
            assert got.dtype == np.int32, name
    assert flatten_fixed_list(fsb.slice(0, 0), 0).shape == (0, 5)


def test_flatten_fixed_list_refuses_ragged_vectors():
    import pyarrow as pa

    from filter_vectordb_spark.operators.knn import flatten_fixed_list

    # equal total length (4 values over 2 rows) must not pass as d = 2
    for arr in (
        pa.array([[1], [2, 3, 4]], pa.list_(pa.int32())),
        pa.array([b"a", b"bcd"], pa.binary()),
        pa.array([b"a", b"bcd"], pa.large_binary()),
        pa.array([b"ab", None], pa.binary()),
    ):
        with pytest.raises(ValueError):
            flatten_fixed_list(arr, 2)


def test_write_u8_base_refuses_values_uint8_cannot_store(spark, tmp_path):
    """A block holding a non-integer or a value outside 0..255 raises
    ValueError naming emb and the smallest offending id — never a silent
    wrap into uint8 — and leaves no staged directory behind."""
    import os

    from filter_vectordb_spark.queries.fixtures import _write_u8_base

    cases = (
        ("ARRAY<INT>", {17: [1, 256, 3], 40: [-1, 0, 0]}, 17),
        ("ARRAY<DOUBLE>", {63: [1.0, 2.5, 3.0]}, 63),
    )
    for typ, bad, first in cases:
        cast = float if "DOUBLE" in typ else int
        rows = [(i, [cast(v) for v in bad.get(i, [i % 256, 0, 255])]) for i in range(64)]
        df = spark.createDataFrame(rows, f"id BIGINT, emb {typ}")
        out = str(tmp_path / f"bad_{first}")
        with pytest.raises(ValueError, match=rf"emb: id {first}\b"):
            _write_u8_base(df, out, 4)
        assert not os.path.exists(out)


def test_stale_list_base_restages_to_uint8(spark, tmp_path, monkeypatch):
    """A cache holding the Spark-written list format passes the file
    count alone; the footer check restages it to fixed_size_binary(d)
    once, and the restaged base is served without a second write."""
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    from filter_vectordb_spark.queries import fixtures as fx
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    monkeypatch.setattr(
        fx, "_index_cache_dir", lambda key, kind: str(tmp_path / key / kind)
    )
    out = str(tmp_path / "synth100k_v2" / "base")
    fx._write_base(synth_uint8_base(spark, n=2000).select("id", "emb"), out, 32)

    def emb_type():
        return pq.read_schema(sorted(glob.glob(f"{out}/*.parquet"))[0]).field("emb").type

    assert pa.types.is_list(emb_type())
    writes = []
    real = fx._write_u8_base
    monkeypatch.setattr(
        fx, "_write_u8_base", lambda *a: (writes.append(a[1]), real(*a))
    )
    first = fx._synth100k_base(spark)
    assert writes == [out] and emb_type() == pa.binary(192)
    second = fx._synth100k_base(spark)
    assert writes == [out]
    assert second.schema.simpleString() == "struct<id:bigint,emb:binary>"
    assert second.count() == first.count() == 100_000


def test_knn_join_direct_read_rejects_bad_paths(spark, tmp_path):
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base

    out = str(tmp_path / "staged_base2")
    synth_uint8_base(spark, n=100).select("id", "emb").write.parquet(out)
    staged = spark.read.parquet(out)
    q = synth_queries(spark, nq=2).select("qid", "qemb")
    with pytest.raises(Exception, match="URI schemes"):
        knn_join(q, staged, K, base_dir="s3://bucket/x").count()
    with pytest.raises(Exception, match="no parquet files"):
        knn_join(q, staged, K, base_dir=str(tmp_path / "nope")).count()


def test_gemm_topk_threshold_pruning_matches_bruteforce():
    """The threshold-pruned selection (r8) must return exactly the k
    best per row on distinct-valued inputs across metrics and dtypes,
    with nb >> chunk so the pruned path and its periodic consolidation
    actually run (chunk=64 forces ~30 threshold chunks and, with
    cap ≈ 4·nq·k, several mid-stream merges)."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import gemm_topk

    rng = np.random.RandomState(11)
    nq, nb, d, k = 7, 2000, 24, 10
    Q64 = rng.rand(nq, d) * 10
    X64 = rng.rand(nb, d) * 10
    for metric in ("l2", "ip", "cos"):
        qn64 = (Q64 * Q64).sum(1)
        xn64 = (X64 * X64).sum(1)
        qn = {"l2": qn64, "ip": None, "cos": np.sqrt(qn64)}[metric]
        xn = {"l2": xn64, "ip": None, "cos": np.sqrt(xn64)}[metric]
        idx, dist = gemm_topk(Q64, qn, X64, xn, metric, k, chunk=64)
        G = Q64 @ X64.T
        if metric == "l2":
            D = qn64[:, None] - 2.0 * G + xn64[None, :]
            want = np.sort(D, axis=1)[:, :k]
            got = np.sort(dist, axis=1)
        else:
            D = G if metric == "ip" else G / (np.sqrt(qn64)[:, None] * np.sqrt(xn64)[None, :])
            want = -np.sort(-D, axis=1)[:, :k]
            got = -np.sort(-dist, axis=1)
        assert np.allclose(got, want, rtol=0, atol=1e-9), metric
        # indices must actually point at those values
        rowv = np.take_along_axis(D, idx, axis=1)
        assert np.allclose(np.sort(rowv, axis=1), np.sort(dist, axis=1)), metric


def test_gemm_topk_threshold_keeps_boundary_ties_f32():
    """f32 scores with many exact boundary ties: the pruned path's
    candidate pool must include tied values (>= / <= compare), so the
    selected VALUE multiset equals brute force even when the k-th place
    ties broadly — and the selected (id, dist) set is the exact
    (dist, id asc) one across chunk sizes and streamed units."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import StreamTopK, gemm_topk

    rng = np.random.RandomState(5)
    nq, nb, d, k = 4, 1500, 8, 10
    # coarse integer grid → massive score collisions, f32-exact
    Q = rng.randint(0, 4, size=(nq, d)).astype(np.float32)
    X = rng.randint(0, 4, size=(nb, d)).astype(np.float32)
    idx, dist = gemm_topk(Q, None, X, None, "ip", k, chunk=128)
    D = Q.astype(np.float64) @ X.astype(np.float64).T
    for qi in range(nq):
        want = -np.sort(-D[qi])[:k]
        assert np.array_equal(-np.sort(-dist[qi]), want), qi

    # exact (dist, id asc) selection: a tie at the k-th distance keeps
    # the lowest ids, whatever the chunking or the unit grouping
    def pairs(ids, vals):
        return [sorted(zip(i.tolist(), v.tolist())) for i, v in zip(ids, vals)]

    want_ids = np.array([np.lexsort((np.arange(nb), -D[qi]))[:k] for qi in range(nq)])
    want = pairs(want_ids, np.take_along_axis(D, want_ids, axis=1))
    assert any(
        (D[qi] == D[qi, want_ids[qi, -1]]).sum() > (D[qi, want_ids[qi]] == D[qi, want_ids[qi, -1]]).sum()
        for qi in range(nq)
    )  # some row really has ties cut at the boundary
    assert pairs(idx, dist) == want
    assert pairs(*gemm_topk(Q, None, X, None, "ip", k, chunk=37)) == want
    acc = StreamTopK(nq, k, "ip")
    for lo, hi in ((1000, nb), (0, 400), (400, 1000)):  # three units, any order
        acc.scan(Q, None, X[lo:hi], None, np.arange(lo, hi), chunk=128)
    assert pairs(*acc.result()) == want


def test_stream_topk_seed_holds_until_first_merge():
    """An empty accumulator seeds its threshold from the k-th best of
    the first block's first SEED_COLS columns and keeps it until a merge
    tightens it, so later blocks add only their few better scores as
    candidates (a dropped seed let a whole second block through)."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import SEED_COLS, StreamTopK

    rng = np.random.RandomState(2)
    D = rng.rand(64, 2048)
    acc = StreamTopK(64, 10, "l2")
    acc.push(D, np.arange(2048))
    assert np.array_equal(acc.thr, np.sort(D[:, :SEED_COLS], axis=1)[:, 9])
    acc.push(rng.rand(64, 2048), np.arange(2048, 4096))
    assert acc._npend < 64 * 2048 // 4


def test_task_partials_equivalence(monkeypatch):
    """ADVICE r8 (low): a task's TaskPartials emits exactly the per-qid
    top-k one task_topk_merge over all of its rows selects — for either
    score direction, integer or float scores, any score column name, and
    whether its pending rows were compacted zero, one or several times;
    compaction bounds the pending rows, and under the cap nothing is
    concatenated."""
    import numpy as np

    from filter_vectordb_spark.operators import knn
    from filter_vectordb_spark.operators.knn import TaskPartials, task_topk_merge

    cuts = []

    def counted(*a):
        cuts.append(1)
        return real(*a)

    real = knn._topk_per_group
    monkeypatch.setattr(knn, "_topk_per_group", counted)
    rng = np.random.default_rng(11)
    qs = [rng.integers(0, 8, size=500).astype(np.int64) for _ in range(4)]
    is_ = [rng.integers(0, 10_000, size=500).astype(np.int64) for _ in range(4)]
    scores = {
        "float": [rng.random(500) for _ in range(4)],
        # few distinct values: ties at the k-th score resolve by id asc
        "int": [rng.integers(0, 50, size=500).astype(np.int64) for _ in range(4)],
    }
    for kind, largest, col in (
        ("float", False, "dist"),
        ("int", True, "score"),
        ("float", True, "adist"),
    ):
        ds = scores[kind]
        ref = task_topk_merge(
            np.concatenate(qs), np.concatenate(is_), np.concatenate(ds), 10, largest, col
        )
        assert ref.schema.names == ["qid", "id", col]
        assert str(ref.column(col).type) == ("int64" if kind == "int" else "double")
        for cap, ncuts in ((10**9, 0), (1500, 1), (100, 4)):
            acc = TaskPartials(10, 8, largest, col)
            acc._cap = cap
            cuts.clear()
            for j in range(4):
                acc.add(qs[j], is_[j], ds[j])
                assert acc._n == sum(len(p[0]) for p in acc._parts) <= cap
            assert len(cuts) == ncuts, (kind, cap)
            if ncuts == 0:  # under the cap: identity, no concatenation
                assert len(acc._parts) == 4
            (got,) = acc.emit()
            assert got.equals(ref), (kind, col, cap)
    # the index-matrix form adds the same triples as the flat form
    idx = np.array([[2, 0], [1, 3]])
    vals = np.array([[0.5, 0.7], [0.1, 0.2]])
    a, b = TaskPartials(2, 2, False), TaskPartials(2, 2, False)
    a.add_topk(np.array([7, 9]), np.array([10, 11, 12, 13]), idx, vals)
    b.add(np.array([7, 7, 9, 9]), np.array([12, 10, 11, 13]), vals.ravel())
    assert next(a.emit()).equals(next(b.emit()))
    assert list(TaskPartials(10, 8, False).emit()) == []


def test_scan_units_one_task_per_core_balanced(spark):
    """scan_units serves every unit exactly once in
    min(n, defaultParallelism) tasks, placed longest-first by cost, so
    the heaviest task exceeds the lightest by at most one unit's cost;
    with two scans, bin p of each runs in task p; no units give the
    typed empty frame."""
    import numpy as np
    import pyarrow as pa

    from filter_vectordb_spark.operators.knn import Scan, scan_units

    dp = spark.sparkContext.defaultParallelism
    rng = np.random.RandomState(1)
    schema = "scan INT, part INT, i INT"

    def serve(tag, units):
        from pyspark import TaskContext

        ids = [u[0] for u in units]
        p = TaskContext.get().partitionId()
        yield pa.RecordBatch.from_pydict(
            {"scan": [tag] * len(ids), "part": [p] * len(ids), "i": ids},
            schema=pa.schema([("scan", pa.int32()), ("part", pa.int32()), ("i", pa.int32())]),
        )

    def served(scans):
        rows = scan_units(spark, scans, schema).collect()
        parts: dict = {}
        for r in rows:
            parts.setdefault(r.scan, {}).setdefault(r.part, []).append(r.i)
        return parts

    for n in (3, dp, 5 * dp + 3):
        units = [(i, f"u{i}") for i in range(n)]
        for cost in (rng.randint(1, 1000, n).tolist(), [1] * n):
            parts = served([Scan(units, cost, 0, serve)])[0]
            assert sorted(parts) == list(range(min(n, dp))), (n, sorted(parts))
            assert sorted(i for p in parts.values() for i in p) == list(range(n))
            loads = [sum(cost[i] for i in p) for p in parts.values()]
            assert max(loads) <= min(loads) + max(cost), (n, loads)
    # two scans share one launch: min(max units, dp) tasks, each scan
    # balanced on its own cost, bin p of both served in task p
    from filter_vectordb_spark.operators.knn import _balance

    na, nb = 2 * dp + 1, 3
    ca, cb = rng.randint(1, 1000, na).tolist(), rng.randint(1, 1000, nb).tolist()
    ua, ub = [(i,) for i in range(na)], [(100 + i,) for i in range(nb)]
    both = served([Scan(ua, ca, 0, serve), Scan([], [], 2, serve), Scan(ub, cb, 1, serve)])
    nparts = min(na, dp)
    assert sorted(both) == [0, 1]
    assert sorted(both[0]) == list(range(nparts))
    for tag, units, cost in ((0, ua, ca), (1, ub, cb)):
        want = {p: [units[i][0] for i in b] for p, b in enumerate(_balance(cost, nparts)) if b}
        assert {p: sorted(v) for p, v in both[tag].items()} == want, tag
        loads = [sum(cost[units.index((i,))] for i in p) for p in both[tag].values()]
        assert max(loads) <= min(loads) + max(cost), (tag, loads)
    for scans in ([], [Scan([], [], 0, serve)]):
        empty = scan_units(spark, scans, schema)
        assert empty.collect() == [] and empty.schema.simpleString() == "struct<scan:int,part:int,i:int>"


def test_empty_units_give_typed_empty_frames(spark, tmp_path):
    """Callers whose unit list comes out empty still return their typed
    empty (qid, id, dist) frame."""
    import json

    import numpy as np
    import pandas as pd

    from filter_vectordb_spark.index.filteridx_kernels import (
        _score_meta_bin,
        _score_pairview,
        _score_tagview,
        _score_tagview_probed,
    )

    off = np.zeros(4)
    q = pd.DataFrame(
        {
            "qid": [1],
            "qemb": [[1.0, 2.0, 3.0, 4.0]],
            "tag_a": [5],
            "tag_b": [6],
            "qtags": [[5, 6]],
            "tag": [5],
            "other": [6],
        }
    )
    (tmp_path / "_SUCCESS.json").write_text(json.dumps({"d": 4, "files": []}))
    for df in (
        _score_pairview(spark, {}, q, K, off),
        _score_meta_bin(spark, str(tmp_path), q, K, off),
        _score_tagview(spark, {}, q, K, off),
        _score_tagview_probed(spark, {}, q, K, off, np.zeros((1, 2), dtype=np.int64), 4),
    ):
        assert df.collect() == []
        assert df.schema.simpleString() == "struct<qid:bigint,id:bigint,dist:double>"


def test_direct_read_scan_runs_one_task_per_core(spark, tmp_path):
    """The direct-read knn_join scan stage runs defaultParallelism tasks
    when there are more units than cores (one Python task per core)."""
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base

    sc = spark.sparkContext
    dp = sc.defaultParallelism
    out = str(tmp_path / "staged_base")
    synth_uint8_base(spark, n=3000).select("id", "emb").repartition(3 * dp).write.parquet(out)
    staged = spark.read.parquet(out)
    q = synth_queries(spark, nq=4).select("qid", "qemb")
    res = knn_join(q, staged, K, metric="ip", compute_dtype="float32", base_dir=out)
    group = "test-direct-read-scan-tasks"
    sc.setJobGroup(group, "scan stage task count")
    try:
        assert res.count() == 4 * K
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = sorted(s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds)
    assert st.getStageInfo(stages[0]).numTasks == dp


def test_f32_base_check_reads_every_row(spark):
    """The f32 exactness precondition holds for every base row, not only
    each block's first: a list base whose row 0 is in range but whose
    row 5 holds 300 (or 2.5) fails the DataFrame route with the
    precondition's ValueError instead of scoring it inexactly."""
    import numpy as np

    rng = np.random.RandomState(3)
    q = spark.createDataFrame(
        [(i, rng.randint(0, 256, 8).tolist()) for i in range(3)], "qid LONG, qemb ARRAY<INT>"
    )
    for typ, bad in (("INT", 300), ("DOUBLE", 2.5)):
        cast = float if typ == "DOUBLE" else int
        rows = [(i, [cast(v) for v in rng.randint(0, 256, 8)]) for i in range(40)]
        rows[5][1][3] = bad
        base = spark.createDataFrame(rows, f"id LONG, emb ARRAY<{typ}>").coalesce(1)
        with pytest.raises(Exception, match="ValueError.*exactness precondition"):
            knn_join(q, base, K, metric="ip", compute_dtype="float32").collect()


def _u8_kernel_or_skip():
    from filter_vectordb_spark.operators.knn import u8_kernel

    kernel = u8_kernel()
    if kernel[0] is None:
        pytest.skip(f"uint8 kernel unavailable: {kernel[1]}")
    return kernel


def test_u8_kernel_active_on_capable_host():
    """Where the CPU lists avx512_vnni and gcc is on PATH, the uint8
    scan kernel builds and loads: the numpy path must not stand in for
    it silently."""
    import shutil

    from filter_vectordb_spark.operators.knn import _U8_CPU, u8_kernel
    from filter_vectordb_spark.session import _cpu_flags

    if not (_U8_CPU <= (_cpu_flags() or frozenset()) and shutil.which("gcc")):
        pytest.skip("host without avx512_vnni or gcc")
    assert u8_kernel()[1] == "active"


def test_u8_kernel_matches_numpy_bit_for_bit():
    """StreamTopK.scan_u8 keeps exactly the ids and float64 scores of
    StreamTopK.scan over the same uint8 rows in f32: ip and l2; query
    counts around the 64-query tile; d a multiple of 4 and not; row
    counts off the 6-row tile, below k, and streamed as several units
    into one accumulator; duplicated base rows that tie at the boundary;
    uint8 and int8 query sets; buffers forced to overflow; and against
    the float64 BLAS as well."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import StreamTopK, _norm_factor, pack_u8_queries

    kernel = _u8_kernel_or_skip()
    rng = np.random.RandomState(17)
    k = 10

    def run(metric, Q, X, units, u8=None, cap=None, dt=np.float32):
        acc = StreamTopK(len(Q), k, metric)
        if cap is not None:
            acc._cap = cap
        for lo, hi in units:
            ids = np.arange(lo, hi, dtype=np.int64)
            if u8 is None:
                Xf = X[lo:hi].astype(dt)
                qn = (Q * Q).sum(1) if metric == "l2" else None
                acc.scan(Q.astype(dt), qn, Xf, _norm_factor(Xf, metric), ids)
            else:
                acc.scan_u8(u8, X[lo:hi], ids)
        return acc.result()

    for metric in ("ip", "l2"):
        for d in (192, 190):
            pool = rng.randint(0, 256, (40, d)).astype(np.uint8)
            for nq in (1, 63, 64, 65, 1024):
                for qlo in (0, -128):  # uint8 and int8 query sets
                    Q = rng.randint(qlo, qlo + 256, (nq, d)).astype(np.float64)
                    Qc = Q.astype(np.float32)
                    qn = (Q * Q).sum(1) if metric == "l2" else None
                    u8, status = pack_u8_queries(kernel, Q, Qc, qn, metric)
                    assert status == "active"
                    n = 1999 if nq < 1024 else 1201
                    X = rng.randint(0, 256, (n, d)).astype(np.uint8)
                    X[n // 2 :] = pool[rng.randint(0, len(pool), n - n // 2)]  # ties
                    for units in ([(0, n)], [(0, 7), (7, 900), (900, n)], [(0, 5)]):
                        want = run(metric, Q, X, units)
                        caps = (None, 16) if nq in (1, 65) else (None,)
                        for cap in caps:
                            got = run(metric, Q, X, units, u8, cap)
                            case = (metric, d, nq, qlo, units, cap)
                            assert np.array_equal(got[0], want[0]), case
                            assert np.array_equal(got[1], want[1]), case
                    if nq == 65:  # the float64 BLAS is exact on these too
                        want = run(metric, Q, X, [(0, n)], dt=np.float64)
                        got = run(metric, Q, X, [(0, n)], u8)
                        assert np.array_equal(got[0], want[0]) and np.array_equal(got[1], want[1])


def test_u8_kernel_refuses_wide_queries_and_cos():
    """A query whose range max − min exceeds 255 does not fit int8 after
    any offset, and cos is not integer: both take the numpy path, and
    _push_block's result is the numpy result."""
    import numpy as np

    from filter_vectordb_spark.operators.knn import StreamTopK, _push_block, _query_side, pack_u8_queries

    kernel = _u8_kernel_or_skip()
    rng = np.random.RandomState(4)
    X = rng.randint(0, 256, (500, 16)).astype(np.uint8)
    Q = rng.randint(0, 256, (3, 16)).astype(np.float64)
    Q[1, 0], Q[1, 1] = -200, 200
    assert pack_u8_queries(kernel, Q, Q.astype(np.float32), None, "ip") == (None, "query range > 255")
    assert pack_u8_queries(kernel, Q[::2], Q[::2], None, "cos") == (None, "cos metric")
    Qc, qfac, u8 = _query_side(Q, "ip", np.float32, kernel)
    assert u8 is None
    acc = StreamTopK(3, K, "ip")
    _push_block(acc, Qc, qfac, u8, np.arange(500), X)
    G = Q @ X.T.astype(np.float64)
    assert np.array_equal(acc.result()[1], -np.sort(-G, axis=1)[:, :K])


def test_u8_failed_compile_leaves_nothing_to_load(monkeypatch, tmp_path):
    """A source gcc rejects gives a "compile error" status and leaves no
    shared object (not even a partial one) that a later build would
    find and load."""
    import shutil
    import tempfile

    from filter_vectordb_spark.operators import knn
    from filter_vectordb_spark.session import _cpu_flags

    if not (knn._U8_CPU <= (_cpu_flags() or frozenset()) and shutil.which("gcc")):
        pytest.skip("host without avx512_vnni or gcc")
    bad = tmp_path / "u8_scan.c"
    bad.write_text("int u8_scan(void) { return }\n")
    out = tmp_path / "tmp"
    out.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(out))
    monkeypatch.setattr(knn, "_U8_SRC", str(bad))
    for _ in range(2):
        monkeypatch.setattr(knn, "_U8_BUILT", {})
        path, status = knn.u8_kernel()
        assert path is None and status.startswith("compile error"), status
        assert list(out.iterdir()) == []


def test_u8_fallback_frame_equals_kernel_frame(spark, tmp_path, monkeypatch):
    """The direct-read knn_join over a uint8 staged base returns the same
    rows whether the tasks score with the kernel or, with the kernel
    unavailable, with the numpy path (ip and l2, float32)."""
    from filter_vectordb_spark.operators import knn
    from filter_vectordb_spark.queries.fixtures import _write_u8_base
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base

    _u8_kernel_or_skip()
    u8 = str(tmp_path / "staged_u8")
    _write_u8_base(synth_uint8_base(spark, n=3000).select("id", "emb"), u8, 5)
    base = spark.read.parquet(u8)
    q = synth_queries(spark, nq=70).select("qid", "qemb").cache()
    for metric in ("ip", "l2"):
        def frame():
            return knn_join(
                q, base, K, metric=metric, compute_dtype="float32", base_dir=u8
            ).select("qid", "rank", "id", "dist").localCheckpoint()

        fast = frame()
        with monkeypatch.context() as m:
            m.setattr(knn, "u8_kernel", lambda: (None, "no gcc"))
            slow = frame()
        assert fast.count() == 70 * K
        assert fast.exceptAll(slow).count() == 0 and slow.exceptAll(fast).count() == 0, metric
