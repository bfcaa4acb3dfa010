"""yfcc-scale filtered serving index (index/filteridx) — route coverage
and exactness against the brute-force scan on the dyadic-Zipf tag model
(`sources/synth.synth_yfcc_base`)."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from filter_vectordb_spark.index.filteridx import (
    _route,
    build_filtered_index,
    filtered_search,
    index_is_built,
)
from filter_vectordb_spark.sources.synth import (
    YFCC_VOCAB,
    _dedup_rows,
    synth_yfcc_base,
    synth_yfcc_queries,
    yfcc_draws,
)

N = 20_000
MIN_FREQ = 0.01  # at 20k docs: levels 0..4 frequent, pairs of hot tags built


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("fidx") / "yfcc20k")
    base = synth_yfcc_base(spark, n=N)
    build_filtered_index(base, out, min_freq=MIN_FREQ, pair_min_freq=MIN_FREQ)
    assert index_is_built(out)
    return out, base


def test_yfcc_tag_model_shape():
    """Closed-form draws: Zipf profile, vocabulary bound, order-
    preserving dedup."""
    T = yfcc_draws(np.arange(50_000, dtype=np.int64))
    assert T.min() >= 0 and T.max() <= YFCC_VOCAB - 1
    keep = _dedup_rows(T)
    # avg ~4 distinct tags/doc (collisions only among the hot few)
    assert 3.9 <= keep.sum() / 50_000 <= 4.0
    cnt = np.bincount(T[keep].ravel(), minlength=YFCC_VOCAB)
    # tag 0 (level 0) covers ~4/18 of docs; level-6 tags ~4/(18·64)
    assert 0.18 <= cnt[0] / 50_000 <= 0.25
    lvl6 = cnt[63:127]
    assert 0.5 * 4 / (18 * 64) <= lvl6.mean() / 50_000 <= 2 * 4 / (18 * 64)
    # dedup keeps first occurrence: no row repeats a tag
    flat_rows = [row[m] for row, m in zip(T[:1000], keep[:1000])]
    assert all(len(set(r.tolist())) == len(r) for r in flat_rows)


def test_yfcc_queries_tag_mix(spark):
    q = synth_yfcc_queries(spark, nq=64).toPandas().sort_values("qid")
    nsel = q["qtags"].map(len).to_numpy()
    qids = q["qid"].to_numpy()
    # even qids carry 1 tag, odd up to 2 (capped at distinct draws)
    assert (nsel[qids % 2 == 0] == 1).all()
    assert (nsel[qids % 2 == 1] <= 2).all() and (nsel >= 1).all()
    # query tags are the query DOC's first distinct draws → ≥1 match
    T = yfcc_draws(qids)
    keep = _dedup_rows(T)
    for row, m, tags, k in zip(T, keep, q["qtags"], 1 + qids % 2):
        expect = row[m][: int(k)].tolist()
        assert [int(x) for x in tags] == [int(x) for x in expect]


def test_route_rules():
    ndoc = {0: 5000, 1: 2500, 200: 40, 300: 7}
    pairs = {(0, 1)}
    tag_files = {0: ["f0"], 1: ["f1"]}
    qtags = [[0, 1], [1, 0], [0], [0, 200], [200, 300], [300], [], [999], [1, 200]]
    r_pair, r_tag, r_meta, tag_col, other_col = _route(
        qtags, ndoc, thr=100.0, pairs=pairs, tag_files=tag_files
    )
    assert r_pair == [0, 1]  # built pair, order-insensitive
    assert r_tag == [2]  # single frequent tag
    assert tag_col[2] == 0 and other_col[2] == -1
    # rare rarer tag → metadata-first (incl. empty + unknown tags)
    assert r_meta == [3, 4, 5, 6, 7, 8]


def test_filtered_search_matches_bruteforce(spark, built):
    """End-to-end exactness: every route vs the fused brute-force scan
    (operators/filtered_knn.filtered_knn_scan) on the same corpus."""
    from filter_vectordb_spark.index.filteridx import _load_routing
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan

    out, base = built
    q = synth_yfcc_queries(spark, nq=96)
    got = (
        filtered_search(spark, out, q, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        filtered_knn_scan(q, base, 10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["qid", "id", "rank"]], want[["qid", "id", "rank"]]
    )
    np.testing.assert_allclose(got["dist"], want["dist"], rtol=0, atol=0)
    # the batch must exercise every route at this size, or the test
    # silently shrinks to one path
    ndoc, n_base, min_freq, _off, pair_files, tag_files, _C, _hx = _load_routing(
        spark, out
    )
    qpdf = q.toPandas()
    r_pair, r_tag, r_meta, _, _ = _route(
        qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
    )
    assert r_pair and r_tag and r_meta


def test_filtered_search_edge_queries(spark, built):
    """Empty conjunction = unfiltered exact k-NN; unknown tag = absent."""
    from filter_vectordb_spark.operators.knn import knn_join

    out, base = built
    qe = synth_yfcc_queries(spark, nq=2).select(
        "qid",
        "qemb",
        F.when(F.col("qid") == 0, F.array().cast("array<int>"))
        .otherwise(F.array(F.lit(YFCC_VOCAB + 5)))
        .alias("qtags"),
    )
    got = filtered_search(spark, out, qe, k=5).toPandas()
    assert set(got["qid"]) == {0}  # qid 1's tag matches nothing
    want = knn_join(
        qe.filter(F.col("qid") == 0), base, 5, metric="l2"
    ).toPandas()
    g0 = got.sort_values("rank")
    assert g0["id"].tolist() == want.sort_values("rank")["id"].tolist()


def test_probed_full_probe_equals_exact(spark, built):
    """nprobe ≥ nlist must reproduce the exact route bit-for-bit — every
    list probed ⇒ the same rows scored with the same f64 assembly (the
    knn_ip_1m_nq8 full-probe discipline)."""
    import json

    out, _base = built
    with open(f"{out}/meta.json") as fh:
        nlist = json.load(fh)["nlist"]
    q = synth_yfcc_queries(spark, nq=64)
    exact = (
        filtered_search(spark, out, q, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    full = (
        filtered_search(spark, out, q, k=10, nprobe=nlist)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(exact, full)


def test_probed_recall_and_exact_subscores(spark, built):
    """Small-nprobe serving: every returned (qid, id, dist) is a TRUE
    exact distance (pruning loses candidates, never corrupts scores),
    and tag-route recall against the exact route is sane (> 0.5 at
    nprobe=4 on the 20k fixture) and 1.0-bounded."""
    out, _base = built
    q = synth_yfcc_queries(spark, nq=64)
    exact = filtered_search(spark, out, q, k=10).toPandas()
    approx = filtered_search(spark, out, q, k=10, nprobe=4).toPandas()
    ex = exact.set_index(["qid", "id"])["dist"]
    ap = approx.set_index(["qid", "id"])["dist"]
    shared = ap.index.intersection(ex.index)
    assert len(shared) > 0
    np.testing.assert_allclose(ap.loc[shared], ex.loc[shared], rtol=0, atol=0)
    # tie-aware recall: an approx id counts when its dist ties-or-beats
    # the exact kth for its query
    kth = exact.groupby("qid")["dist"].max()
    nex = exact.groupby("qid").size()
    hits = sum(
        1 for r in approx.itertuples() if r.dist <= kth.loc[r.qid]
    )
    recall = hits / int(nex.sum())
    assert 0.5 < recall <= 1.0, recall


def test_three_tag_conjunction(spark, built):
    """R4 with a >2-tag conjunction exercises the per-group intersection
    path beside the vectorized 1-2-tag pair kernel; pandas oracle."""
    out, base = built
    bp = base.select("id", "tags").toPandas()
    pick = next(
        (
            [int(t) for t in r["tags"]][:3]
            for _, r in bp.iterrows()
            if len(r["tags"]) >= 3
        ),
        None,
    )
    assert pick is not None
    ta, tb, tc = pick
    q = synth_yfcc_queries(spark, nq=1).select(
        "qid", "qemb", F.array(F.lit(ta), F.lit(tb), F.lit(tc)).alias("qtags")
    )
    got = filtered_search(spark, out, q, k=10).toPandas()
    cand = {
        int(r["id"])
        for _, r in bp.iterrows()
        if {ta, tb, tc} <= set(map(int, r["tags"]))
    }
    assert set(got["id"]) <= cand and len(got) == min(10, len(cand))
    assert (got.sort_values("rank")["dist"].diff().dropna() >= 0).all()


def test_two_rare_tag_intersection(spark, built):
    """R4 with a 2-tag conjunction of two RARE tags: the in-kernel
    sorted-posting intersection, checked against a pandas oracle."""
    out, base = built
    bp = base.select("id", "tags").toPandas()
    # find a doc with two rare (level ≥ 8 → tag ≥ 255) distinct tags
    pick = None
    for _, r in bp.iterrows():
        rare = [int(t) for t in r["tags"] if int(t) >= 255]
        if len(rare) >= 2:
            pick = (int(r["id"]), rare[0], rare[1])
            break
    assert pick is not None
    _doc, ta, tb = pick
    q = synth_yfcc_queries(spark, nq=1).select(
        "qid", "qemb", F.array(F.lit(ta), F.lit(tb)).alias("qtags")
    )
    got = filtered_search(spark, out, q, k=10).toPandas()
    # pandas oracle: exact candidate set
    cand = {
        int(r["id"])
        for _, r in bp.iterrows()
        if ta in set(map(int, r["tags"])) and tb in set(map(int, r["tags"]))
    }
    assert set(got["id"]) <= cand and len(got) == min(10, len(cand))


def test_route_multi_tag_goes_meta_unconditionally():
    """ADVICE r8 (medium): a >2-tag conjunction whose rarest tag is
    FREQUENT must still route to r_meta — the tag-view route carries
    only (rarer, other) and would silently drop the third conjunct."""
    ndoc = {0: 5000, 1: 2500, 2: 4000}
    tag_files = {0: ["f0"], 1: ["f1"], 2: ["f2"]}
    r_pair, r_tag, r_meta, _tc, _oc = _route(
        [[0, 1, 2]], ndoc, thr=100.0, pairs=set(), tag_files=tag_files
    )
    assert r_meta == [0] and not r_tag and not r_pair


def test_three_frequent_tag_conjunction(spark, built):
    """End-to-end ADVICE r8 regression: a 3-tag conjunction of FREQUENT
    tags (each above the routing threshold) must satisfy ALL three
    conjuncts — the old router sent it down the tag-view path with only
    two."""
    out, base = built
    bp = base.select("id", "tags").toPandas()
    thr = MIN_FREQ * N
    from collections import Counter

    cnt = Counter(int(t) for tags in bp["tags"] for t in tags)
    pick = None
    for _, r in bp.iterrows():
        freq3 = sorted({int(t) for t in r["tags"] if cnt[int(t)] >= thr})
        if len(freq3) >= 3:
            pick = freq3[:3]
            break
    assert pick is not None, "fixture lacks a 3-frequent-tag doc"
    ta, tb, tc = pick
    q = synth_yfcc_queries(spark, nq=1).select(
        "qid", "qemb", F.array(F.lit(ta), F.lit(tb), F.lit(tc)).alias("qtags")
    )
    got = filtered_search(spark, out, q, k=10).toPandas()
    cand = {
        int(r["id"])
        for _, r in bp.iterrows()
        if {ta, tb, tc} <= set(map(int, r["tags"]))
    }
    assert set(got["id"]) <= cand and len(got) == min(10, len(cand))


def test_decode_scratch_poison(monkeypatch):
    """VERDICT r8 #3: under FVDB_DECODE_POISON=1, a view held across
    _decode calls reads NaN — the scratch-aliasing contract is enforced
    in pytest instead of trusted."""
    import pyarrow as pa

    from filter_vectordb_spark.index.filteridx import _DECODE_SCRATCH, _decode

    codes = pa.array(
        [np.full(4, i, dtype=np.int8) for i in range(3)],
        type=pa.list_(pa.int8()),
    )
    off = np.zeros(4, dtype=np.float64)
    monkeypatch.setenv("FVDB_DECODE_POISON", "1")
    _DECODE_SCRATCH.clear()
    X1 = _decode(codes, None, 3, off, True)
    assert X1[1, 0] == 1.0
    X2 = _decode(codes, None, 3, off, True)
    assert np.isnan(X1).all()  # stale view tripped
    assert X2[2, 0] == 2.0
    monkeypatch.delenv("FVDB_DECODE_POISON")
    _DECODE_SCRATCH.clear()


def test_meta_gather_plan_matches_sweep(spark, built):
    """VERDICT r8 #1c: the shuffle-based posting-gather plan and the
    direct-read sweep must return IDENTICAL results (ids, ranks, and
    bit-equal distances) — routing between them is purely a cost
    decision."""
    out, _base = built
    q = synth_yfcc_queries(spark, nq=64)
    sweep = (
        filtered_search(spark, out, q, k=10, meta_plan="sweep")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    gather = (
        filtered_search(spark, out, q, k=10, meta_plan="gather")
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        sweep[["qid", "id", "rank"]], gather[["qid", "id", "rank"]]
    )
    np.testing.assert_allclose(sweep["dist"], gather["dist"], rtol=0, atol=0)


def test_meta_auto_routing_threshold(spark, built):
    """auto picks gather only when the estimated candidate volume is
    under GATHER_MAX_CAND_FRAC of the corpus — a hyper-selective
    1-query batch routes to gather and still matches the forced sweep."""
    from filter_vectordb_spark.index.filteridx import (
        GATHER_MAX_CAND_FRAC,
        _load_routing,
    )

    out, _base = built
    ndoc, n_base, *_rest = _load_routing(spark, out)
    # the rarest observed tag: est = ndoc[tag] must clear the threshold
    rare_tag, rare_n = min(ndoc.items(), key=lambda kv: kv[1])
    assert rare_n <= GATHER_MAX_CAND_FRAC * n_base
    q = synth_yfcc_queries(spark, nq=1).select(
        "qid", "qemb", F.array(F.lit(int(rare_tag))).alias("qtags")
    )
    auto = filtered_search(spark, out, q, k=10).toPandas()
    sweep = filtered_search(spark, out, q, k=10, meta_plan="sweep").toPandas()
    a = auto.sort_values("rank").reset_index(drop=True)
    s = sweep.sort_values("rank").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, s)
    assert len(a) == min(10, rare_n)


def test_poison_on_e2e_serving(spark, built):
    """VERDICT r9 missing #2: the full serving path (both probe modes)
    runs with FVDB_DECODE_POISON=1 propagated to the
    Python workers — a kernel holding a _decode view across units would
    serve NaN distances and fail the equality, not silently serve stale
    vectors.  (test_decode_scratch_poison pins the mechanism; this pins
    that no serve kernel violates the contract end-to-end.)"""
    out, _base = built
    q = synth_yfcc_queries(spark, nq=64)
    clean = (
        filtered_search(spark, out, q, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    clean_p = (
        filtered_search(spark, out, q, k=10, nprobe=4)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    env = spark.sparkContext.environment
    env["FVDB_DECODE_POISON"] = "1"
    try:
        poisoned = (
            filtered_search(spark, out, q, k=10)
            .toPandas()
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
        poisoned_p = (
            filtered_search(spark, out, q, k=10, nprobe=4)
            .toPandas()
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )
    finally:
        del env["FVDB_DECODE_POISON"]
    assert not poisoned["dist"].isna().any()
    pd.testing.assert_frame_equal(clean, poisoned)
    pd.testing.assert_frame_equal(clean_p, poisoned_p)


def test_gather_candidate_join_is_broadcast(spark, built):
    """VERDICT r9 wrong #4: under the auto threshold the gather plan's
    candidate equi-join must be a BroadcastHashJoin with the bounded
    candidate side built — never an O(corpus) sort-merge shuffle of the
    codes table (the cost model the plan exists for at 100x scale)."""
    from filter_vectordb_spark.index.filteridx import (
        _load_routing,
        _score_meta_gather,
    )
    from filter_vectordb_spark.plans.audit import assert_broadcast_join, physical_plan

    out, _base = built
    _ndoc, _n, _mf, off, *_rest = _load_routing(spark, out)
    qpdf = synth_yfcc_queries(spark, nq=8).toPandas()
    df = _score_meta_gather(spark, f"{out}/codes", qpdf, 10, off)
    # two broadcasts: the exploded query side inside
    # conjunctive_candidates AND the candidate (qid, id) side
    assert_broadcast_join(df, at_least=2)
    assert "SortMergeJoin" not in physical_plan(df)
    # the explicit no-broadcast escape hatch still plans and returns the
    # same rows (join strategy is left to Catalyst/AQE there — at
    # fixture scale it may still pick broadcast on size stats, so only
    # the hinted path's strategy is pinned)
    df2 = _score_meta_gather(
        spark, f"{out}/codes", qpdf, 10, off, broadcast_cand=False
    )

    def topk(pdf):  # the outputs are per-task partials — reduce first
        return (
            pdf.sort_values(["qid", "dist", "id"])
            .groupby("qid")
            .head(10)
            .reset_index(drop=True)
        )

    pd.testing.assert_frame_equal(topk(df.toPandas()), topk(df2.toPandas()))


def test_rebuild_in_place_retires_stale_sidecars(spark, tmp_path):
    """ADVICE r9 medium: rebuilding an index into the same out_dir must
    not leave the previous build's *_bin sidecars preferred over the
    fresh parquet — serving after a rebuild answers from the NEW corpus."""
    import os

    out = str(tmp_path / "rebuilt")
    base1 = synth_yfcc_base(spark, n=2000)
    build_filtered_index(base1, out, min_freq=0.01, pair_min_freq=0.01)
    stamp = os.stat(f"{out}/meta_bin/_SUCCESS.json").st_mtime_ns
    # rebuild in place over a DIFFERENT corpus (ids shifted)
    base2 = synth_yfcc_base(spark, n=3000).withColumn(
        "id", F.col("id") + F.lit(1_000_000)
    )
    build_filtered_index(base2, out, min_freq=0.01, pair_min_freq=0.01)
    assert os.stat(f"{out}/meta_bin/_SUCCESS.json").st_mtime_ns != stamp
    from filter_vectordb_spark.index import filteridx as fx

    fx._BIN_MANIFESTS.clear()
    fx._ROUTE_CACHE.clear()
    q = synth_yfcc_queries(spark, nq=8)
    got = filtered_search(spark, out, q, k=5).toPandas()
    assert len(got) and (got["id"] >= 1_000_000).all(), (
        "stale sidecars served the old corpus"
    )


def test_int8_direct_path_bit_identical(spark, built, monkeypatch):
    """r11 fast path: _score_pairs scores q·x = q·c + q·off straight off
    the int8 codes when the f32-exact gate + integral grid offset hold —
    results must be BIT-identical to its decode-then-dot branch (the
    split-sum exactness argument in _int_off_ok).  Force the decode
    branch via the gate and compare."""
    import pandas as pd

    from filter_vectordb_spark.index import filteridx_kernels as fk

    out, _base = built
    q = synth_yfcc_queries(spark, nq=64)
    # both modes score the meta-bin flat queries; exact mode adds the
    # tag view's masked pairs, probed mode the probed tag view
    modes = ({}, {"nprobe": 4})

    def run(kw):
        return (
            filtered_search(spark, out, q, k=10, **kw)
            .toPandas()
            .sort_values(["qid", "rank"])
            .reset_index(drop=True)
        )

    fast = [run(kw) for kw in modes]
    monkeypatch.setattr(fk, "_int_off_ok", lambda off: False)
    for kw, fast_df in zip(modes, fast):
        pd.testing.assert_frame_equal(fast_df, run(kw))
    # the gate itself accepts the fixture's grid (so `fast` above really
    # exercised the int8-direct path, not the fallback twice)
    from filter_vectordb_spark.index.filteridx import _load_routing

    off = _load_routing(spark, out)[3]
    monkeypatch.undo()
    assert fk._int_off_ok(off), "fixture grid must take the fast path"


def test_int8_pair_scores_segment_form_bit_identical():
    """r12 kernel form (guide §4.2): sorted query-grouped qidx takes the
    per-segment matrix-vector einsum; short runs and unsorted qidx take
    the chunked pair-gather einsum.  Both forms regroup the same exact-
    integer f32 dots, so outputs must be BIT-identical across the
    branch: force each branch via the _SEG_MIN_MEAN cutoff and compare."""
    from filter_vectordb_spark.index import filteridx_kernels as fk

    rng = np.random.default_rng(5)
    n, d, nq = 4096, 192, 37
    C8 = rng.integers(-128, 128, size=(n, d), dtype=np.int8)
    Qm = rng.integers(0, 256, size=(nq, d)).astype(np.float32)

    def chunked_ref(qidx, rows):
        return np.einsum("ij,ij->i", Qm[qidx], C8[rows]).astype(np.float64)

    # long sorted runs (segment branch), incl. an empty-run-free mix of
    # run lengths above and below the cutoff
    lens = rng.integers(1, 4 * fk._SEG_MIN_MEAN, size=nq)
    qidx = np.repeat(np.arange(nq, dtype=np.int64), lens)
    rows = rng.integers(0, n, size=len(qidx))
    got = fk._int8_pair_scores(Qm, qidx, C8, rows, chunk=1000)
    assert np.array_equal(got, chunked_ref(qidx, rows))
    # unsorted qidx must fall back (and still be exact)
    perm = rng.permutation(len(qidx))
    got = fk._int8_pair_scores(Qm, qidx[perm], C8, rows[perm], chunk=1000)
    assert np.array_equal(got, chunked_ref(qidx[perm], rows[perm]))
    # short runs: below the mean cutoff the gather branch runs
    lens = rng.integers(1, max(2, fk._SEG_MIN_MEAN // 8), size=nq)
    qidx = np.repeat(np.arange(nq, dtype=np.int64), lens)
    rows = rng.integers(0, n, size=len(qidx))
    got = fk._int8_pair_scores(Qm, qidx, C8, rows, chunk=1000)
    assert np.array_equal(got, chunked_ref(qidx, rows))
    # empty input
    e = np.empty(0, dtype=np.int64)
    assert len(fk._int8_pair_scores(Qm, e, C8, e)) == 0


def test_filtered_search_routes_share_one_scan_stage(spark, built):
    """A batch that takes the pair, tag and metadata routes scans in ONE
    stage of defaultParallelism tasks (one launch for every route), and
    its result equals the W3 merge over the three routes run alone."""
    from filter_vectordb_spark.index import filteridx as fi
    from filter_vectordb_spark.operators.topk import per_group_topk

    out, _base = built
    sc = spark.sparkContext
    dp = sc.defaultParallelism
    qpdf = synth_yfcc_queries(spark, nq=96).toPandas()
    ndoc, n_base, min_freq, off, pair_files, tag_files, _C, has_xn = fi._load_routing(spark, out)
    r_pair, r_tag, r_meta, tag_col, other_col = fi._route(
        qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
    )
    assert r_pair and r_tag and r_meta
    res = filtered_search(spark, out, spark.createDataFrame(qpdf), k=10, meta_plan="sweep")
    group = "test-filtered-search-scan-tasks"
    sc.setJobGroup(group, "fused route stage task count")
    try:
        got = res.toPandas()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    st = sc.statusTracker()
    stages = sorted(s for j in st.getJobIdsForGroup(group) for s in st.getJobInfo(j).stageIds)
    assert st.getStageInfo(stages[0]).numTasks == dp

    pp = qpdf.iloc[r_pair].copy()
    tt = np.array([sorted({int(x) for x in t}) for t in pp["qtags"]])
    pp["tag_a"], pp["tag_b"] = tt[:, 0], tt[:, 1]
    tp = qpdf.iloc[r_tag].copy()
    tp["tag"], tp["other"] = tag_col[r_tag], other_col[r_tag]
    alone = (
        fi._score_pairview(spark, pair_files, pp, 10, off)
        .unionByName(fi._score_tagview(spark, tag_files, tp, 10, off, has_xn, bins=fi._tag_bins(out)))
        .unionByName(fi._score_meta_bin(spark, f"{out}/meta_bin", qpdf.iloc[r_meta], 10, off, ndoc=ndoc))
    )
    want = per_group_topk(alone, ["qid"], [F.col("dist").asc(), F.col("id").asc()], 10)
    cols = ["qid", "id", "dist", "rank"]

    def norm(df):
        return df[cols].sort_values(["qid", "rank"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(norm(got), norm(want.select(*cols).toPandas()))


def _index_copy(built, tmp_path, name: str) -> str:
    import shutil

    out = str(tmp_path / name)
    shutil.copytree(built[0], out)
    return out


@pytest.mark.parametrize("sidecar", ["meta_bin", "tag_bin"])
def test_missing_sidecar_is_not_built_and_not_served(spark, built, tmp_path, sidecar):
    """An index whose sidecar build died (parquet and meta.json written,
    one *_bin/ missing) is not built, and filtered_search refuses it by
    name instead of serving it through some other path."""
    import shutil

    out = _index_copy(built, tmp_path, "partial")
    shutil.rmtree(f"{out}/{sidecar}")
    assert not index_is_built(out)
    q = synth_yfcc_queries(spark, nq=8)
    with pytest.raises(FileNotFoundError, match=sidecar):
        filtered_search(spark, out, q, k=10)


def test_tag_missing_from_manifest_routes_meta_exactly(spark, built, tmp_path):
    """Routing reads the tag_bin manifest that serving reads: a frequent
    tag the manifest lacks goes to the exact metadata route, not to a
    tag-view route with no units, and its answers equal brute force."""
    import json

    from filter_vectordb_spark.index.filteridx import _load_routing
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan

    src, base = built
    out = _index_copy(built, tmp_path, "droptag")
    man_path = f"{out}/tag_bin/_SUCCESS.json"
    with open(man_path) as fh:
        man = json.load(fh)
    ndoc = _load_routing(spark, src)[0]
    tag = max((int(t) for t in man["tags"]), key=lambda t: ndoc[t])
    del man["tags"][str(tag)]
    with open(man_path, "w") as fh:
        json.dump(man, fh)
    q = synth_yfcc_queries(spark, nq=8).select(
        "qid", "qemb", F.array(F.lit(tag)).alias("qtags")
    )
    qpdf = q.toPandas()
    every = list(range(len(qpdf)))
    for path, route in ((src, 1), (out, 2)):
        ndoc, n_base, min_freq, _off, pair_files, tag_files, _C, _hx = _load_routing(
            spark, path
        )
        routed = _route(qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files)
        assert routed[route] == every, path
    got = (
        filtered_search(spark, out, q, k=10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    want = (
        filtered_knn_scan(q, base, 10)
        .toPandas()
        .sort_values(["qid", "rank"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got[["qid", "id", "rank"]], want[["qid", "id", "rank"]]
    )
    np.testing.assert_allclose(got["dist"], want["dist"], rtol=0, atol=0)


@pytest.mark.parametrize("sidecar", ["meta_bin", "tag_bin"])
def test_truncated_sidecar_codes_raise_named_error(spark, built, tmp_path, sidecar):
    """A `.codes.bin` shorter than its manifest's n·d bytes is refused at
    manifest load, naming the file — not served as a short memmap."""
    import glob
    import os
    import re

    out = _index_copy(built, tmp_path, "trunc")
    victim = max(glob.glob(f"{out}/{sidecar}/*.codes.bin"), key=os.path.getsize)
    os.truncate(victim, os.path.getsize(victim) - 192)
    q = synth_yfcc_queries(spark, nq=96)
    with pytest.raises(ValueError, match=re.escape(os.path.basename(victim))):
        filtered_search(spark, out, q, k=10, meta_plan="sweep").toPandas()


@pytest.mark.parametrize("damage", ["missing", "short"])
def test_probe_bounds_checked(spark, built, tmp_path, damage):
    """build_tag_bins writes every file's coarse-list bounds; the probed
    route refuses a missing or wrong-length `.bounds.npy` by name rather
    than recomputing or guessing them."""
    import glob
    import os

    out = _index_copy(built, tmp_path, "bounds")
    for v in glob.glob(f"{out}/tag_bin/*.bounds.npy"):
        if damage == "missing":
            os.remove(v)
        else:
            np.save(v, np.load(v)[:-1])
    q = synth_yfcc_queries(spark, nq=64)
    with pytest.raises(Exception, match=r"bounds\.npy"):
        filtered_search(spark, out, q, k=10, nprobe=4).toPandas()


def _check_tag_bin_layout(out: str, base) -> None:
    """tag_bin/ as serving reads it: every manifest tag's units hold the
    docs carrying that tag, each exactly once; each unit is (lst, id)-
    sorted, its bounds are the coarse-list starts, and its tag CSR
    reproduces every row's tags."""
    import json

    with open(f"{out}/meta.json") as fh:
        nlist = json.load(fh)["nlist"]
    with open(f"{out}/tag_bin/_SUCCESS.json") as fh:
        man = json.load(fh)
    pdf = base.select("id", "tags").toPandas()
    doc_tags = {int(i): sorted(int(t) for t in ts) for i, ts in zip(pdf["id"], pdf["tags"])}
    for tag, units in man["tags"].items():
        got = []
        for key, n in units:
            p = f"{out}/tag_bin/{key}"
            ids, lst = np.load(f"{p}.ids.npy"), np.load(f"{p}.lst.npy")
            assert len(ids) == len(lst) == n, key
            np.testing.assert_array_equal(np.lexsort((ids, lst)), np.arange(n))
            np.testing.assert_array_equal(
                np.load(f"{p}.bounds.npy"), np.searchsorted(lst, np.arange(nlist + 1))
            )
            ptags, pstarts, prows = (np.load(f"{p}.{c}.npy") for c in ("ptags", "pstarts", "prows"))
            rows = [[] for _ in range(n)]
            for t, a, b in zip(ptags, pstarts[:-1], pstarts[1:]):
                for r in prows[a:b]:
                    rows[r].append(int(t))
            assert rows == [doc_tags[int(i)] for i in ids], key
            got.extend(int(i) for i in ids)
        assert sorted(got) == sorted(i for i, ts in doc_tags.items() if int(tag) in ts), tag


def test_tag_bins_written_from_the_view(spark, built):
    """build_filtered_index writes tag_bin/ straight from its frequent-tag
    view: no tagview/ parquet, and the bins hold exactly the frequent
    tags' docs in the layout serving reads."""
    import json
    import os

    out, base = built
    assert not os.path.exists(f"{out}/tagview")
    with open(f"{out}/tag_bin/_SUCCESS.json") as fh:
        tags = {int(t) for t in json.load(fh)["tags"]}
    stats = F.col("ndoc") >= MIN_FREQ * N
    frequent = {r["tag"] for r in spark.read.parquet(f"{out}/stats").filter(stats).collect()}
    assert tags == frequent
    _check_tag_bin_layout(out, base)


def test_salted_tag_bins_serve_exactly(spark, tmp_path):
    """A tag above split_rows is written as several (tag, salt) units;
    each keeps the layout, the exact route over them equals brute force,
    and the probed route scores true distances."""
    import json

    from filter_vectordb_spark.index.filteridx import _load_routing
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan

    out = str(tmp_path / "salted")
    base = synth_yfcc_base(spark, n=3000)
    build_filtered_index(base, out, min_freq=0.01, pair_min_freq=0.01, split_rows=200)
    with open(f"{out}/tag_bin/_SUCCESS.json") as fh:
        units = json.load(fh)["tags"]
    assert max(len(u) for u in units.values()) > 1
    _check_tag_bin_layout(out, base)
    q = synth_yfcc_queries(spark, nq=64)
    ndoc, n_base, min_freq, _off, pair_files, tag_files, _C, _hx = _load_routing(spark, out)
    _p, r_tag, _m, tag_col, _o = _route(
        q.toPandas()["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
    )
    assert any(len(units[str(t)]) > 1 for t in tag_col[r_tag])
    cols = ["qid", "rank", "id", "dist"]
    want = filtered_knn_scan(q, base, 10).toPandas().sort_values(cols)[cols]
    got = filtered_search(spark, out, q, k=10).toPandas().sort_values(cols)[cols]
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))
    probed = filtered_search(spark, out, q, k=10, nprobe=4).toPandas()
    exact = want.set_index(["qid", "id"])["dist"]
    ap = probed.set_index(["qid", "id"])["dist"]
    shared = ap.index.intersection(exact.index)
    assert len(shared) > 0
    np.testing.assert_array_equal(ap.loc[shared], exact.loc[shared])


def _perfbench_module(monkeypatch, name: str):
    """perfbench/<name>.py loaded by path under the top-level name
    perfbench/run.py imports it by, for this test only."""
    import importlib.util
    import os
    import sys

    path = os.path.join(os.path.dirname(__file__), os.pardir, "perfbench", f"{name}.py")
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_perfbench_package_uses_still_run(spark, built, monkeypatch):
    """The benchmark keys its fixture cache on package sources
    (inspect.getsource) and its traced run builds filtered_search's route
    frames from filteridx internals; both keep working on the package as
    it is."""
    fixtures = _perfbench_module(monkeypatch, "fixtures")
    for name, fixture in fixtures._fixture_table().items():
        assert len(fixtures.source_hash(fixture.sources)) == 12, name
    _perfbench_module(monkeypatch, "stats")
    workloads = _perfbench_module(monkeypatch, "workloads")
    wl = workloads.FilterYfcc(seed=11)
    wl.load(spark, built[0])
    qpdf = synth_yfcc_queries(spark, nq=256).toPandas()
    parts, _route_s, mix, _cand = wl.route_parts(spark, qpdf)
    assert set(parts) == {"pair", "tag", "meta"}
    assert sum(mix.values()) == len(qpdf)
    for build in parts.values():
        workloads.noop(build())
