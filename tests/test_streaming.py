"""Streaming replay (ST1-ST6) and Structured Streaming event tests."""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from filter_vectordb_spark.sources.vectors import dense_queries, dense_vectors
from filter_vectordb_spark.streaming.runbook import (
    Runbook,
    RunbookStep,
    StreamingReplayer,
    parse_runbook_yaml,
    recall_at_k,
    replay,
)
from tests.conftest import SF_DIR

FIXTURE_RB = os.path.join(os.path.dirname(__file__), "fixtures", "simple_runbook.yaml")


def test_parse_reference_yaml_format():
    rb = parse_runbook_yaml(FIXTURE_RB)
    assert rb.max_pts == 400
    assert [s.operation for s in rb.steps] == [
        "insert",
        "search",
        "insert",
        "delete",
        "search",
    ]
    assert rb.steps[0].end == 300


def test_insert_is_upsert(spark):
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    rp = StreamingReplayer(spark, max_pts=10_000)
    rp.insert(base.filter(F.col("id") < 100))
    # re-insert overlapping range: ids must not duplicate (ST2 collision =
    # in-place update, `hnswalg.h:1761-1780`)
    rp.insert(base.filter(F.col("id") < 150))
    assert rp.active().count() == 150
    assert rp.active().select("id").distinct().count() == 150


def test_delete_then_consolidate(spark):
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    rp = StreamingReplayer(spark, max_pts=10_000)
    rp.insert(base.filter(F.col("id") < 200))
    rp.delete_range(0, 50)
    assert rp.active().count() == 150
    assert rp.unprocessed_deletes == 50  # tombstoned, not yet compacted
    rp.consolidate()
    assert rp.unprocessed_deletes == 0
    assert rp.state.count() == 150  # physically gone


def test_consolidation_trigger_rule(spark):
    """active + unprocessed_deletes >= max_pts triggers compaction AT
    INSERT time only, exactly `diskann-str.py` insert() (`:79-81` —
    active updated with the new ids, then checked); delete() just
    tombstones and counts, never consolidates (ADVICE r9)."""
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    rp = StreamingReplayer(spark, max_pts=200)
    rp.insert(base.filter(F.col("id") < 190))
    rp.delete_range(0, 10)  # 180 active + 10 deletes: NO check at delete
    assert rp.unprocessed_deletes == 10 and rp.consolidations == 0
    # the next insert crosses the cap: 190 active + 10 unprocessed ≥ 200
    rp.insert(base.filter(F.col("id").between(190, 199)))
    assert rp.unprocessed_deletes == 0 and rp.consolidations == 1
    assert rp.active().count() == 190


def test_consolidation_fires_with_zero_tombstones(spark):
    """`diskann-str.py:79-81` has NO tombstone guard: when active alone
    reaches max_pts at insert, consolidate_delete() runs (a physical
    no-op, but the counter increments).  The replayer and the pure-
    python dry run must both reproduce that corner (VERDICT r10 wrong
    #3) and stay equal to each other."""
    from filter_vectordb_spark.streaming.runbook import simulate_replay_counters

    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    rp = StreamingReplayer(spark, max_pts=150)
    rp.insert(base.filter(F.col("id") < 100), start=0, end=100)
    assert rp.consolidations == 0
    # active alone crosses the cap with zero unprocessed deletes
    rp.insert(base.filter(F.col("id").between(100, 159)), start=100, end=160)
    assert rp.unprocessed_deletes == 0 and rp.consolidations == 1
    assert rp.active().count() == 160  # nothing was dropped — no-op rewrite
    rb = Runbook(
        max_pts=150,
        steps=[
            RunbookStep("insert", 0, 100),
            RunbookStep("insert", 100, 160),
        ],
    )
    sim = simulate_replay_counters(rb)
    assert sim["consolidations"] == rp.consolidations == 1
    assert sim["final_active"] == 160 and sim["final_unprocessed"] == 0


def test_yaml_replay_matches_direct_state(spark):
    """Replaying the fixture YAML gives exactly a search over the surviving
    id set at each checkpoint."""
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    q = dense_queries(spark, SF_DIR)
    rb = parse_runbook_yaml(FIXTURE_RB)
    res = replay(spark, base, rb, q, k=5)
    from filter_vectordb_spark.operators.knn import knn_join

    # checkpoint 2 state: [0,500) minus [50,150)
    survivors = base.filter(
        (F.col("id") < 500) & ~F.col("id").between(50, 149)
    )
    expect = knn_join(q, survivors, 5).select("qid", "rank", "id")
    got = res.filter(F.col("checkpoint") == 2).select("qid", "rank", "id")
    assert got.exceptAll(expect).count() == 0 and expect.exceptAll(got).count() == 0


def test_range_query(spark):
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    q = dense_queries(spark, SF_DIR)
    rp = StreamingReplayer(spark, max_pts=10_000)
    rp.insert(base)
    res = rp.range_query(q, radius=0.0).toPandas()
    # radius 0 → only exact self-matches (queries are base rows 0..7)
    assert set(res["qid"]) == set(res["id"]) == set(range(8))


def test_recall_aggregation(spark):
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    q = dense_queries(spark, SF_DIR)
    rp = StreamingReplayer(spark, max_pts=10_000)
    rp.insert(base)
    res = rp.search(q, 10).select(F.lit(1).alias("checkpoint"), "qid", "rank", "id")
    truth = res.select("qid", "id")  # perfect ground truth
    rec = recall_at_k(res, truth, 10).collect()
    assert rec[0]["mean_recall"] == 1.0


def test_stateful_stream_matches_batch_aggregate(spark):
    """applyInPandasWithState per-user tracker must converge to the same
    totals as a batch groupBy over the same events."""
    from filter_vectordb_spark.sources.tables import load_table
    from filter_vectordb_spark.streaming.stateful import run_user_activity_to_memory

    got = (
        run_user_activity_to_memory(spark, SF_DIR)
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    e = load_table(spark, "events", SF_DIR)
    expect = (
        e.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum_value_cents"),
            F.max(F.unix_timestamp("ts")).alias("last_epoch"),
        )
        .toPandas()
        .sort_values("user_id")
        .reset_index(drop=True)
    )
    cols = ["user_id", "n_events", "sum_value_cents", "last_epoch"]
    assert got[cols].equals(expect[cols])


def test_structured_streaming_matches_batch(spark):
    """The streaming hourly plan must agree with the batch twin."""
    from filter_vectordb_spark.queries.relational import events_hourly
    from filter_vectordb_spark.streaming.events import run_stream_to_memory

    stream_res = run_stream_to_memory(spark, SF_DIR).toPandas()
    batch = (
        events_hourly(spark, SF_DIR)
        .withColumn("sum_value_cents", F.round(F.col("sum_value") * 100).cast("long"))
        .drop("sum_value")
        .toPandas()
    )
    cols = ["hour_epoch", "event_type", "n_events", "sum_value_cents"]
    s = stream_res[cols].sort_values(cols).reset_index(drop=True)
    b = batch[cols].sort_values(cols).reset_index(drop=True)
    assert s.equals(b)


def test_cluster_permutation_is_contiguous_bijection(spark):
    """B6: new ids are a bijection onto 0..n-1 and each cluster owns one
    contiguous new-id range, in label order — the reference's
    offsets/counters permutation contract (clustered_data_gen.py:28-40)."""
    from filter_vectordb_spark.sources.vectors import dense_vectors
    from filter_vectordb_spark.streaming.clustered import (
        cluster_permutation,
        quantize_labels,
    )

    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    cent = base.filter(F.col("id") < 8).select(
        F.col("id").cast("int").alias("cid"), F.col("emb").alias("cemb")
    )
    permuted, offsets = cluster_permutation(quantize_labels(base, cent))
    pdf = permuted.toPandas().sort_values("new_id").reset_index(drop=True)
    n = len(pdf)
    assert offsets[0] == 0 and offsets[-1] == n
    assert sorted(pdf["new_id"]) == list(range(n))
    labels_in_order = pdf["label"].to_numpy()
    for c in range(len(offsets) - 1):
        seg = labels_in_order[offsets[c] : offsets[c + 1]]
        assert len(set(seg)) == 1  # one cluster per contiguous range
    # label order is ascending across ranges
    firsts = [labels_in_order[offsets[c]] for c in range(len(offsets) - 1)]
    assert firsts == sorted(firsts)


def test_generated_drift_runbook_parses(tmp_path):
    """The generator's list-of-single-key-dicts YAML (no max_pts) must
    parse: steps merged, max_pts defaulted to the max insert end."""
    from filter_vectordb_spark.streaming.clustered import generate_drift_runbook
    from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml

    p = str(tmp_path / "rb.yaml")
    generate_drift_runbook(
        [0, 10, 25, 40], p, search_after=(2,), delete_first_cluster=True
    )
    rb = parse_runbook_yaml(p)
    assert rb.max_pts == 40
    ops = [(s.operation, s.start, s.end) for s in rb.steps]
    assert ops == [
        ("insert", 0, 10),
        ("insert", 10, 25),
        ("insert", 25, 40),
        ("search", None, None),
        ("delete", 0, 10),
        ("search", None, None),
    ]


def test_kmeans_labels_production_path(spark):
    """MLlib-KMeans labeling (the non-oracle production clustering) yields
    a full assignment with the requested number of clusters at most."""
    from filter_vectordb_spark.sources.vectors import dense_vectors
    from filter_vectordb_spark.streaming.clustered import kmeans_labels

    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    lab = kmeans_labels(base, 4).toPandas()
    assert len(lab) == base.count()
    assert lab["label"].nunique() <= 4
    assert set(lab.columns) >= {"id", "emb", "label"}


def test_streaming_dedup_matches_batch_links(spark):
    """Single-microbatch replay: streamed dup links == batch min-per-key."""
    from filter_vectordb_spark.operators.dedup import exact_dedup
    from filter_vectordb_spark.sources.tables import load_table
    from filter_vectordb_spark.streaming.dedup import run_dedup_links_to_memory

    links = run_dedup_links_to_memory(spark, SF_DIR, query_name="sd_batch_eq").toPandas()
    batch = exact_dedup(load_table(spark, "documents", SF_DIR)).toPandas()
    first = batch[batch["is_canonical"]].set_index("group_key")["doc_id"]
    dups = batch[~batch["is_canonical"]]
    expect = {
        (int(r.doc_id), int(r.group_key), int(first[r.group_key]))
        for r in dups.itertuples()
    }
    got = {tuple(map(int, row)) for row in links[["doc_id", "group_key", "first_id"]].values}
    assert got == expect


def test_streaming_dedup_demotes_on_out_of_order_arrival(spark, tmp_path):
    """A smaller id arriving in a LATER microbatch demotes the standing
    canonical: the old first is emitted as a link to the new min, so the
    final link set still points at the per-key minimum that has arrived."""
    import pandas as pd

    from filter_vectordb_spark.streaming.dedup import (
        dedup_links_stream,
        read_documents_stream,
    )

    src = tmp_path / "stream_src"
    src.mkdir()

    def write_docs(name, rows):
        pd.DataFrame(
            rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
        ).astype({"doc_id": "int64", "n_chars": "int64"}).to_parquet(
            src / name, index=False
        )

    # batch 1: ids 10, 11 share content; 20 is unique
    write_docs("documents.parquet", [
        (10, "alpha beta gamma", "en", "s", 16),
        (11, "gamma beta alpha", "en", "s", 16),
        (20, "delta epsilon", "en", "s", 13),
    ])
    stream = dedup_links_stream(read_documents_stream(spark, str(src), glob="*.parquet"))
    q = (
        stream.writeStream.outputMode("update")
        .format("memory")
        .queryName("sd_demote")
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: id 5 has the shared content — older than the canonical 10
        write_docs("documents2.parquet", [(5, "beta alpha gamma", "en", "s", 16)])
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.sql("SELECT doc_id, first_id FROM sd_demote").toPandas()
    links = {(int(a), int(b)) for a, b in out.values}
    assert (11, 10) in links  # batch-1 link, not retracted
    assert (10, 5) in links  # demotion link emitted in batch 2
    assert all(d != 20 for d, _ in links)  # unique doc never linked


def test_msturing1m_replay_invariants(spark):
    """Reference-scale streaming point (VERDICT r6 #4): the msturing-1M
    simple_runbook shape replayed with exact checkpoint search.  Pins the
    structural contract at full scale: 3 checkpoints, exactly k ranked
    rows per (checkpoint, qid), and the tombstoned half [0, 500k)
    absent from checkpoint 2 (it was deleted) but eligible again at
    checkpoint 3 (re-inserted).  Recall is 1.0 by construction — the
    checkpoint search is the exact k-NN operator, hash-checked at
    oracle scale elsewhere."""
    from filter_vectordb_spark import registry

    res = registry.QUERIES["streaming_replay_1m"](spark, SF_DIR)
    agg = (
        res.groupBy("checkpoint")
        .agg(
            F.count("*").alias("rows"),
            F.countDistinct("qid").alias("nq"),
            F.min("id").alias("min_id"),
        )
        .orderBy("checkpoint")
        .collect()
    )
    assert [r["checkpoint"] for r in agg] == [1, 2, 3]
    for r in agg:
        assert r["rows"] == r["nq"] * 10, r
        assert r["nq"] == 2048, r
    # checkpoint 2 searched the post-delete snapshot: ids < 500k gone
    assert agg[1]["min_id"] >= 500_000
    # checkpoints 1 and 3 search the full 1M set: some id < 500k wins
    # somewhere across 8k queries on this uniform fixture
    assert agg[0]["min_id"] < 500_000 and agg[2]["min_id"] < 500_000


def test_delete_runbook_consolidation_pressure(spark, tmp_path):
    """VERDICT r7 #4 invariants for the clustered delete-runbook shape
    (generate_delete_runbook + StreamingReplayer), at small scale with
    the same code the 1M bench row runs: the max_pts=3/4 cap must fire
    ST4 threshold consolidation at least twice, every checkpoint must
    return k rows per query, and the final checkpoint must equal exact
    brute force over the surviving id set (tombstoned ranges absent)."""
    from filter_vectordb_spark.operators.knn import knn_join
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base
    from filter_vectordb_spark.streaming.clustered import generate_delete_runbook
    from filter_vectordb_spark.streaming.runbook import (
        StreamingReplayer,
        parse_runbook_yaml,
        replay,
        simulate_replay_counters,
    )

    n, k = 2000, 5
    base = synth_uint8_base(spark, n=n, d=32).select("id", "emb").localCheckpoint()
    q = synth_queries(spark, nq=8, d=32).select("qid", "qemb")
    offsets = list(range(0, n + 1, n // 8))  # 8 equal clusters
    ypath = str(tmp_path / "delete_runbook.yaml")
    generate_delete_runbook(offsets, ypath, dataset="t")
    rb = parse_runbook_yaml(ypath, "t")
    assert rb.max_pts == n * 3 // 4
    rp = StreamingReplayer(spark, rb.max_pts)
    res = replay(spark, base, rb, q, k=k, rp=rp).toPandas()

    # insert-only ST4 trigger (ADVICE r9, reference-exact): the replay's
    # consolidation count must equal the pure-python dry run's, and the
    # cap pressure must fire at least once (a delete crossing the
    # threshold now waits for the NEXT insert, as diskann-str.py does)
    sim = simulate_replay_counters(rb)
    assert rp.consolidations == sim["consolidations"] >= 1, (
        rp.consolidations,
        sim,
    )
    assert sorted(res["checkpoint"].unique()) == [1, 2, 3, 4]
    counts = res.groupby(["checkpoint", "qid"]).size()
    assert (counts == k).all()
    # final live set: schedule deletes [0, c1_mid) ∪ [c2, c3)
    c = n // 8
    dead = set(range(0, c + c // 2)) | set(range(2 * c, 3 * c))
    last = res[res["checkpoint"] == 4]
    assert not (set(last["id"]) & dead)
    live = base.filter(~F.col("id").between(0, c + c // 2 - 1)).filter(
        ~F.col("id").between(2 * c, 3 * c - 1)
    )
    want = knn_join(q, live, k).select("qid", "rank", "id").toPandas()
    got = last[["qid", "rank", "id"]]
    merged = want.merge(got, on=["qid", "rank"], suffixes=("_w", "_g"))
    assert len(merged) == len(want) == len(got)
    assert (merged["id_w"] == merged["id_g"]).all()


def test_source_bound_replay_matches_unbound(spark, tmp_path):
    """r12 (guide §5): replay()'s default source-bound mode — the
    interval ledger compiled to an id-range filter over the source —
    must be FRAME-identical to the unbound mutable-state replayer on a
    runbook that exercises upsert collisions, range deletes and repeated
    ST4 consolidation pressure, with identical counters, and must never
    materialize a state frame (the whole point: zero localCheckpoint /
    anti-join jobs)."""
    from filter_vectordb_spark.sources.synth import synth_queries, synth_uint8_base
    from filter_vectordb_spark.streaming.clustered import generate_delete_runbook
    from filter_vectordb_spark.streaming.runbook import (
        StreamingReplayer,
        parse_runbook_yaml,
        replay,
    )

    n, k = 2000, 5
    base = synth_uint8_base(spark, n=n, d=32).select("id", "emb").localCheckpoint()
    q = synth_queries(spark, nq=8, d=32).select("qid", "qemb")
    offsets = list(range(0, n + 1, n // 8))
    ypath = str(tmp_path / "delete_runbook.yaml")
    generate_delete_runbook(offsets, ypath, dataset="t")
    rb = parse_runbook_yaml(ypath, "t")

    unbound = StreamingReplayer(spark, rb.max_pts)
    want = (
        replay(spark, base, rb, q, k=k, rp=unbound)
        .toPandas()
        .sort_values(["checkpoint", "qid", "rank"])
        .reset_index(drop=True)
    )
    bound = StreamingReplayer(spark, rb.max_pts, source=base)
    got_df = replay(spark, base, rb, q, k=k, rp=bound)
    got = (
        got_df.toPandas()
        .sort_values(["checkpoint", "qid", "rank"])
        .reset_index(drop=True)
    )
    assert bound.state is None  # ledger-only: no state frame ever built
    assert bound.consolidations == unbound.consolidations
    assert bound.unprocessed_deletes == unbound.unprocessed_deletes
    assert want.equals(got), (want.head(), got.head())


def test_consolidate_counter_parity_between_modes(spark):
    """An explicit consolidate() is a no-op before the first insert in
    BOTH replayer modes, and afterwards counts identically — the
    source-bound mode used to count one consolidation with nothing
    inserted."""
    from filter_vectordb_spark.sources.synth import synth_uint8_base
    from filter_vectordb_spark.streaming.runbook import StreamingReplayer

    base = synth_uint8_base(spark, n=200, d=8).select("id", "emb")
    unbound = StreamingReplayer(spark, max_pts=1000)
    bound = StreamingReplayer(spark, max_pts=1000, source=base)
    assert not unbound.source_bound and bound.source_bound
    for rp in (unbound, bound):
        rp.consolidate()
    assert bound.consolidations == unbound.consolidations == 0
    unbound.insert(base.filter("id < 100"), 0, 100)
    bound.insert(None, 0, 100)
    for rp in (unbound, bound):
        rp.delete_range(10, 20)
        rp.consolidate()
    assert bound.consolidations == unbound.consolidations == 1
    assert bound.unprocessed_deletes == unbound.unprocessed_deletes == 0
