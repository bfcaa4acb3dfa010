"""Streaming track: op-log runbook replay (SURVEY.md §2.9 ST1-ST6).

The reference's streaming track replays a YAML runbook of
insert / delete / search steps against a dynamic ANN index under a
capacity cap (`streaming/run.py:22-78`), with tombstone deletes and
threshold-triggered consolidation (`streaming/diskann/diskann-str.py:60-99`).
There is no event time, no watermark, no late data — it is an op log.

Spark-native state model: a keyed state DataFrame (id, emb, deleted).
  ST2 insert  = upsert (anti-join out colliding ids, union new rows) —
                id collision replaces the old vector, matching HNSW's
                in-place update (`hnswalg.h:1761-1780`);
  ST3 delete  = tombstone flag, queries filter `NOT deleted`
                (`hnswalg.h:1392-1432` markDelete);
  ST4 consolidate = physical rewrite dropping tombstones when
                active + unprocessed_deletes ≥ max_pts — the reference's
                trigger accounting (`diskann-str.py:79-81`), not its
                mechanism;
  ST5 search  = the exact k-NN plan against the current snapshot;
  ST6 range   = dist ≤ r filter (declared by the runner
                `streaming/run.py:49-51`, unimplemented by every
                reference engine; trivial here).

On a real deployment the state table is Delta/Iceberg and insert/delete
are MERGE INTO / UPDATE with OPTIMIZE as consolidation; this container has
no lake-format jars, so the replayer keeps the state as a DataFrame with
`localCheckpoint()` to truncate lineage — the operation algebra is
identical.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from filter_vectordb_spark.operators.knn import knn_join


@dataclass
class RunbookStep:
    operation: str  # insert | delete | search | range
    start: int | None = None
    end: int | None = None
    radius: float | None = None


@dataclass
class Runbook:
    max_pts: int
    steps: list[RunbookStep] = field(default_factory=list)


def parse_runbook_yaml(path: str, dataset: str | None = None) -> Runbook:
    """Parse the reference's runbook formats: a map dataset → {max_pts?,
    step_index: step} with integer-keyed ordered steps
    (`streaming/simple_runbook.yaml:1-21`, `streaming/run.py:33-58`).

    A step is either a flat dict {operation, start, end} (hand-written
    runbooks) or the generator's list-of-single-key-dicts form
    [{operation: insert}, {start: 0}, {end: 10}]
    (`streaming/clustered_data_gen.py:79-88`), which also omits max_pts —
    defaulted to the max insert `end` then.
    """
    import yaml

    with open(path) as f:
        doc = yaml.safe_load(f)
    if dataset is None:
        dataset = next(iter(doc))
    spec = doc[dataset]
    steps = []
    for key in sorted(k for k in spec if isinstance(k, int) or str(k).isdigit()):
        s = spec[key]
        if isinstance(s, list):  # generator form: merge the one-key dicts
            merged: dict = {}
            for item in s:
                merged.update(item)
            s = merged
        steps.append(
            RunbookStep(
                operation=s["operation"],
                start=s.get("start"),
                end=s.get("end"),
                radius=s.get("radius"),
            )
        )
    if "max_pts" in spec:
        max_pts = int(spec["max_pts"])
    else:
        ends = [st.end for st in steps if st.operation == "insert" and st.end]
        if not ends:
            raise ValueError(f"runbook {path!r} has no max_pts and no insert steps")
        max_pts = max(ends)
    return Runbook(max_pts=max_pts, steps=steps)


def scale_runbook(rb: Runbook, numerator: int, denominator: int) -> Runbook:
    """Rescale a runbook's id universe by numerator/denominator with
    exact integer arithmetic (x·num // den) — replaying the reference's
    VERBATIM 10M runbooks against a staged 1M corpus (VERDICT r8 missing
    #2) scales every insert/delete range and max_pts by 1/10.  Shared
    endpoints stay shared (same value → same scaled value), so step
    contiguity, overlap structure, and the insert/delete interleave are
    preserved; search/range steps pass through untouched."""
    steps = [
        RunbookStep(
            operation=s.operation,
            start=None if s.start is None else s.start * numerator // denominator,
            end=None if s.end is None else s.end * numerator // denominator,
            radius=s.radius,
        )
        for s in rb.steps
    ]
    return Runbook(max_pts=rb.max_pts * numerator // denominator, steps=steps)


def simulate_replay_counters(rb: Runbook) -> dict:
    """Dry-run the replayer's CONTROL PLANE only — the interval ledger
    and the ST4 trigger arithmetic (`diskann-str.py:79-81`), zero Spark
    jobs.  Returns {searches, consolidations, final_active,
    final_unprocessed}: the structural invariants a full replay of the
    same runbook must reproduce exactly (StreamingReplayer uses the
    identical accounting), pinned in tests against the reference's
    verbatim YAMLs."""
    live: list[tuple[int, int]] = []
    unprocessed = 0
    consolidations = 0
    searches = 0
    for s in rb.steps:
        if s.operation == "insert":
            live, _ = _sub_interval(live, s.start, s.end)
            live.append((s.start, s.end))
            # trigger checked at INSERT only — the reference's
            # `diskann-str.py` insert() tests active+unprocessed AFTER
            # adding the new ids and never checks at delete time
            # (ADVICE r9: the old delete-time check could fire one
            # consolidation early when a delete crossed the threshold).
            # The reference fires even with ZERO unprocessed deletes
            # (`diskann-str.py:79-81` has no tombstone guard): when
            # active alone reaches max_pts the consolidation is a
            # physical no-op but the COUNTER still increments — dropped
            # our extra `unprocessed != 0` guard to match the arithmetic
            # exactly (VERDICT r10 wrong #3)
            if sum(e - st for st, e in live) + unprocessed >= rb.max_pts:
                unprocessed = 0
                consolidations += 1
        elif s.operation == "delete":
            live, n_new = _sub_interval(live, s.start, s.end)
            unprocessed += n_new
        elif s.operation in ("search", "range"):
            searches += 1
    return {
        "searches": searches,
        "consolidations": consolidations,
        "final_active": sum(e - st for st, e in live),
        "final_unprocessed": unprocessed,
    }


def _sub_interval(intervals: list[tuple[int, int]], start: int, end: int) -> tuple[list[tuple[int, int]], int]:
    """Remove [start, end) from a disjoint interval list; returns
    (new_intervals, number_of_points_removed)."""
    out: list[tuple[int, int]] = []
    removed = 0
    for s, e in intervals:
        lo, hi = max(s, start), min(e, end)
        if lo < hi:
            removed += hi - lo
            if s < lo:
                out.append((s, lo))
            if hi < e:
                out.append((hi, e))
        else:
            out.append((s, e))
    return out, removed


class StreamingReplayer:
    """ST1 setup: empty capacity-capped state (`streaming/base.py:9-16`).

    Control plane vs data plane: every runbook mutation is an id RANGE,
    so live-point accounting (the ST4 consolidation trigger,
    `diskann-str.py:79-81`) is exact pure-Python interval arithmetic — no
    count() jobs against the cluster.  Only the vectors themselves live in
    the state DataFrame; lineage is truncated with a localCheckpoint every
    few mutations rather than every step (each eager checkpoint is a full
    materialization)."""

    CHECKPOINT_EVERY = 4

    def __init__(
        self, spark: SparkSession, max_pts: int, source: DataFrame | None = None
    ):
        self.spark = spark
        self.max_pts = max_pts
        self.state: DataFrame | None = None
        self.unprocessed_deletes = 0
        self.consolidations = 0  # ST4 physical rewrites performed
        self._live: list[tuple[int, int]] = []  # disjoint id intervals
        self._mutations = 0
        # consecutive inserts coalesce into ONE union+anti-join at the
        # next read/delete — drift runbooks insert cluster after cluster
        # between searches, and per-step state rewrites are pure overhead
        self._pending: list[tuple[DataFrame, int, int]] = []
        # SOURCE-BOUND mode (r12, guide §5 driver section): when every
        # insert is a canonical id-range slice of ONE immutable frame —
        # the `replay()` contract, `streaming/run.py:39-41`'s
        # `ids = arange(start, end)` — the interval ledger IS the state:
        # upsert replaces a row with the identical source row, delete
        # subtracts a range, so the active snapshot is exactly
        # source ⋉ live-intervals.  active() then compiles the ledger to
        # an id-range filter (row-group-prunable on the range-partitioned
        # bases) instead of maintaining a mutable DataFrame: the per-step
        # anti-join + unionByName and every eager localCheckpoint (a full
        # 1M-row materialization each, ~7 per 30-step runbook — the
        # measured majority of the 1M replay walls) disappear; the
        # consolidation-counter arithmetic is untouched and stays
        # identical to simulate_replay_counters.  Arbitrary-row inserts
        # (no declared range / rows not a slice of `source`) are only
        # legal in the unbound mode.
        self._source = source
        self._source_inserted = False

    @property
    def source_bound(self) -> bool:
        """True when inserts are id-range slices of the bound source
        (rows may be None); False for the unbound, row-carrying mode."""
        return self._source is not None

    def _truncate_lineage(self, force: bool = False) -> None:
        self._mutations += 1
        if force or self._mutations % self.CHECKPOINT_EVERY == 0:
            self.state = self.state.localCheckpoint(eager=True)

    def _flush(self) -> None:
        if not self._pending:
            return
        batch = self._pending[0][0]
        for rows, _, _ in self._pending[1:]:
            batch = batch.unionByName(rows)
        batch = batch.select("id", "emb").withColumn("deleted", F.lit(False))
        if self.state is None:
            self.state = batch
        else:
            # broadcast the id side of the collision anti-join: the batch
            # is one runbook step's rows (bounded), where shuffling the
            # FULL state costs a 1M-row exchange per upsert at the
            # msturing-1M point (measured ~2× the reinsert+search wall)
            kept = self.state.join(
                F.broadcast(batch.select("id")), "id", "left_anti"
            )
            self.state = kept.unionByName(batch)
        self._pending = []
        self._truncate_lineage()

    # -- ST2 ---------------------------------------------------------------
    def insert(self, rows: DataFrame | None, start: int | None = None, end: int | None = None) -> None:
        """Upsert (id, emb) rows; colliding ids are replaced.  start/end
        declare the id range (the runbook contract); when omitted the
        range is probed from the rows (two tiny agg jobs).  Source-bound
        replayers take the ledger-only path: rows may be None (they are
        source[start:end) by contract) and no state frame is built."""
        if self._source is not None:
            if start is None or end is None:
                raise ValueError("source-bound insert needs an explicit id range")
            self._live, _ = _sub_interval(self._live, start, end)
            self._live.append((start, end))
            self._source_inserted = True
            self._maybe_consolidate()
            return
        if start is None or end is None:
            lohi = rows.agg(F.min("id"), F.max("id")).collect()[0]
            start, end = int(lohi[0]), int(lohi[1]) + 1
        if any(start < pe and ps < end for _, ps, pe in self._pending):
            # overlapping ranges within one batch would make "last write
            # wins" ambiguous in a single union — flush the earlier ones
            self._flush()
        self._pending.append((rows.select("id", "emb"), start, end))
        self._live, _ = _sub_interval(self._live, start, end)  # replace collisions
        self._live.append((start, end))
        self._maybe_consolidate()

    # -- ST3 ---------------------------------------------------------------
    def delete_range(self, start: int, end: int) -> None:
        """Tombstone ids in [start, end) (`streaming/run.py:42-44`)."""
        if self._source is not None:
            # ledger-only: active() derives the snapshot from _live, so
            # the tombstone flag never needs materializing
            self._live, n_new = _sub_interval(self._live, start, end)
            self.unprocessed_deletes += n_new
            return
        self._flush()
        if self.state is None:
            return
        self.state = self.state.withColumn(
            "deleted", F.col("deleted") | F.col("id").between(start, end - 1)
        )
        self._live, n_new = _sub_interval(self._live, start, end)
        self.unprocessed_deletes += n_new
        # no trigger check here: the reference consolidates only at
        # insert time (`diskann-str.py` — delete() just tombstones and
        # counts); checking here too fired one consolidation early when
        # a delete crossed the threshold (ADVICE r9)
        self._truncate_lineage()

    # -- ST4 ---------------------------------------------------------------
    def _maybe_consolidate(self) -> None:
        """Physical tombstone removal when active + unprocessed deletes
        would exceed capacity (`diskann-str.py:79-81` trigger rule) —
        trigger arithmetic from the interval ledger, zero jobs.  The
        reference fires even with zero unprocessed deletes (no tombstone
        guard in its insert()): the rewrite is skipped as a physical
        no-op then, but the counter increments so the consolidation
        count matches `diskann-str.py` exactly (VERDICT r10 wrong #3)."""
        active = sum(e - s for s, e in self._live)
        if active + self.unprocessed_deletes >= self.max_pts:
            if self.state is not None and self.unprocessed_deletes:
                self.state = self.state.filter(~F.col("deleted"))
            self.unprocessed_deletes = 0
            self.consolidations += 1

    def consolidate(self) -> None:
        """Explicit compaction (Delta OPTIMIZE analog).  A no-op before
        the first insert in both modes, so the counters stay in parity."""
        if self._source is not None:
            if not self._source_inserted:
                return
            self.unprocessed_deletes = 0
            self.consolidations += 1
            return
        self._flush()
        if self.state is not None:
            self.state = self.state.filter(~F.col("deleted")).localCheckpoint(
                eager=True
            )
            self.unprocessed_deletes = 0
            self._mutations = 0
            self.consolidations += 1

    # -- ST5/ST6 -----------------------------------------------------------
    def active(self) -> DataFrame:
        if self._source is not None:
            if not self._source_inserted:
                raise RuntimeError("setup/insert before search")
            src = self._source.select("id", "emb")
            if not self._live:
                return src.filter(F.lit(False))  # everything deleted
            conds = [
                F.col("id").between(s, e - 1) for s, e in sorted(self._live)
            ]
            cond = conds[0]
            for c in conds[1:]:
                cond = cond | c
            return src.filter(cond)
        self._flush()
        if self.state is None:
            raise RuntimeError("setup/insert before search")
        return self.state.filter(~F.col("deleted")).select("id", "emb")

    def search(
        self,
        queries: DataFrame,
        k: int,
        strategy: str = "vectorized",
        compute_dtype: str = "float64",
    ) -> DataFrame:
        """Exact k-NN against the current snapshot (the reference measures
        recall of its approximate index against exactly this).
        compute_dtype="float32" stays exact on integer-valued corpora
        (knn_join contract) — the msturing-1M-shaped replay uses it."""
        return knn_join(
            queries, self.active(), k, strategy=strategy,
            compute_dtype=compute_dtype,
        )

    def range_query(self, queries: DataFrame, radius: float) -> DataFrame:
        """ST6: all ids within squared-L2 radius (`streaming/run.py:49-51`)."""
        from filter_vectordb_spark.functions.distance import l2_sq

        q = queries.select("qid", "qemb")
        return (
            self.active()
            .crossJoin(F.broadcast(q))
            .select("qid", "id", l2_sq(F.col("qemb"), F.col("emb")).alias("dist"))
            .filter(F.col("dist") <= radius)
            .select("qid", "id", "dist")
        )


def replay(
    spark: SparkSession,
    source: DataFrame,
    runbook: Runbook,
    queries: DataFrame,
    k: int = 10,
    compute_dtype: str = "float64",
    rp: StreamingReplayer | None = None,
) -> DataFrame:
    """Replay a runbook, returning stacked search-checkpoint results
    (checkpoint INT, qid, rank, id) — the reference records results at
    every search step (`streaming/run.py:54-56`).

    `source` supplies (id, emb); insert steps slice it by id range, the
    runner's `ids = arange(start, end)` semantics (`streaming/run.py:39-41`).
    Pass a pre-built `rp` to inspect replayer counters (consolidations,
    unprocessed deletes) after the run — the consolidation-pressure
    tests do."""
    if rp is None:
        # replay's inserts are by construction canonical source slices,
        # so the ledger-backed source-bound mode applies (see
        # StreamingReplayer.__init__) — state frames, anti-joins and
        # localCheckpoint materializations all drop out; a caller-built
        # rp keeps its own (usually unbound) mode
        rp = StreamingReplayer(spark, runbook.max_pts, source=source)
    results: list[DataFrame] = []
    checkpoint = 0
    for step in runbook.steps:
        if step.operation == "insert":
            rows = (
                None
                if rp.source_bound
                else source.filter(F.col("id").between(step.start, step.end - 1))
            )
            rp.insert(rows, step.start, step.end)
        elif step.operation == "delete":
            rp.delete_range(step.start, step.end)
        elif step.operation == "search":
            checkpoint += 1
            res = rp.search(queries, k, compute_dtype=compute_dtype).select(
                F.lit(checkpoint).alias("checkpoint"), "qid", "rank", "id"
            )
            results.append(res)
        elif step.operation == "range":
            checkpoint += 1
            res = rp.range_query(queries, step.radius).select(
                F.lit(checkpoint).alias("checkpoint"),
                "qid",
                F.lit(None).cast("int").alias("rank"),
                "id",
            )
            results.append(res)
        else:
            raise ValueError(f"unknown runbook operation {step.operation!r}")
    if not results:
        raise ValueError("runbook contains no search step")
    out = results[0]
    for r in results[1:]:
        out = out.unionByName(r)
    return out


def recall_at_k(results: DataFrame, truth: DataFrame, k: int) -> DataFrame:
    """A5: mean overlap/k per checkpoint vs ground truth (qid, id) pairs
    (`streaming/run.py:54-56`, `README.md:26`)."""
    hits = results.join(truth, ["qid", "id"]).groupBy("checkpoint", "qid").count()
    per_q = hits.withColumn("recall", F.col("count") / F.lit(float(k)))
    return per_q.groupBy("checkpoint").agg(F.avg("recall").alias("mean_recall"))
