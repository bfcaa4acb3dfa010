"""The seeded workloads.

Each workload makes its query batches from the benchmark's seed with the
closed-form numpy twins of the staged corpora, hands the program only
the generated DataFrames, and checks a seeded sample of every batch
against exact numpy ground truth (tie-aware recall@10, outside the timed
region).  `layers()` is the traced run's per-layer probe: it calls each
layer's public functions on the workload's own inputs and materialises
them alone.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from stats import tie_aware_recall

K = 10
#: queries per batch whose answers are checked against numpy
SAMPLE = 8

_K1 = 2654435761
_K3 = 2246822519


def uint8_base_matrix(ids: np.ndarray, d: int) -> np.ndarray:
    """Closed form of sources.synth.synth_uint8_base's embedding pattern."""
    ids = np.asarray(ids, dtype=np.int64)
    js = np.arange(d, dtype=np.int64)
    return ((ids[:, None] * _K1) ^ ((js[None, :] + 1) * _K3)) >> 11


def _uint8_base(ids: np.ndarray, d: int) -> np.ndarray:
    return (uint8_base_matrix(ids, d) % 251).astype(np.float32)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _blocks(n: int, step: int = 100_000):
    for lo in range(0, n, step):
        yield np.arange(lo, min(n, lo + step), dtype=np.int64)


class Workload:
    name = ""
    fixture = ""
    nq = 0
    #: answers per query per batch (checkpoints for the runbook)
    answers_per_query = 1
    #: per-layer metrics only this workload reports, with their units
    extra_layers: dict[str, str] = {}

    def __init__(self, seed: int):
        self.seed = seed
        self.path = ""

    def pick(self, i: int, space: int, n: int | None) -> np.ndarray:
        """n (default nq) seeded distinct query ids of batch i."""
        n = n or self.nq
        rng = np.random.default_rng([self.seed, i])
        return np.sort(rng.choice(space, n, replace=False)).astype(np.int64)

    def warm_sizes(self) -> tuple[int, ...]:
        """Query counts of the warm batches.  One eighth of a batch runs
        the same plan and pays the cold costs (worker start, imports,
        first-touch memory)."""
        return (self.nq // 8,)

    def sample(self, qids: np.ndarray, i: int) -> np.ndarray:
        """The SAMPLE query ids of batch i checked against numpy."""
        rng = np.random.default_rng([self.seed, i, 1])
        return np.sort(rng.choice(qids, SAMPLE, replace=False))

    # -- set-up -------------------------------------------------------------
    def load(self, spark, path: str) -> None:
        self.path = path

    # -- per batch ------------------------------------------------------------
    def batch(self, spark, i: int, n: int | None = None):
        """(DataFrame inputs, sampled qids) of batch i with n queries."""
        raise NotImplementedError

    def run(self, spark, inputs) -> pd.DataFrame:
        """The timed call: inputs to materialised answers."""
        raise NotImplementedError

    def truth(self, sampled: list[np.ndarray]) -> None:
        """Exact answers for the sampled queries of every batch."""
        raise NotImplementedError

    def recall(self, result: pd.DataFrame, sampled: np.ndarray) -> float:
        """Lowest tie-aware recall@K over the sampled queries."""
        raise NotImplementedError

    def stored_bytes_per_vector_byte(self) -> float:
        raise NotImplementedError

    def layers(self, spark, inputs, tag) -> dict:
        """Per-layer metrics {name: (value, unit)} from one probe pass."""
        raise NotImplementedError


def _parquet_bytes(files, columns=None) -> int:
    import pyarrow.parquet as pq

    total = 0
    for p in files:
        meta = pq.read_metadata(p)
        for rg in range(meta.num_row_groups):
            g = meta.row_group(rg)
            for c in range(g.num_columns):
                col = g.column(c)
                if columns is None or col.path_in_schema.split(".")[0] in columns:
                    total += col.total_compressed_size
    return total


# ------------------------------------------------------------------- filter
class FilterYfcc(Workload):
    """8,192 1-2-tag conjunctive L2 queries through filtered_search."""

    name = "filter-yfcc-100k"
    fixture = "yfcc100k-index"
    nq = 8192
    n = 100_000

    def warm_sizes(self):
        # full size: a smaller batch can take the other meta plan
        return (self.nq,)

    def batch(self, spark, i, n=None):
        from filter_vectordb_spark.sources.synth import (
            _YFCC_Q_OFFSET,
            yfcc_draws,
            yfcc_emb_matrix,
        )

        qids = self.pick(i, self.n, n)
        E = yfcc_emb_matrix(qids + _YFCC_Q_OFFSET).astype(np.int32)
        qtags = []
        for qid, row in zip(qids, yfcc_draws(qids)):
            distinct = list(dict.fromkeys(int(t) for t in row))
            qtags.append(np.array(distinct[: 1 + qid % 2], dtype=np.int32))
        pdf = pd.DataFrame({"qid": qids, "qemb": list(E), "qtags": qtags})
        df = spark.createDataFrame(pdf, "qid BIGINT, qemb ARRAY<INT>, qtags ARRAY<INT>")
        return (df, pdf), self.sample(qids, i)

    def run(self, spark, inputs):
        from filter_vectordb_spark.index.filteridx import filtered_search

        return filtered_search(spark, self.path, inputs[0], K).select(
            "qid", "rank", "id"
        ).toPandas()

    def truth(self, sampled):
        from filter_vectordb_spark.sources.synth import (
            _YFCC_Q_OFFSET,
            yfcc_draws,
            yfcc_emb_matrix,
        )

        ids = np.arange(self.n, dtype=np.int64)
        E = yfcc_emb_matrix(ids).astype(np.float64)
        T = yfcc_draws(ids)
        allq = np.concatenate(sampled)
        Q = yfcc_emb_matrix(allq + _YFCC_Q_OFFSET).astype(np.float64)
        # integer L2 by expansion: exact in float64
        D = (E * E).sum(axis=1)[:, None] - 2.0 * (E @ Q.T) + (Q * Q).sum(axis=1)[None, :]
        self._truth = {}
        for r, (qid, row) in enumerate(zip(allq, yfcc_draws(allq))):
            need = list(dict.fromkeys(int(t) for t in row))[: 1 + qid % 2]
            ok = np.ones(self.n, dtype=bool)
            for t in need:
                ok &= (T == t).any(axis=1)
            self._truth[int(qid)] = (ok, D[:, r].copy())

    def recall(self, result, sampled):
        rs = []
        for qid in sampled:
            ok, dist = self._truth[int(qid)]
            got = result[result["qid"] == qid].sort_values("rank")["id"].to_numpy()
            returned = {int(x): (float(dist[x]) if 0 <= x < self.n and ok[x] else None) for x in got}
            if len(returned) != len(got):
                rs.append(0.0)
                continue
            rs.append(tie_aware_recall(returned, dist[ok].astype(float), K, larger=False))
        return min(rs)

    def stored_bytes_per_vector_byte(self):
        """Index bytes on disk per byte of raw uint8 corpus payload."""
        total = 0
        for d, _dirs, files in os.walk(self.path):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
        return total / (self.n * 192)

    def route_parts(self, spark, qpdf):
        """The three route frames of filtered_search, built alone, plus the
        routing wall and per-query candidate estimates."""
        from filter_vectordb_spark.index import filteridx as fi

        t0 = time.perf_counter()
        ndoc, n_base, min_freq, off, pair_files, tag_files, C, has_xn = fi._load_routing(
            spark, self.path
        )
        r_pair, r_tag, r_meta, tag_col, other_col = fi._route(
            qpdf["qtags"], ndoc, min_freq * n_base, pair_files, tag_files
        )
        route_s = time.perf_counter() - t0
        parts = {}
        cand = 0
        if r_pair:
            pp = qpdf.iloc[r_pair].copy()
            tt = np.array([sorted({int(x) for x in t}) for t in pp["qtags"]])
            pp["tag_a"], pp["tag_b"] = tt[:, 0], tt[:, 1]
            parts["pair"] = lambda: fi._score_pairview(spark, pair_files, pp, K, off)
            rows = {}
            import pyarrow.parquet as pq

            for a, b in zip(pp["tag_a"], pp["tag_b"]):
                if (a, b) not in rows:
                    rows[(a, b)] = sum(
                        pq.read_metadata(p).num_rows for p in pair_files[(a, b)]
                    )
                cand += rows[(a, b)]
        if r_tag:
            tp = qpdf.iloc[r_tag].copy()
            tp["tag"] = tag_col[r_tag]
            tp["other"] = other_col[r_tag]
            tb = fi._tag_bins(self.path)
            parts["tag"] = lambda: fi._score_tagview(
                spark, tag_files, tp, K, off, has_xn, bins=tb
            )
            cand += int(sum(ndoc.get(int(t), 0) for t in tp["tag"]))
        if r_meta:
            mp = qpdf.iloc[r_meta]
            est = sum(min(ndoc.get(int(x), 0) for x in t) for t in mp["qtags"])
            cand += est
            if est <= fi.GATHER_MAX_CAND_FRAC * n_base:
                parts["meta"] = lambda: fi._score_meta_gather(
                    spark, f"{self.path}/codes", mp, K, off, broadcast_cand=True
                )
            elif os.path.exists(f"{self.path}/meta_bin/_SUCCESS.json"):
                parts["meta"] = lambda: fi._score_meta_bin(
                    spark, f"{self.path}/meta_bin", mp, K, off, ndoc=ndoc
                )
            else:
                parts["meta"] = lambda: fi._score_meta(
                    spark, f"{self.path}/codes", mp, K, off, ndoc=ndoc, has_xn=has_xn
                )
        mix = {"pair": len(r_pair), "tag": len(r_tag), "meta": len(r_meta)}
        return parts, route_s, mix, cand

    def layers(self, spark, inputs, tag):
        from filter_vectordb_spark.operators.topk import per_group_topk
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        df, _pdf = inputs
        sc.setJobGroup(f"{tag}:route", "routing")
        t0 = time.perf_counter()
        qpdf = df.select("qid", "qemb", "qtags").toPandas()
        collect_s = time.perf_counter() - t0
        parts, route_s, mix, cand = self.route_parts(spark, qpdf)
        out = {
            "filteridx.route_s": (route_s + collect_s, "s"),
            "filteridx.q_pair": (mix["pair"], "count"),
            "filteridx.q_tag": (mix["tag"], "count"),
            "filteridx.q_meta": (mix["meta"], "count"),
        }
        names = {"pair": "pairview_s", "tag": "tagview_s", "meta": "meta_s"}
        frames = []
        for route, build in parts.items():
            sc.setJobGroup(f"{tag}:{route}", route)
            t0 = time.perf_counter()
            frame = build()
            noop(frame)
            out[f"filteridx_kernels.{names[route]}"] = (time.perf_counter() - t0, "s")
            frames.append(frame)
        for route in names:
            out.setdefault(f"filteridx_kernels.{names[route]}", (0.0, "s"))
        sc.setJobGroup(f"{tag}:partials", "partials")
        scored = frames[0]
        for f in frames[1:]:
            scored = scored.unionByName(f)
        scored = scored.persist()
        rows_in = scored.count()
        sc.setJobGroup(f"{tag}:merge", "merge")
        t0 = time.perf_counter()
        merged = per_group_topk(scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], K)
        nres = merged.count()
        out["topk.merge_s"] = (time.perf_counter() - t0, "s")
        out["topk.rows_in"] = (rows_in, "count")
        out["filteridx.cand_per_result"] = (cand / max(1, nres), "ratio")
        scored.unpersist()
        return out


# ---------------------------------------------------------------------- OOD
class OodExact(Workload):
    """1,024 OOD exact inner-product top-10 queries through knn_join's
    direct-read scan over the 1M x 192 base."""

    name = "ood-exact-1m"
    fixture = "synth1m-base"
    nq = 1024
    n = 1_000_000
    d = 192

    def load(self, spark, path):
        self.path = path
        self.base = spark.read.parquet(path)

    def batch(self, spark, i, n=None):
        from filter_vectordb_spark.sources.synth import ood_matrix

        qids = self.pick(i, 1 << 24, n)
        pdf = pd.DataFrame({"qid": qids, "qemb": list(ood_matrix(qids).astype(np.int32))})
        return spark.createDataFrame(pdf, "qid BIGINT, qemb ARRAY<INT>"), self.sample(qids, i)

    def scored(self, q):
        from filter_vectordb_spark.operators.knn import _score_vectorized

        return _score_vectorized(q, self.base, "ip", K, "float32", self.path)

    def run(self, spark, inputs):
        from filter_vectordb_spark.operators.knn import knn_join

        return knn_join(
            inputs, self.base, K, metric="ip", strategy="vectorized",
            compute_dtype="float32", base_dir=self.path,
        ).select("qid", "rank", "id").toPandas()

    def truth(self, sampled):
        from filter_vectordb_spark.sources.synth import ood_matrix

        allq = np.concatenate(sampled)
        Q = ood_matrix(allq).astype(np.float32)
        best = np.full((len(allq), 0), -np.inf)
        for ids in _blocks(self.n):
            G = Q @ _uint8_base(ids, self.d).T
            best = np.concatenate([best, -np.partition(-G, K - 1, axis=1)[:, :K]], axis=1)
            best = -np.partition(-best, K - 1, axis=1)[:, :K]
        self._kth = dict(zip(allq.tolist(), np.sort(best, axis=1)[:, ::-1].tolist()))

    def recall(self, result, sampled):
        from filter_vectordb_spark.sources.synth import ood_matrix

        rs = []
        for qid in sampled:
            got = result[result["qid"] == qid].sort_values("rank")["id"].to_numpy()
            ok = (got >= 0) & (got < self.n)
            s = _uint8_base(np.where(ok, got, 0), self.d) @ ood_matrix([qid])[0].astype(np.float32)
            returned = {int(x): (float(v) if o else None) for x, v, o in zip(got, s, ok)}
            if len(returned) != len(got):
                rs.append(0.0)
                continue
            rs.append(tie_aware_recall(returned, self._kth[int(qid)], K, larger=True))
        return min(rs)

    def files(self):
        import glob

        return sorted(glob.glob(f"{self.path}/*.parquet"))

    def stored_bytes_per_vector_byte(self):
        return _parquet_bytes(self.files(), ("id", "emb")) / (self.n * self.d)

    def units(self, spark):
        """The scan's (file, rg_lo, rg_hi) task units, planned as
        knn._score_vectorized_chunk_direct plans them."""
        import pyarrow.parquet as pq

        rg = [(p, pq.ParquetFile(p).num_row_groups) for p in self.files()]
        step = max(1, sum(n for _, n in rg) // (4 * spark.sparkContext.defaultParallelism))
        return [(p, lo, min(lo + step, n)) for p, n in rg for lo in range(0, n, step)]

    def replay(self, spark, q_pdf, stride: int = 8) -> dict:
        """Single-thread replay of every `stride`-th scan unit's body:
        read, list decode, cast, gemm_topk — scaled to all units."""
        import pyarrow.parquet as pq

        from filter_vectordb_spark.operators.knn import flatten_fixed_list, gemm_topk

        Q = np.stack(q_pdf["qemb"].to_numpy()).astype(np.float32)
        units = self.units(spark)
        t = dict.fromkeys(("read", "decode", "cast", "gemm"), 0.0)
        rows = 0
        for path, lo, hi in units[::stride]:
            t0 = time.perf_counter()
            tbl = pq.ParquetFile(path).read_row_groups(list(range(lo, hi)), columns=["id", "emb"])
            t1 = time.perf_counter()
            X = flatten_fixed_list(tbl.column("emb"), tbl.num_rows)
            t2 = time.perf_counter()
            X = X.astype(np.float32)
            t3 = time.perf_counter()
            gemm_topk(Q, None, X, None, "ip", K)
            t4 = time.perf_counter()
            t["read"] += t1 - t0
            t["decode"] += t2 - t1
            t["cast"] += t3 - t2
            t["gemm"] += t4 - t3
            rows += tbl.num_rows
        scale = self.n / max(1, rows)
        return {k_: v * scale for k_, v in t.items()}

    def layers(self, spark, inputs, tag):
        from filter_vectordb_spark.operators.topk import per_group_topk
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        sc.setJobGroup(f"{tag}:partials", "partials")
        scored = self.scored(inputs).persist()
        rows_in = scored.count()
        sc.setJobGroup(f"{tag}:merge", "merge")
        t0 = time.perf_counter()
        per_group_topk(scored, ["qid"], [F.col("dist").desc(), F.col("id").asc()], K).count()
        merge_s = time.perf_counter() - t0
        scored.unpersist()
        rp = self.replay(spark, inputs.toPandas())
        gflop = 2.0 * self.nq * self.n * self.d / 1e9
        return {
            "topk.merge_s": (merge_s, "s"),
            "topk.rows_in": (rows_in, "count"),
            "knn.read_s": (rp["read"], "s"),
            "knn.decode_s": (rp["decode"], "s"),
            "knn.cast_s": (rp["cast"], "s"),
            "knn.gemm_topk_s": (rp["gemm"], "s"),
            "knn.rows": (self.n, "count"),
            "knn.bytes_read": (_parquet_bytes(self.files(), ("id", "emb")), "B"),
            "knn.gflop": (gflop, "GFLOP"),
            # turned into knn.kernel_share by the caller, from spark.task_s
            "knn.replay_s": (sum(rp.values()), "s"),
        }


# ----------------------------------------------------------------- runbook
class StreamRunbook(Workload):
    """The msturing-1M runbook replayed with 256 queries per checkpoint."""

    name = "stream-runbook-1m"
    fixture = "msturing1m-base"
    nq = 256
    extra_layers = {
        "runbook.ledger_s": "s",
        "runbook.search_s.c1": "s",
        "runbook.search_s.c2": "s",
        "runbook.search_s.c3": "s",
        "runbook.scans": "count",
        "runbook.rows_read_per_live_row": "ratio",
    }
    n = 1_000_000
    d = 100

    def load(self, spark, path):
        from pyspark.sql import functions as F

        from filter_vectordb_spark.streaming.runbook import parse_runbook_yaml

        import filter_vectordb_spark.streaming as st

        self.path = path
        self.base = spark.read.parquet(path).filter(F.col("id") < self.n)
        ypath = os.path.join(os.path.dirname(st.__file__), "msturing1m_runbook.yaml")
        self.rb = parse_runbook_yaml(ypath, "synth-msturing-1m")
        self.live = self.live_sets()
        self.answers_per_query = len(self.live)

    def live_sets(self) -> list[np.ndarray]:
        """Boolean live mask of the corpus at each search checkpoint."""
        live = np.zeros(self.n, dtype=bool)
        out = []
        for step in self.rb.steps:
            if step.operation == "insert":
                live[step.start : step.end] = True
            elif step.operation == "delete":
                live[step.start : step.end] = False
            elif step.operation == "search":
                out.append(live.copy())
        return out

    def batch(self, spark, i, n=None):
        qids = self.pick(i, 1 << 20, n)
        E = (uint8_base_matrix(qids + (1 << 30), self.d) % 251).astype(np.int32)
        pdf = pd.DataFrame({"qid": qids, "qemb": list(E)})
        return spark.createDataFrame(pdf, "qid BIGINT, qemb ARRAY<INT>"), self.sample(qids, i)

    def run(self, spark, inputs):
        from filter_vectordb_spark.streaming.runbook import replay

        return replay(spark, self.base, self.rb, inputs, k=K, compute_dtype="float32").select(
            "checkpoint", "qid", "rank", "id"
        ).toPandas()

    def truth(self, sampled):
        allq = np.concatenate(sampled)
        Q = _uint8_base(allq + (1 << 30), self.d).astype(np.float64)
        qn = (Q * Q).sum(axis=1)
        # integer L2 below 2^24: exact in float32
        self._dist = np.empty((len(allq), self.n), dtype=np.float32)
        for ids in _blocks(self.n):
            X = _uint8_base(ids, self.d).astype(np.float64)
            self._dist[:, ids] = qn[:, None] - 2.0 * (Q @ X.T) + (X * X).sum(axis=1)[None, :]
        self._row = {int(q): r for r, q in enumerate(allq)}

    def recall(self, result, sampled):
        rs = []
        for c, live in enumerate(self.live, start=1):
            rc = result[result["checkpoint"] == c]
            for qid in sampled:
                dist = self._dist[self._row[int(qid)]]
                got = rc[rc["qid"] == qid].sort_values("rank")["id"].to_numpy()
                returned = {
                    int(x): (float(dist[x]) if 0 <= x < self.n and live[x] else None)
                    for x in got
                }
                if len(returned) != len(got):
                    rs.append(0.0)
                    continue
                rs.append(tie_aware_recall(returned, dist[live], K, larger=False))
        return min(rs)

    def stored_bytes_per_vector_byte(self):
        """Bytes of the row groups a checkpoint scan can touch (min/max id
        overlapping the live set) per byte of live uint8 payload."""
        import glob

        import pyarrow.parquet as pq

        groups = []
        for p in sorted(glob.glob(f"{self.path}/*.parquet")):
            meta = pq.read_metadata(p)
            for rg in range(meta.num_row_groups):
                g = meta.row_group(rg)
                size = 0
                lo = hi = None
                for c in range(g.num_columns):
                    col = g.column(c)
                    size += col.total_compressed_size
                    if col.path_in_schema == "id" and col.statistics is not None:
                        lo, hi = col.statistics.min, col.statistics.max
                groups.append((lo, hi, size))
        read = payload = 0
        for live in self.live:
            payload += int(live.sum()) * self.d
            for lo, hi, size in groups:
                if lo is None or (lo < self.n and live[lo : min(hi, self.n - 1) + 1].any()):
                    read += size
        return read / payload

    def layers(self, spark, inputs, tag):
        from filter_vectordb_spark.operators.knn import _score_vectorized
        from filter_vectordb_spark.operators.topk import per_group_topk
        from filter_vectordb_spark.streaming.runbook import StreamingReplayer, replay
        from pyspark.sql import functions as F

        sc = spark.sparkContext
        plan = replay(spark, self.base, self.rb, inputs, k=K, compute_dtype="float32")
        scans = plan._jdf.queryExecution().executedPlan().toString().count("FileScan")
        rp = StreamingReplayer(spark, self.rb.max_pts, source=self.base)
        ledger_s = 0.0
        out = {"runbook.scans": (scans, "count")}
        merge_s = 0.0
        rows_in = 0
        c = 0
        for step in self.rb.steps:
            t0 = time.perf_counter()
            if step.operation == "insert":
                rp.insert(None, step.start, step.end)
            elif step.operation == "delete":
                rp.delete_range(step.start, step.end)
            ledger_s += time.perf_counter() - t0
            if step.operation != "search":
                continue
            c += 1
            sc.setJobGroup(f"{tag}:search{c}", "checkpoint search")
            t0 = time.perf_counter()
            noop(rp.search(inputs, K, compute_dtype="float32"))
            out[f"runbook.search_s.c{c}"] = (time.perf_counter() - t0, "s")
            sc.setJobGroup(f"{tag}:partials{c}", "partials")
            q = inputs.select("qid", "qemb")
            scored = _score_vectorized(q, rp.active(), "l2", K, "float32").persist()
            rows_in += scored.count()
            sc.setJobGroup(f"{tag}:merge{c}", "merge")
            t0 = time.perf_counter()
            per_group_topk(scored, ["qid"], [F.col("dist").asc(), F.col("id").asc()], K).count()
            merge_s += time.perf_counter() - t0
            scored.unpersist()
        out["runbook.ledger_s"] = (ledger_s, "s")
        out["topk.merge_s"] = (merge_s, "s")
        out["topk.rows_in"] = (rows_in, "count")
        # divided by the live rows by the caller, from the event log
        out["runbook.live_rows"] = (sum(int(m.sum()) for m in self.live), "count")
        return out


WORKLOADS = {w.name: w for w in (FilterYfcc, OodExact, StreamRunbook)}
