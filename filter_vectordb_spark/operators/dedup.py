"""Deduplication operators for LLM training-data pipelines.

Five dedup modalities over the `documents` corpus (north-star extensions,
SURVEY.md §7 P7), all designed as shuffle-lean DataFrame plans:

  exact          hash-groupBy on a normalized content key — one shuffle of
                 (key, id), canonical = min id per group
  n-gram Jaccard exact pairwise similarity via shingle equi-join — the
                 ground truth the approximate methods are measured against
  MinHash + LSH  shingle → 32 minhashes → 8 banded bucket keys →
                 bucket-join candidates → exact verification.  Work is
                 O(Σ bucket²) instead of O(n²): the classic 100 TB path
  SimHash        64→32-bit weighted bit-vote fingerprint; near-dups share
                 fingerprints within small Hamming distance
  embedding      cosine-threshold pairs over the embedding column
                 (brute top-k for fixtures; IVF/LSH bucketing at scale)

Hash family: portable polynomial char hash (functions/text.py) with
integer permutations h_j(x) = (a_j·x + b_j) mod p — every stage is
deterministic and DuckDB-recomputable, so even the approximate pipelines
have exact oracles for their verified outputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from filter_vectordb_spark.functions.text import (
    HASH_P,
    char_hash,
    shingles,
    tokens,
)

N_HASHES = 32
N_BANDS = 8  # 4 rows per band
ROWS_PER_BAND = N_HASHES // N_BANDS
BAND_MIX = 1_315_423_911  # band-key fold multiplier
PERM_A_MULT = 2_654_435_761
PERM_B_MULT = 40_503


def _perm_a(j: int) -> int:
    return (j * PERM_A_MULT + 1) % HASH_P


def _perm_b(j: int) -> int:
    return (j * PERM_B_MULT + 7) % HASH_P


def exact_dedup(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup on normalized content: key = hash of the sorted distinct
    token set (catches reorderings/exact copies).  Returns
    (doc_id, group_key, is_canonical) — canonical = min doc_id per group."""
    key = char_hash(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(F.col(text_col)))))
    )
    keyed = docs.select(F.col(id_col).alias("doc_id"), key.alias("group_key"))
    w = Window.partitionBy("group_key")
    return keyed.withColumn(
        "is_canonical", F.col("doc_id") == F.min("doc_id").over(w)
    )


def shingle_arrays(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shs ARRAY<STRING>) — distinct word n-grams per doc.  Tokens are
    materialized in their own projection so the text is split exactly once
    per row (see functions/text.py::shingles_of_tokens).

    Docs with fewer than n tokens have no n-grams and are dropped here —
    the same `len(tokens) >= n` the SQL oracles apply; without the guard
    `F.sequence(0, size-n)` would be a DESCENDING sequence and element_at
    would throw on real short-document corpora."""
    from filter_vectordb_spark.functions.text import shingles_of_tokens

    return (
        docs.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select("id", shingles_of_tokens(F.col("_toks"), n).alias("shs"))
    )


def shingle_table(
    docs: DataFrame, n: int = 3, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, shingle) long form — distinct word n-grams per doc.

    The repartition is load-bearing twice over: the exchange materializes
    the shingle arrays so the Generate below it reads them instead of
    re-evaluating the shingle expression per output row (40× on the
    fixtures), and it spreads a single-file parquet scan across all cores
    before the join/groupBy fan-out."""
    return (
        shingle_arrays(docs, n, id_col, text_col)
        .repartition("id")
        # explode_OUTER — see lsh_buckets: avoids the pushed-down
        # size()>0 filter that re-evaluates the shingle expression at the
        # scan; docs always yield shingles, so semantics are unchanged
        .select("id", F.explode_outer("shs").alias("shingle"))
    )


def jaccard_pairs(
    docs: DataFrame,
    tau: float,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ tau: shingle equi-join + count ratio.
    Returns (id_a, id_b, common, size_a, size_b) with id_a < id_b —
    integer counts only, so threshold comparisons are engine-identical
    (common·1.0/(sa+sb−common) of identical ints).

    Shape (r12, guide §2.4/§5): the shingle pipeline (tokenize → 3-gram
    transform → array_distinct) is evaluated ONCE per join side — the
    per-doc shingle-set size rides along as a `size(shs)` PROJECTION
    and becomes a (functionally dependent) group key, instead of two
    extra full pipeline evaluations + groupBy + join-back per side.
    The r11 plan ran the scan→tokenize→shingle subtree FOUR times (the
    self-join sides plus both size joins, plans/r12/dedup_jaccard_pairs
    _before.txt nodes 1-7/8-15/20-28/32-41); tokenization is the
    dominant per-task compute, so on a memory-taxed host 32 concurrent
    tasks × 4 evaluations was the anti-scaling amplification surface
    (VERDICT r11 #1).  The identical repartition("id") barriers on both
    remaining sides additionally canonicalize to ONE exchange at
    runtime (AQE stage reuse).
    """
    # no .cache() here: a leaked cache pins blocks in the JVM old gen and
    # taxes every subsequent query with GC (observed 4-5× slowdowns); the
    # exchange barrier keeps re-evaluation cheap
    arrs = shingle_arrays(docs, n, id_col, text_col)
    # explode_OUTER — see lsh_buckets: avoids the pushed-down size()>0
    # filter that re-inlines the shingle expression at the scan; nsh is
    # exact because shs is array_distinct'ed per doc by construction
    sized = arrs.repartition("id").select(
        "id",
        F.size("shs").cast("long").alias("nsh"),  # count()'s BIGINT type
        "shs",
    )
    sh = sized.select("id", "nsh", F.explode_outer("shs").alias("shingle"))
    a = sh.select(
        F.col("id").alias("id_a"), F.col("nsh").alias("size_a"), "shingle"
    )
    b = sh.select(
        F.col("id").alias("id_b"), F.col("nsh").alias("size_b"), "shingle"
    )
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count("*").alias("common"))
    )
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    # coalesce() keeps the threshold filter null-TOLERANT: a bare
    # `jac >= tau` lets Catalyst infer isnotnull(size_a/b) and push it
    # below the join to the scan, re-inlining the whole shingle
    # expression as a per-row filter (measured 5× the query).  Counts
    # are never null, so the result set is identical.
    return pairs.filter(F.coalesce(jac >= tau, F.lit(False))).select(
        "id_a", "id_b", "common", "size_a", "size_b"
    )


def char_hash_py(s: str) -> int:
    """Python twin of functions/text.py::char_hash (same fold, same
    constants) — used by the vectorized signature kernel."""
    h = 0
    for ch in s:
        h = (h * 131 + ord(ch)) % HASH_P
    return h


def minhash_signatures_wide(
    docs: DataFrame, n: int = 3, strategy: str = "vectorized"
) -> DataFrame:
    """(id, mh ARRAY<BIGINT>[N_HASHES]): minhash signature as one row per
    doc, built entirely map-side — NO shuffle: at 100 TB the signature
    build is embarrassingly parallel and the only exchange in the whole
    LSH pipeline is the tiny bucket-key join.

    strategy="vectorized" (default): Arrow-batched numpy kernel — hash
    each shingle once, then one (n_shingles × N_HASHES) modular broadcast
    + column-min.  Predictable throughput (the JVM expression variant
    pays multi-second JIT warmup per cold plan).
    strategy="expr": pure JVM nested-lambda expression, zero Python.
    Both produce identical signatures (pinned by a test)."""
    if strategy == "vectorized":
        return _minhash_wide_vectorized(docs, n)
    arrs = shingle_arrays(docs, n)
    # exchange barrier BETWEEN hashing and the permutations: without it
    # projection collapse would inline the char_hash transform into the
    # signature expression and rehash every shingle N_HASHES times (also
    # spreads a single-file scan across cores — see shingle_table)
    hashed = arrs.select(
        "id",
        F.transform(F.col("shs"), lambda s: char_hash(s)).alias("hs"),
    ).repartition("id")
    # ONE nested expression for the whole signature (not N_HASHES separate
    # column expressions — those re-evaluate per reference downstream):
    # mh[j] = min_h (a_j·h + b_j) mod p with a_j/b_j computed inline
    mh = F.transform(
        F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
        lambda j: F.array_min(
            F.transform(
                F.col("hs"),
                lambda h: (
                    ((j.cast("long") * PERM_A_MULT + 1) % HASH_P) * h
                    + (j.cast("long") * PERM_B_MULT + 7) % HASH_P
                )
                % HASH_P,
            )
        ),
    )
    # second barrier: materialize the signature before the band fold
    return hashed.select("id", mh.alias("mh")).repartition("id")


def _minhash_wide_vectorized(docs: DataFrame, n: int = 3) -> DataFrame:
    import numpy as np
    import pandas as pd

    A = np.array([_perm_a(j) for j in range(N_HASHES)], dtype=np.int64)
    B = np.array([_perm_b(j) for j in range(N_HASHES)], dtype=np.int64)

    def kernel(it):
        for pdf in it:
            ids, mhs = [], []
            for rid, shs in zip(pdf["id"], pdf["shs"]):
                if len(shs) == 0:
                    # shingle_arrays filters short docs, but guard anyway:
                    # .min(axis=0) on an empty array raises
                    continue
                hs = np.fromiter(
                    (char_hash_py(s) for s in shs), dtype=np.int64, count=len(shs)
                )
                # a_j·h < 2^62 — safe in int64
                mh = ((hs[:, None] * A[None, :] + B[None, :]) % HASH_P).min(axis=0)
                ids.append(rid)
                mhs.append(mh.tolist())
            yield pd.DataFrame({"id": ids, "mh": mhs})

    # mapInPandas is itself a materialization barrier; repartition spreads
    # a single-file scan before the kernel
    return (
        shingle_arrays(docs, n)
        .repartition("id")
        .mapInPandas(kernel, schema="id BIGINT, mh ARRAY<BIGINT>")
    )


def minhash_signatures(docs: DataFrame, n: int = 3) -> DataFrame:
    """(id, j, minhash) long form of the signature (for tests/inspection)."""
    return minhash_signatures_wide(docs, n).select(
        "id", F.posexplode_outer("mh").alias("j", "minhash")
    )


def lsh_buckets(sigs_wide: DataFrame) -> DataFrame:
    """(id, band, band_key): fold each band's ROWS_PER_BAND minhashes into
    one bucket key — pure array expressions over the wide signature.
    Docs sharing (band, band_key) are candidates."""
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda b: F.aggregate(
            F.slice(F.col("mh"), b * ROWS_PER_BAND + 1, F.lit(ROWS_PER_BAND)),
            F.lit(0).cast("long"),
            lambda acc, v: (acc * BAND_MIX + v) % HASH_P,
        ),
    )
    # posexplode_OUTER: plain explode plants an implicit `size(keys) > 0`
    # Filter that Catalyst pushes below the exchange, re-inlining the whole
    # shingle→hash→minhash→bandkey expression into a per-row filter at the
    # scan (≈300× slower).  The array is never empty, so OUTER is identical.
    return sigs_wide.select("id", keys.alias("keys")).select(
        "id", F.posexplode_outer("keys").alias("band", "band_key")
    )


def lsh_candidate_pairs(buckets: DataFrame) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one LSH bucket.
    Self-join per (band, band_key) — the O(Σ bucket²) step."""
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_dedup_pairs(docs: DataFrame, tau: float, n: int = 3) -> DataFrame:
    """Full LSH pipeline: signatures → buckets → candidates → EXACT
    verification of ONLY the candidates (the standard bucket-then-verify
    shape).  Verification joins each candidate pair to the two docs'
    shingle arrays and intersects — work ∝ |candidates|, never O(n²).

    Output = verified near-dup pairs; with the fixture's similarity gap the
    miss probability of a true τ-pair is ≤ (1−τ^4)^8 ≈ 1e-12, so the exact
    Jaccard oracle is the correct check."""
    cands = lsh_candidate_pairs(lsh_buckets(minhash_signatures_wide(docs, n)))
    arrs = shingle_arrays(docs, n)
    a = arrs.select(F.col("id").alias("id_a"), F.col("shs").alias("shs_a"))
    b = arrs.select(F.col("id").alias("id_b"), F.col("shs").alias("shs_b"))
    verified = (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("shs_a", "shs_b")).alias("common"),
            F.size("shs_a").alias("size_a"),
            F.size("shs_b").alias("size_b"),
        )
    )
    jac = F.col("common") / (F.col("size_a") + F.col("size_b") - F.col("common"))
    return verified.filter(jac >= tau).select(
        "id_a", "id_b", "common", "size_a", "size_b"
    )


def minhash_dedup_clusters(
    docs: DataFrame, n: int = 3, max_iter: int = 5
) -> DataFrame:
    """(id, cluster) — LSH dedup that emits CLUSTERS, never pairs.

    On duplicate-heavy corpora the pair form is inherently quadratic in
    cluster size (a 32-copy document yields 496 true pairs); at 100 TB
    you must not materialize it.  This is the linear alternative: treat
    (doc, bucket) as a bipartite graph and propagate minimum ids —
    per iteration: bucket label = min member label, doc label = min
    bucket label — until fixpoint (connected components over LSH buckets,
    the standard large-scale dedup shape).  Work per iteration is one
    groupBy over the (doc, bucket) edges; no pair set ever exists.

    Keep = one representative (id == cluster) per component; downstream
    `docs.join(clusters.filter(id == cluster), ...)` ships the deduped
    corpus.
    """
    edges = lsh_buckets(minhash_signatures_wide(docs, n)).select(
        "id", F.concat_ws(":", "band", "band_key").alias("bucket")
    )
    edges = edges.repartition("bucket").cache()
    labels = edges.select("id").distinct().withColumn("cluster", F.col("id"))
    try:
        for _ in range(max_iter):
            bucket_min = (
                edges.join(labels, "id")
                .groupBy("bucket")
                .agg(F.min("cluster").alias("bmin"))
            )
            new_labels = (
                edges.join(bucket_min, "bucket")
                .groupBy("id")
                .agg(F.min("bmin").alias("cluster"))
            )
            # fixpoint check: any label still shrinking?
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "id")
                .filter(F.col("n.cluster") != F.col("o.cluster"))
                .limit(1)
                .count()
            )
            labels = new_labels.localCheckpoint(eager=True)
            if changed == 0:
                break
    finally:
        edges.unpersist()
    return labels.select("id", "cluster")


def simhash(docs: DataFrame, bits: int = 32, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, simhash): weighted bit-vote fingerprint.  Token weight =
    term frequency; bit i of the fingerprint is 1 iff the tf-weighted vote
    of token-hash bit i is positive.  Exploded (token × bit) plan — one
    shuffle on (id, bit)."""
    tf = (
        docs.select(
            F.col(id_col).alias("id"),
            F.explode(tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("id", "token")
        .agg(F.count("*").alias("w"))
        .withColumn("h", char_hash(F.col("token")))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = tf.select("id", "w", "h", bit).withColumn(
        "vote",
        F.when(
            F.call_function("shiftright", F.col("h"), F.col("bit").cast("int")).bitwiseAND(1) == 1,
            F.col("w"),
        ).otherwise(-F.col("w")),
    )
    agg = votes.groupBy("id", "bit").agg(F.sum("vote").alias("v"))
    return (
        agg.withColumn(
            "bitval",
            F.when(
                F.col("v") > 0,
                F.call_function("shiftleft", F.lit(1).cast("long"), F.col("bit").cast("int")),
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("id")
        .agg(F.sum("bitval").alias("simhash"))
        .select(F.col("id").alias("doc_id"), "simhash")
    )


def embedding_near_dup(
    emb: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine ≥ tau).

    Block-nested self-join through the Arrow/BLAS kernel: one side is
    broadcast as a normalized float64 matrix, the other streams through
    mapInArrow; each batch emits only its ≥τ pairs — O(n²/batch) FLOPs at
    BLAS speed, O(matches) shuffle.  The broadcast side caps at the same
    limit as the k-NN join; beyond that, bucket first (IVF/LSH) and verify
    candidates exactly, like minhash_dedup_pairs.
    """
    import numpy as np

    import filter_vectordb_spark.operators.knn as _knn

    # Route on a LIMIT cap+1 probe, not a full-corpus count(): the scan
    # stops as soon as cap+1 rows are seen, so choosing the path costs one
    # truncated job instead of a full corpus pass at scale.  The probe
    # also reads the vector dimension so the cap is BYTE-aware (VERDICT
    # r6 #3): rows × d × 8 must fit the broadcast budget — a 1M × 1536-d
    # corpus routes to the bucketed path instead of shipping ~12 GB.
    probe = (
        emb.select(F.size(F.col(vec_col)).alias("d"))
        .limit(_knn.MAX_BROADCAST_QUERIES + 1)
        .agg(F.count("*").alias("n"), F.first("d").alias("d"))
        .first()
    )
    cap = min(
        _knn.MAX_BROADCAST_QUERIES,
        max(1, _knn.BROADCAST_BYTES_BUDGET // (8 * max(1, probe["d"] or 1))),
    )
    if probe["n"] > cap:
        # beyond the broadcast cap: bucket-then-verify scale path
        # (approximate candidate recall, exact precision — see its doc)
        return embedding_near_dup_bucketed(emb, tau, id_col, vec_col)
    tbl = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")).toArrow()
    ids_all = tbl.column("id").to_numpy().astype(np.int64)
    V = _knn.flatten_fixed_list(tbl.column("v"), tbl.num_rows).astype(np.float64)
    norms = np.sqrt((V * V).sum(axis=1))
    bc = emb.sparkSession.sparkContext.broadcast((ids_all, V, norms))

    def kernel(it):
        import pyarrow as pa

        bids, bV, bn = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = batch.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
            X = _knn.flatten_fixed_list(batch.column("v"), batch.num_rows).astype(np.float64)
            xn = np.sqrt((X * X).sum(axis=1))
            S = (X @ bV.T) / (xn[:, None] * bn[None, :])
            ii, jj = np.nonzero((S >= tau) & (ids[:, None] < bids[None, :]))
            yield pa.RecordBatch.from_pydict({"id_a": ids[ii], "id_b": bids[jj]})

    return emb.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    ).mapInArrow(kernel, schema="id_a BIGINT, id_b BIGINT")


def embedding_near_dup_bucketed(
    emb: DataFrame,
    tau: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_bits: int = 24,
    n_bands: int = 12,
    seed: int = 42,
) -> DataFrame:
    """The scale path `embedding_near_dup` defers to beyond its broadcast
    cap: hyperplane-LSH bucket the vectors map-side, generate candidate
    pairs only within co-buckets, then verify each candidate with the
    exact cosine — bucket-then-verify, the same shape as
    minhash_dedup_pairs, O(Σ bucket²) candidates instead of O(n²).

    Candidate recall is parameter-controlled (2-bit bands: a pair at
    cosine τ collides in ≥1 of 12 bands w.p. ~1-(1-(1-θ/π)²)¹² — ≈0.999
    at τ=0.45); precision is exact (every emitted pair is verified).
    Recall vs the brute-force plan is pinned in tests/test_dedup.py.
    """
    import numpy as np

    from filter_vectordb_spark.operators.knn import flatten_fixed_list

    bits_per_band = n_bits // n_bands
    e = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    dim = len(e.select("v").head()[0])
    H = np.random.RandomState(seed).normal(size=(n_bits, dim))
    bc = emb.sparkSession.sparkContext.broadcast(H)

    def bucket_kernel(it):
        import pyarrow as pa

        bH = bc.value
        for batch in it:
            if batch.num_rows == 0:
                continue
            X = flatten_fixed_list(batch.column("v"), batch.num_rows).astype(np.float64)
            bits = (X @ bH.T) > 0
            ids = batch.column("id").to_numpy(zero_copy_only=False).astype(np.int64)
            keys = np.zeros((len(X), n_bands), dtype=np.int64)
            for b in range(n_bands):
                chunk = bits[:, b * bits_per_band : (b + 1) * bits_per_band]
                keys[:, b] = (b << 32) | (chunk @ (1 << np.arange(bits_per_band)))
            yield pa.RecordBatch.from_pydict(
                {"id": np.repeat(ids, n_bands), "bucket": keys.ravel()}
            )

    buckets = e.mapInArrow(bucket_kernel, schema="id BIGINT, bucket BIGINT")
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), "bucket")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    # exact verification of candidates only (gather both vectors, one
    # Arrow kernel pass — work ∝ |candidates|)
    va = e.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    vb = e.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pairs = cand.join(va, "id_a").join(vb, "id_b")

    def verify_kernel(it):
        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            A = flatten_fixed_list(batch.column("va"), n).astype(np.float64)
            B = flatten_fixed_list(batch.column("vb"), n).astype(np.float64)
            s = (A * B).sum(1) / (
                np.sqrt((A * A).sum(1)) * np.sqrt((B * B).sum(1))
            )
            yield batch.select(["id_a", "id_b"]).filter(s >= tau)

    return pairs.select("id_a", "id_b", "va", "vb").mapInArrow(
        verify_kernel, schema="id_a BIGINT, id_b BIGINT"
    )
