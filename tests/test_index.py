"""IVF / tag-partition index tests: recall methodology mirroring the
reference (approximate configs measured against the in-engine exact plan,
SURVEY.md §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from filter_vectordb_spark.index.ivf import FLAT, build_index, build_ivf, load_index, search
from filter_vectordb_spark.operators.knn import knn_join
from filter_vectordb_spark.sources.vectors import dense_queries, dense_vectors
from tests.conftest import SF_DIR

K = 10
NLIST = 16


@pytest.fixture(scope="module")
def ivf(spark):
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    return build_ivf(base, NLIST)


@pytest.fixture(scope="module")
def exact(spark):
    base = dense_vectors(spark, SF_DIR)
    q = dense_queries(spark, SF_DIR)
    return knn_join(q, base, K).select("qid", "id").toPandas()


def _recall(res, exact):
    got = res.select("qid", "id").toPandas()
    g = set(map(tuple, got.values))
    e = set(map(tuple, exact.values))
    return len(g & e) / len(e)


def test_full_probe_is_exact(spark, ivf, exact):
    q = dense_queries(spark, SF_DIR)
    res = search(q, *ivf, FLAT, None, K, NLIST, K)
    assert _recall(res, exact) == 1.0


def test_recall_improves_with_nprobe(spark, ivf, exact):
    q = dense_queries(spark, SF_DIR)
    r1 = _recall(search(q, *ivf, FLAT, None, K, 1, K), exact)
    r8 = _recall(search(q, *ivf, FLAT, None, K, 8, K), exact)
    assert r8 >= r1
    assert r8 >= 0.5  # probing half the lists should recover most neighbors


def test_assignments_cover_base(spark, ivf):
    assignments, centroids = ivf
    base = dense_vectors(spark, SF_DIR)
    assert assignments.count() == base.count()
    assert assignments.select("centroid_id").distinct().count() <= NLIST


def test_ivf_save_load_roundtrip(spark, ivf, exact, tmp_path):
    """S5: persisted IVF tables reload and search identically; the saved
    assignment table is partitioned by centroid_id."""
    import os

    out = str(tmp_path / "ivf")
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    build_index(base, out, "flat", NLIST, ivf)
    parts = [d for d in os.listdir(f"{out}/entries") if d.startswith("centroid_id=")]
    assert len(parts) > 1  # physically partitioned
    assignments, centroids, codec = load_index(spark, out)
    q = dense_queries(spark, SF_DIR)
    res = search(q, assignments, centroids, codec, None, K, NLIST, K)
    assert _recall(res, exact) == 1.0


def _ranked(df, cols=("qid", "rank", "id")):
    return (
        df.select(*cols).toPandas().sort_values(["qid", "rank"]).reset_index(drop=True)
    )


def test_tag_partition_scan_prunes(spark, tmp_path):
    """The tag view returns only the queried tag's rows, ranked exactly
    as the tag-filtered scan over the whole base ranks them."""
    from filter_vectordb_spark.index.tagpart import (
        build_tag_partitions,
        tag_partition_knn,
    )
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan

    base = dense_vectors(spark, SF_DIR)
    out = str(tmp_path / "tagpart")
    tags = build_tag_partitions(base, out, min_freq=0.0)
    assert len(tags) == 30  # 10 labels + 7 mid + 13 fine
    q = dense_queries(spark, SF_DIR).select(
        "qid", "qemb", F.col("qtags")[0].alias("qtag")
    )
    res = tag_partition_knn(spark, out, q, 5)
    # every result belongs to the queried tag
    joined = res.join(base.select(F.col("id"), "tags"), "id").join(
        q.select("qid", "qtag"), "qid"
    )
    bad = joined.filter(~F.array_contains("tags", F.col("qtag"))).count()
    assert bad == 0
    want = filtered_knn_scan(
        q.select("qid", "qemb", F.array("qtag").alias("qtags")), base, 5
    )
    assert _ranked(res).equals(_ranked(want))


@pytest.mark.parametrize("view", ["tag", "pair"])
def test_coded_tag_views_match_filtered_scan(spark, tmp_path, view):
    """On an integer corpus both views store SQ8 codes (`view/` +
    `grid/`) and serve them through the decode branch of
    filteridx_kernels._view_scan (f32 GEMM): (qid, rank, id, dist)
    equal the tag-filtered float64 scan's, distance bits included."""
    import os

    from filter_vectordb_spark.index.tagpart import (
        build_tag_pair_partitions,
        build_tag_partitions,
        tag_pair_knn,
        tag_partition_knn,
    )
    from filter_vectordb_spark.operators.filtered_knn import filtered_knn_scan
    from filter_vectordb_spark.sources.vectors import quantize_uint8

    base = dense_vectors(spark, SF_DIR).withColumn(
        "emb", F.transform("emb", quantize_uint8)
    )
    q = dense_queries(spark, SF_DIR).withColumn(
        "qemb", F.transform("qemb", quantize_uint8)
    )
    out = str(tmp_path / view)
    if view == "tag":
        build_tag_partitions(base, out, min_freq=0.0)
        qv = q.select("qid", "qemb", F.col("qtags")[0].alias("qtag"))
        got = tag_partition_knn(spark, out, qv, 5)
        qtags = qv.select("qid", "qemb", F.array("qtag").alias("qtags"))
    else:
        build_tag_pair_partitions(base, out, min_freq=0.0)
        qv = q.select(
            "qid",
            "qemb",
            F.least(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_a"),
            F.greatest(F.col("qtags")[0], F.col("qtags")[1]).alias("tag_b"),
        )
        got = tag_pair_knn(spark, out, qv, 5)
        qtags = q.select("qid", "qemb", "qtags")
    assert os.path.exists(f"{out}/grid/_SUCCESS")  # the coded layout
    cols = ("qid", "rank", "id", "dist")
    want = _ranked(filtered_knn_scan(qtags, base, 5), cols)
    assert len(want) > 0
    assert _ranked(got, cols).equals(want)


def test_router_self_heals_poisoned_tagstats_cache(spark):
    """r3 regression class: a stray non-underscore file inside a cached
    Parquet dir breaks every subsequent read ('Expected magic number at
    tail').  The router must remove the r3-layout stray and still answer."""
    import os

    from filter_vectordb_spark import registry
    from tests.conftest import SF_DIR

    out = registry._index_cache_dir(SF_DIR, "tagstats")
    registry.QUERIES["filtered_knn_router"](spark, SF_DIR).count()  # ensure built
    stray = os.path.join(out, "meta.json")
    with open(stray, "w") as f:
        f.write('{"n_base": 999}')
    res = registry.QUERIES["filtered_knn_router"](spark, SF_DIR)
    assert res.count() > 0
    assert not os.path.exists(stray)


def test_ivf_search_chunks_above_broadcast_cap(spark, ivf, monkeypatch):
    """Chunk-and-union above the broadcast cap must equal single-shot
    (VERDICT r5 #1: every scan family streams the query side)."""
    from filter_vectordb_spark.operators import knn as knn_mod

    q = dense_queries(spark, SF_DIR)
    want = search(q, *ivf, FLAT, None, K, NLIST, K).select("qid", "rank", "id")
    monkeypatch.setattr(knn_mod, "MAX_BROADCAST_QUERIES", 3)
    got = search(q, *ivf, FLAT, None, K, NLIST, K).select("qid", "rank", "id")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0


@pytest.mark.parametrize("layout", ["flat", "sq8", "pq"])
def test_rebuild_in_place_invalidates_load_cache(spark, exact, tmp_path, layout):
    """Saving a rebuilt index over a loaded one must invalidate the
    in-process load cache for every list layout: after the second save
    the next load serves the new lists (their centroids and files)."""
    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    q = dense_queries(spark, SF_DIR)
    out = str(tmp_path / layout)
    train, refine = {"flat": ({}, K), "sq8": ({}, 64), "pq": ({"nsub": 32, "ksub": 64}, 128)}[layout]
    for nlist in (4, 8):
        build_index(base, out, layout, nlist, **train)
        entries, centroids, codec = load_index(spark, out)
        res = search(q, entries, centroids, codec, base, K, nlist, refine)
        assert centroids.count() == nlist
        assert entries.count() == base.count()
        assert _recall(res, exact) == 1.0


def test_load_index_refuses_a_coded_layout_without_its_grid(spark, tmp_path):
    """A saved sq8 layout that has lost grid/ is a partial index: loading
    it raises, naming the missing part, instead of serving its codes
    as something else."""
    import shutil

    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    out = str(tmp_path / "sq8")
    build_index(base, out, "sq8")
    shutil.rmtree(f"{out}/grid")
    with pytest.raises(FileNotFoundError, match="grid"):
        load_index(spark, out)


def test_load_index_refuses_lists_without_centroids(spark, ivf, tmp_path):
    """A coarse layout that has lost centroids/ cannot plan probes:
    loading it raises, naming centroids."""
    import shutil

    base = dense_vectors(spark, SF_DIR).select("id", "emb")
    out = str(tmp_path / "flat")
    build_index(base, out, "flat", NLIST, ivf)
    shutil.rmtree(f"{out}/centroids")
    with pytest.raises(FileNotFoundError, match="centroids"):
        load_index(spark, out)


def test_load_index_of_an_empty_directory_is_none(spark, tmp_path):
    assert load_index(spark, str(tmp_path)) is None


@pytest.fixture(scope="module")
def two_layouts(spark, tmp_path_factory):
    """The same 2,000 rows staged as a Spark list base (_write_base) and
    as a uint8 base (_write_u8_base), each read back as one id-sorted
    partition, so order-sensitive trainers (MLlib k-means) see the same
    input on both."""
    from filter_vectordb_spark.queries.fixtures import _write_base, _write_u8_base
    from filter_vectordb_spark.sources.synth import synth_uint8_base

    src = synth_uint8_base(spark, n=2000).select("id", "emb")
    root = tmp_path_factory.mktemp("two_layouts")
    _write_base(src, str(root / "list"), 4)
    _write_u8_base(src, str(root / "u8"), 4)
    frames = {
        name: spark.read.parquet(str(root / name)).repartition(1).sortWithinPartitions("id")
        for name in ("list", "u8")
    }
    assert dict(frames["list"].dtypes)["emb"] == "array<int>"
    assert dict(frames["u8"].dtypes)["emb"] == "binary"
    return frames


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _read_train_sq(spark, b, tmp):
    from filter_vectordb_spark.index.sq import train_sq

    return [list(a) for a in train_sq(b)]


def _read_encode_sq(spark, b, tmp):
    import numpy as np

    from filter_vectordb_spark.index.sq import encode_sq

    return _rows(encode_sq(b, np.zeros(192), np.full(192, 255.0)), "id", "codes")


def _read_build_ivf(coarse):
    def read(spark, b, tmp):
        kw = {"coarse": "numpy", "train_rows": 500} if coarse == "numpy" else {}
        assignments, centroids = build_ivf(b, 4, max_iter=4, **kw)
        return _rows(centroids, "centroid_id", "centroid"), _rows(assignments, "id", "centroid_id")

    return read


def _read_pq(spark, b, tmp):
    from filter_vectordb_spark.index.pq import encode_pq, train_pq

    cb = train_pq(b, nsub=4, ksub=8, iters=3)
    return cb.tolist(), _rows(encode_pq(b, cb), "id", "codes")


def _read_ivf_insert(spark, b, tmp):
    import numpy as np

    from filter_vectordb_spark.index.ivf import assign_to_centroids, ivf_insert

    C = np.arange(4 * 192, dtype=np.float64).reshape(4, 192) % 251
    cents = spark.createDataFrame(
        [(i, c.tolist()) for i, c in enumerate(C)], "centroid_id INT, centroid ARRAY<DOUBLE>"
    )
    old = assign_to_centroids(b.filter("id < 1500"), C, np.arange(4))
    merged = ivf_insert(old, cents, b.filter("id >= 1500"))
    assert dict(merged.dtypes)["emb"] == dict(b.dtypes)["emb"]
    return _rows(merged, "id", "centroid_id")


def _read_lsh(spark, b, tmp):
    from filter_vectordb_spark.index.lsh import lsh_bucket_table

    return _rows(lsh_bucket_table(b, 192), "id", "bucket")


def _read_lsh_knn(spark, b, tmp):
    from filter_vectordb_spark.index.lsh import lsh_cosine_knn
    from filter_vectordb_spark.sources.synth import synth_queries

    q = synth_queries(spark, nq=3).select("qid", "qemb")
    return _rows(lsh_cosine_knn(q, b, 10, 192), "qid", "rank", "id", "sim")


def _read_pairwise(spark, b, tmp):
    from filter_vectordb_spark.operators.knn import pairwise_scores
    from filter_vectordb_spark.sources.synth import synth_queries

    pairs = b.filter("id < 40").crossJoin(synth_queries(spark, nq=3).select("qid", "qemb"))
    return [_rows(pairwise_scores(pairs, m), "qid", "id", "dist") for m in ("l2", "ip", "cos")]


def _read_dense_bin(spark, b, tmp):
    from filter_vectordb_spark.sources.binfmt import write_dense_bin_distributed

    path = str(tmp / f"base_{dict(b.dtypes)['emb'][:3]}.u8bin")
    assert write_dense_bin_distributed(b, path, "u8bin") == 2000
    with open(path, "rb") as f:
        return f.read()


@pytest.mark.parametrize(
    "read",
    [
        _read_train_sq,
        _read_encode_sq,
        _read_build_ivf("numpy"),
        _read_build_ivf("mllib"),
        _read_pq,
        _read_ivf_insert,
        _read_lsh,
        _read_lsh_knn,
        _read_pairwise,
        _read_dense_bin,
    ],
    ids=[
        "train_sq", "encode_sq", "build_ivf_numpy", "build_ivf_mllib", "pq", "ivf_insert",
        "lsh_bucket_table", "lsh_cosine_knn", "pairwise_scores", "write_dense_bin",
    ],
)
def test_dense_readers_equal_on_list_and_uint8_bases(spark, two_layouts, tmp_path, read):
    """Every dense reader decodes `emb` with operators.knn.
    flatten_fixed_list, so a raw uint8 base (BINARY) gives the output the
    same rows give as a Spark list base."""
    want = read(spark, two_layouts["list"], tmp_path)
    got = read(spark, two_layouts["u8"], tmp_path)
    assert got == want


@pytest.mark.parametrize("layout", ["list", "u8"])
def test_pairwise_scores_sliced_equals_whole_batch(spark, two_layouts, tmp_path, monkeypatch, layout):
    """pairwise_scores scores each Arrow batch in PAIRWISE_SLICE_ROWS-row
    float64 slices; each row's sum is its own, so 7-row slices give the
    whole-batch l2, ip and cos scores bit for bit."""
    import filter_vectordb_spark.operators.knn as knn

    want = _read_pairwise(spark, two_layouts[layout], tmp_path)
    monkeypatch.setattr(knn, "PAIRWISE_SLICE_ROWS", 7)
    assert _read_pairwise(spark, two_layouts[layout], tmp_path) == want
