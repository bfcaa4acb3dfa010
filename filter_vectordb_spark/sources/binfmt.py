"""Dense binary matrix reader/writer (SURVEY.md §2.1 S1).

The reference's datasets ship as `.u8bin/.i8bin/.fbin`: a little-endian
header of uint32 `n` and uint32 `d`, then `n × d` row-major values — the
format is visible in the reference's writer (`streaming/clustered_data_gen.py:84-88`)
and reader call sites (`README.md:255`).

Scale design: `spark.read.format("binaryFile")` would materialize whole
files as single rows, so instead the driver reads ONLY the 8-byte header,
plans fixed-size row ranges, and each task `np.fromfile`s its own slice
(shared-storage path, the same pattern as Spark's binary record readers).
A 100 GB file becomes ordinary partition-parallel scan work; ids are the
global row indexes, assigned from the chunk offsets with no shuffle.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, SparkSession

DTYPES = {"u8bin": np.uint8, "i8bin": np.int8, "fbin": np.float32}


def write_dense_bin(path: str, mat: np.ndarray) -> None:
    """Writer (test fixture / export): uint32 n, uint32 d LE header +
    row-major data."""
    n, d = mat.shape
    with open(path, "wb") as f:
        f.write(struct.pack("<II", n, d))
        f.write(np.ascontiguousarray(mat).tobytes())


def write_dense_bin_distributed(
    df: DataFrame,
    path: str,
    kind: str,
    id_col: str = "id",
    vec_col: str = "emb",
    n: int | None = None,
    dim: int | None = None,
) -> int:
    """Distributed .u8bin/.i8bin/.fbin writer: the mirror image of
    `read_dense_bin`.

    The driver writes only the 8-byte header and pre-sizes the file; each
    task then seeks to `8 + id·d·itemsize` and writes its own rows, so no
    row ever visits the driver (the round-trip of the format stays
    partition-parallel both ways).  Requires dense ids 0..n-1 — the
    format has no row ids, offsets ARE the ids — and shared storage
    (local FS / NFS / Lustre; an object store would take per-chunk parts
    + compose instead).

    Rows are range-partitioned and sorted by id first so each task writes
    a handful of long contiguous runs rather than 1-row scatter writes.
    Returns the number of rows written (assert == n upstream if needed).
    """
    if kind not in DTYPES:
        raise ValueError(f"kind must be one of {sorted(DTYPES)}")
    np_dtype = DTYPES[kind]
    itemsize = np.dtype(np_dtype).itemsize
    if n is None or dim is None:
        first = df.select(vec_col).head()
        if first is None:
            raise ValueError("cannot write an empty DataFrame")
        dim = dim or len(first[0])
        n = n if n is not None else df.count()

    with open(path, "wb") as f:
        f.write(struct.pack("<II", n, dim))
        f.truncate(8 + n * dim * itemsize)

    spark = df.sparkSession
    nparts = min(
        max(n * dim * itemsize // (32 << 20), 1), spark.sparkContext.defaultParallelism
    )

    def write_part(it):
        import pyarrow as pa

        from filter_vectordb_spark.operators.knn import flatten_fixed_list

        rows = 0
        with open(path, "r+b") as f:
            for batch in it:
                if not batch.num_rows:
                    continue
                ids = batch.column(id_col).to_numpy(zero_copy_only=False).astype(np.int64)
                order = np.argsort(ids)
                ids = ids[order]
                mat = flatten_fixed_list(batch.column(vec_col), len(ids))[order].astype(np_dtype)
                breaks = np.where(np.diff(ids) != 1)[0] + 1
                for seg_ids, seg in zip(np.split(ids, breaks), np.split(mat, breaks)):
                    f.seek(8 + int(seg_ids[0]) * dim * itemsize)
                    f.write(np.ascontiguousarray(seg).tobytes())
                rows += len(ids)
        yield pa.RecordBatch.from_pydict({"rows": [rows]}, pa.schema([("rows", pa.int64())]))

    written = (
        df.select(id_col, vec_col)
        .repartitionByRange(nparts, id_col)
        .mapInArrow(write_part, schema="rows BIGINT")
        .agg({"rows": "sum"})
        .collect()[0][0]
    )
    return int(written or 0)


def read_header(path: str) -> tuple[int, int]:
    with open(path, "rb") as f:
        n, d = struct.unpack("<II", f.read(8))
    return n, d


def read_dense_bin(
    spark: SparkSession,
    path: str,
    kind: str,
    rows_per_chunk: int = 65536,
) -> DataFrame:
    """(id BIGINT, emb ARRAY<...>) from a dense binary file.

    kind ∈ {u8bin, i8bin, fbin}; uint8/int8 load as ARRAY<INT> (exact
    integer domain for K2 distances), fbin as ARRAY<FLOAT>.
    """
    if kind not in DTYPES:
        raise ValueError(f"kind must be one of {sorted(DTYPES)}")
    np_dtype = DTYPES[kind]
    n, d = read_header(path)
    chunks = [
        (path, start, min(rows_per_chunk, n - start), d)
        for start in range(0, n, rows_per_chunk)
    ]
    # one task per chunk up to 2× core count; beyond that, tasks loop over
    # several chunks each (scheduling overhead beats read parallelism there)
    nparts = min(len(chunks), spark.sparkContext.defaultParallelism * 2)
    plan = spark.createDataFrame(
        chunks, "path STRING, start BIGINT, nrows INT, dim INT"
    ).repartition(nparts)

    itemsize = np.dtype(np_dtype).itemsize
    out_elem = "FLOAT" if kind == "fbin" else "INT"

    def read_chunks(it):
        import pandas as pd

        for pdf in it:
            for row in pdf.itertuples():
                offset = 8 + row.start * row.dim * itemsize
                arr = np.fromfile(
                    row.path, dtype=np_dtype, count=row.nrows * row.dim, offset=offset
                ).reshape(row.nrows, row.dim)
                if kind == "fbin":
                    vals = [r.astype(np.float32).tolist() for r in arr]
                else:
                    vals = [r.astype(np.int32).tolist() for r in arr]
                yield pd.DataFrame(
                    {
                        "id": np.arange(row.start, row.start + row.nrows, dtype=np.int64),
                        "emb": vals,
                    }
                )

    return plan.mapInPandas(read_chunks, schema=f"id BIGINT, emb ARRAY<{out_elem}>")
