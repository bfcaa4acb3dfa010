"""The benchmark's own fixture cache.

Each fixture is staged once per checkout by the package's own stager,
under a cache root keyed on a hash of the generator and build-function
source.  The stagers place their output under `tempfile.gettempdir()`
(`queries.core._index_cache_dir`), so staging points `tempfile.tempdir`
at the fixture's root for the duration of the call.

A staged fixture is trusted only when its layout fingerprint (per
directory: parquet file count, row count and schema; other files: byte
size) matches the manifest written when it was staged.  A mismatch
restages it.  Staging happens in set-up, never inside a timed batch.
"""

from __future__ import annotations

import glob
import hashlib
import inspect
import json
import os
import shutil
import tempfile
import time
from dataclasses import dataclass
from typing import Callable

import pyarrow.parquet as pq


@dataclass(frozen=True)
class Fixture:
    name: str
    #: stager(spark) -> absolute path of the staged directory
    stage: Callable
    #: functions whose source keys the cache
    sources: tuple
    #: expected row count of the parquet files in `rows_dir`
    rows: int
    #: subdirectory (relative to the staged directory) holding `rows` rows
    rows_dir: str = "."

    def rows_ok(self, layout: dict) -> bool:
        return layout.get(self.rows_dir, {}).get("rows") == self.rows


def _fixture_table() -> dict[str, Fixture]:
    from filter_vectordb_spark.functions.signature import sig_from_tags
    from filter_vectordb_spark.index import filteridx
    from filter_vectordb_spark.queries import fixtures as fx
    from filter_vectordb_spark.sources import synth

    def synth1m(spark):
        fx._synth1m_base(spark)
        return fx._index_cache_dir("synth1m_v2", "base")

    def msturing1m(spark):
        fx._synth_msturing1m(spark)
        return fx._index_cache_dir("msturing1m_v2", "base")

    return {
        f.name: f
        for f in (
            Fixture(
                "yfcc100k-index",
                fx._yfcc100k_index,
                (
                    synth.yfcc_emb_matrix,
                    synth.yfcc_draws,
                    synth._dedup_rows,
                    synth.synth_yfcc_base,
                    sig_from_tags,
                    filteridx.build_filtered_index,
                    filteridx.build_meta_bins,
                    filteridx.build_tag_bins,
                    fx._yfcc_index_dir,
                    fx._yfcc100k_index,
                ),
                100_000,
                "codes",
            ),
            Fixture(
                "synth1m-base",
                synth1m,
                (synth.synth_uint8_base, fx._write_base, fx._synth1m_base),
                1_000_000,
            ),
            Fixture(
                "msturing1m-base",
                msturing1m,
                (synth.synth_uint8_base, fx._write_base, fx._synth_msturing1m),
                1_008_192,
            ),
        )
    }


def source_hash(fns) -> str:
    h = hashlib.sha256()
    for fn in fns:
        h.update(inspect.getsource(fn).encode())
    return h.hexdigest()[:12]


def fingerprint(root: str) -> dict:
    """Layout of a staged tree: per directory holding parquet files, the
    file count, the row count from the footers and the schema; every
    other regular file by byte size.  Cheap: footers only."""
    out: dict = {}
    for d, _dirs, files in sorted(os.walk(root)):
        rel = os.path.relpath(d, root)
        parts = sorted(f for f in files if f.endswith(".parquet"))
        if parts:
            rows = 0
            schema = None
            for f in parts:
                meta = pq.read_metadata(os.path.join(d, f))
                rows += meta.num_rows
                if schema is None:
                    schema = meta.schema.to_arrow_schema().to_string()
            out[rel] = {"files": len(parts), "rows": rows, "schema": schema}
        for f in sorted(files):
            if f.endswith((".parquet", ".crc")) or f.startswith("_SUCCESS"):
                continue
            out[os.path.join(rel, f)] = os.path.getsize(os.path.join(d, f))
    return out


class FixtureCache:
    """Staged fixtures under `<cache_dir>/fixtures/<name>-<source hash>/`."""

    def __init__(self, cache_dir: str, table: dict[str, Fixture] | None = None):
        self.cache_dir = cache_dir
        self.table = _fixture_table() if table is None else table

    def root(self, name: str) -> str:
        fx = self.table[name]
        return os.path.join(
            self.cache_dir, "fixtures", f"{name}-{source_hash(fx.sources)}"
        )

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.root(name), "manifest.json")

    def manifest(self, name: str) -> dict | None:
        try:
            with open(self._manifest_path(name)) as fh:
                return json.load(fh)
        except (OSError, ValueError):
            return None

    def check(self, name: str) -> str | None:
        """The staged directory if its layout matches the manifest, else
        None.  A raise-free check: any mismatch means restage."""
        man = self.manifest(name)
        if man is None:
            return None
        path = os.path.join(self.root(name), man["path"])
        if not os.path.isdir(path):
            return None
        fp = fingerprint(path)
        if fp != man["layout"] or not self.table[name].rows_ok(fp):
            return None
        return path

    def stage(self, spark, name: str) -> str:
        """Stage from scratch (discarding whatever sits in the root) and
        write the manifest.  Returns the staged directory."""
        root = self.root(name)
        for old in glob.glob(os.path.join(self.cache_dir, "fixtures", f"{name}-*")):
            shutil.rmtree(old, ignore_errors=True)
        os.makedirs(root)
        saved = tempfile.tempdir
        tempfile.tempdir = root
        try:
            t0 = time.perf_counter()
            path = self.table[name].stage(spark)
            stage_s = time.perf_counter() - t0
        finally:
            tempfile.tempdir = saved
        man = {
            "path": os.path.relpath(path, root),
            "stage_s": stage_s,
            "layout": fingerprint(path),
        }
        if not self.table[name].rows_ok(man["layout"]):
            raise RuntimeError(f"fixture {name}: staged row count differs from {self.table[name].rows}")
        tmp = self._manifest_path(name) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(man, fh)
        os.replace(tmp, self._manifest_path(name))
        return path

    def ensure(self, spark, name: str) -> str:
        return self.check(name) or self.stage(spark, name)
