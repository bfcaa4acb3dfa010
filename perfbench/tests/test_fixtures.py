"""The fixture cache trusts a staged layout only while it matches its
manifest, and restages otherwise.

    python3 -m pytest perfbench/tests -q
"""

import json
import os
import sys
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fixtures import Fixture, FixtureCache  # noqa: E402

N = 100


def _cache(tmp_path):
    calls = []

    def stager(spark):
        # stagers write under tempfile.gettempdir(), as the package's do
        out = os.path.join(tempfile.gettempdir(), "fvdb_index_cache", "toy", "base")
        os.makedirs(out)
        for i in range(2):
            ids = list(range(i * N // 2, (i + 1) * N // 2))
            pq.write_table(pa.table({"id": ids}), os.path.join(out, f"part-{i}.parquet"))
        open(os.path.join(out, "_SUCCESS"), "w").close()
        calls.append(out)
        return out

    fx = Fixture("toy", stager, (_cache,), N)
    return FixtureCache(str(tmp_path), {"toy": fx}), calls


def test_stage_then_verify_without_restaging(tmp_path):
    cache, calls = _cache(tmp_path)
    path = cache.ensure(None, "toy")
    assert path.startswith(str(tmp_path)) and len(calls) == 1
    man = cache.manifest("toy")
    assert man["layout"]["."] == {"files": 2, "rows": N, "schema": "id: int64"}
    assert cache.ensure(None, "toy") == path and len(calls) == 1


def test_changed_file_restages(tmp_path):
    cache, calls = _cache(tmp_path)
    path = cache.ensure(None, "toy")
    # a truncated part file: _SUCCESS still exists, the footer rows differ
    pq.write_table(pa.table({"id": [1]}), os.path.join(path, "part-1.parquet"))
    assert cache.check("toy") is None
    cache.ensure(None, "toy")
    assert len(calls) == 2 and cache.check("toy") == path


def test_changed_manifest_field_restages(tmp_path):
    cache, calls = _cache(tmp_path)
    cache.ensure(None, "toy")
    mpath = os.path.join(cache.root("toy"), "manifest.json")
    with open(mpath) as fh:
        man = json.load(fh)
    man["layout"]["."]["files"] = 3
    with open(mpath, "w") as fh:
        json.dump(man, fh)
    cache.ensure(None, "toy")
    assert len(calls) == 2


def test_missing_or_unreadable_manifest_restages(tmp_path):
    cache, calls = _cache(tmp_path)
    cache.ensure(None, "toy")
    with open(os.path.join(cache.root("toy"), "manifest.json"), "w") as fh:
        fh.write("{not json")
    assert cache.check("toy") is None
    cache.ensure(None, "toy")
    assert len(calls) == 2
