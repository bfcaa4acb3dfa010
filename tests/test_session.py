"""OpenBLAS kernel selection in session.get_spark: the pure choice
function, its inputs, and what a Spark task actually runs."""

import json
import os
import subprocess
import sys

import pytest

from filter_vectordb_spark import session
from filter_vectordb_spark.session import _blas_coretype, _cpu_flags

AVX512 = frozenset(
    "sse3 avx avx2 fma avx512f avx512bw avx512vl avx512dq avx512cd".split()
)
AVX2 = frozenset("sse3 avx avx2 fma".split())
SSE = frozenset("sse sse2 sse3 ssse3".split())


@pytest.mark.parametrize(
    "core, flags, env, want",
    [
        ("Prescott", AVX512, {}, "SkylakeX"),
        ("Core2", AVX512, {}, "SkylakeX"),
        ("Prescott", AVX2, {}, "Haswell"),
        ("Nehalem", AVX2 | {"avx512f"}, {}, "Haswell"),  # partial AVX-512
        ("Prescott", SSE, {}, None),  # a genuinely old CPU keeps its core
        ("SkylakeX", AVX512, {}, None),  # recognised cores are left alone
        ("Haswell", AVX512, {}, None),
        ("Zen", AVX2, {}, None),
        ("Prescott", AVX512, {"OPENBLAS_CORETYPE": "Prescott"}, None),  # user's
        ("Prescott", AVX512, {"OPENBLAS_CORETYPE": ""}, None),
        ("Prescott", None, {}, None),  # unreadable /proc/cpuinfo
        (None, AVX512, {}, None),  # no OpenBLAS core reported
    ],
)
def test_blas_coretype_choice(core, flags, env, want):
    assert _blas_coretype(core, flags, env) == want


def test_cpu_flags_reads_first_flags_line(tmp_path):
    p = tmp_path / "cpuinfo"
    p.write_text(
        "processor\t: 0\nmodel name\t: X\nflags\t\t: fpu sse3 avx2 fma\n\n"
        "processor\t: 1\nflags\t\t: fpu\n"
    )
    assert _cpu_flags(str(p)) == {"fpu", "sse3", "avx2", "fma"}
    assert _cpu_flags(str(tmp_path / "missing")) is None


def test_select_never_overrides_user_coretype(monkeypatch):
    monkeypatch.setenv("OPENBLAS_CORETYPE", "Sandybridge")
    monkeypatch.setattr(session, "_cpu_flags", lambda: AVX512)
    session._select_blas_kernels()
    assert os.environ["OPENBLAS_CORETYPE"] == "Sandybridge"


_WORKER_CORE = """
import ctypes, json
from filter_vectordb_spark.session import get_spark

def report(batches):
    import pandas as pd
    from filter_vectordb_spark.session import openblas_fn
    for _ in batches:
        pass
    fn = openblas_fn("openblas_get_corename64_", "openblas_get_corename")
    fn.argtypes, fn.restype = [], ctypes.c_char_p
    yield pd.DataFrame({"core": [fn().decode()]})

spark = get_spark("test_session", cpus=1)
core = spark.range(0, 1, 1, 1).mapInPandas(report, "core string").collect()[0].core
env = spark.sparkContext.getConf().get("spark.executorEnv.OPENBLAS_CORETYPE")
print(json.dumps({"core": core, "executor_env": env}))
spark.stop()
"""


def test_worker_runs_a_non_generic_core():
    """From an environment without OPENBLAS_CORETYPE, a task of a fresh
    get_spark session loads AVX2-or-better OpenBLAS kernels whenever the
    CPU has them; the choice stays in the local process environment,
    never in executorEnv.  A fresh process, because OpenBLAS reads the
    variable once, when the JVM's Python workers start."""
    if session.openblas_fn("openblas_get_corename64_", "openblas_get_corename") is None:
        pytest.skip("numpy has no bundled OpenBLAS")
    flags = _cpu_flags()
    if not flags or not {"avx2", "fma"} <= flags:
        pytest.skip("CPU lists no avx2 + fma")
    env = {k: v for k, v in os.environ.items() if k != "OPENBLAS_CORETYPE"}
    env.setdefault("SPARK_DRIVER_MEMORY", "1g")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [sys.executable, "-c", _WORKER_CORE], cwd=root, env=env,
        capture_output=True, text=True, timeout=300, check=True,
    ).stdout
    got = json.loads(out.strip().splitlines()[-1])
    assert got["executor_env"] is None
    assert got["core"].lower() not in session._GENERIC_CORES, got
