"""SparkSession factory tuned for the local[32] test harness.

The settings mirror what we would set on a real cluster: AQE on (runtime
join-strategy changes + skew-join splitting), Arrow on (all our Python
kernels are pandas-UDF based), shuffle partitions sized to cores rather
than the 200 default, UTC session timezone so results hash-compare against
the DuckDB oracle (DuckDB timestamps are UTC-naive).

Kernel selection: numpy's bundled OpenBLAS picks its GEMM kernels by CPU
model and falls back to its SSE3 (Prescott) kernels on a model it does not
know, so when it reports such a core on a CPU whose flags list AVX-512 or
AVX2+FMA, get_spark exports OPENBLAS_CORETYPE (SkylakeX or Haswell) for the
local Python workers it forks — never over a user's own setting, and never
as executorEnv, since remote executors must detect their own CPU.
"""

from __future__ import annotations

import ctypes
import functools
import os

from pyspark.sql import SparkSession


#: one BLAS thread per Python worker: with N executor threads each
#: spawning an N-thread OpenBLAS pool, the matmul kernels oversubscribe
#: N² threads and wall time explodes (measured 37s for a ~1.2 GFLOP/batch
#: stage that runs in ~2s single-threaded-per-worker); task-level
#: parallelism is Spark's job, not the BLAS's
_BLAS_ENV = {
    "OMP_NUM_THREADS": "1",
    "OPENBLAS_NUM_THREADS": "1",
    "MKL_NUM_THREADS": "1",
    "VECLIB_MAXIMUM_THREADS": "1",
    "NUMEXPR_NUM_THREADS": "1",
}

#: glibc malloc tunables for the Python workers (inherited through the
#: JVM → pyspark.daemon fork chain; glibc reads these at process start).
#: Our kernels allocate large short-lived numpy blocks (decode buffers,
#: gather temporaries, Arrow batches); by default glibc mmap()s those
#: and munmap()s on free, so EVERY batch re-faults its pages.  On a
#: normal kernel a fault is ~1 µs and this is noise; on a
#: memory-ballooned microVM (measured on the round-8 bench host:
#: ~45 µs/page — a fresh 0.5 GB numpy allocation cost 23 s where the
#: warmed copy ran at 18 GB/s) it dominates ENTIRE queries, with
#: run-to-run swings of 5-60× depending on what the allocator happened
#: to reuse.  Keeping large blocks on the heap (no mmap, no trim) makes
#: workers fault pages once and reuse them for the life of the process:
#: the same allocation pattern measured 50 ms steady-state.  Worker
#: high-water memory is bounded by its largest concurrent working set
#: (~0.5-1 GB for the heaviest kernels), which local[32] accommodates;
#: on a normal host the setting is the standard numerics tuning and
#: merely avoids mmap churn.
_MALLOC_ENV = {
    "MALLOC_MMAP_MAX_": "0",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_TOP_PAD_": "134217728",
    # pyarrow's bundled jemalloc/mimalloc pools release pages to the OS
    # on their own schedule and ignore the glibc tunables — route Arrow
    # buffer allocation (parquet reads, IPC batches) through the tuned
    # system malloc so those pages are faulted once and reused too
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


#: OpenBLAS DYNAMIC_ARCH core names (lower-cased) with no AVX2/FMA
#: kernels: Prescott, what 0.3.23 falls back to on a CPU model it does
#: not recognise, and its pre-AVX kin.  Measured on an AVX-512 host that fell
#: back to Prescott: single-thread f32 GEMM at the scan's shape
#: (1024×192 · 192×2048) 23-25 GFLOP/s, 108-141 with SkylakeX kernels.
_GENERIC_CORES = frozenset({
    "unknown", "katmai", "coppermine", "northwood", "prescott", "banias",
    "atom", "core2", "penryn", "dunnington", "nehalem", "athlon", "opteron",
    "opteron_sse3", "barcelona", "nano", "bobcat",
})
_AVX512_FLAGS = frozenset({"avx512f", "avx512bw", "avx512vl", "avx512dq", "avx512cd"})
_AVX2_FLAGS = frozenset({"avx2", "fma"})


@functools.cache
def _openblas_lib() -> "ctypes.CDLL | None":
    """numpy's (else scipy's) bundled OpenBLAS, opened with ctypes."""
    import glob

    import numpy as np

    for pat in ("numpy.libs/*openblas*", "scipy.libs/*openblas*"):
        hits = glob.glob(os.path.join(np.__path__[0], "..", pat))
        if hits:
            return ctypes.CDLL(hits[0])
    return None


def openblas_fn(*names: str):
    """The first of `names` the bundled OpenBLAS exports (ILP64 builds
    suffix every symbol with `64_`), or None."""
    lib = _openblas_lib()
    if lib is None:
        return None
    for sym in names:
        fn = getattr(lib, sym, None)
        if fn is not None:
            return fn
    return None


def _cpu_flags(path: str = "/proc/cpuinfo") -> "frozenset[str] | None":
    """The first CPU's feature flags, or None when they cannot be read."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("flags"):
                    return frozenset(line.partition(":")[2].split())
    except OSError:
        pass
    return None


def _blas_coretype(core: "str | None", flags: "frozenset[str] | None", env) -> "str | None":
    """The OPENBLAS_CORETYPE to export, or None to leave OpenBLAS alone:
    only when the user set none, OpenBLAS chose a generic pre-AVX core,
    and the CPU's flags prove the faster kernels' instructions exist."""
    if "OPENBLAS_CORETYPE" in env or not core or not flags:
        return None
    if core.lower() not in _GENERIC_CORES:
        return None
    if _AVX512_FLAGS <= flags:
        return "SkylakeX"
    if _AVX2_FLAGS <= flags:
        return "Haswell"
    return None


def _select_blas_kernels() -> None:
    """Export the OPENBLAS_CORETYPE _blas_coretype picks.  OpenBLAS reads
    it at load time, so it reaches the Python workers (forked through the
    JVM → pyspark.daemon chain from this environment) but not this
    already-loaded driver; on the integer-valued f32 path results stay
    bit-identical (every partial sum is an exact integer below 2²⁴)."""
    fn = openblas_fn("openblas_get_corename64_", "openblas_get_corename")
    if fn is None:
        return
    fn.argtypes, fn.restype = [], ctypes.c_char_p
    core = (fn() or b"").decode(errors="replace")
    choice = _blas_coretype(core, _cpu_flags(), os.environ)
    if choice is not None:
        os.environ["OPENBLAS_CORETYPE"] = choice


def get_spark(app_name: str = "filter_vectordb_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # FVDB_NO_MALLOC_PIN=1 drops the allocator pinning for A/B fault-tax
    # measurement (VERDICT r8 #7) — one bench run with and one without
    # separates host environment from code in the round-over-round diff
    malloc_env = (
        {} if os.environ.get("FVDB_NO_MALLOC_PIN", "") == "1" else _MALLOC_ENV
    )
    # local mode forks Python workers from this process — the env must be
    # set on the driver before the first worker spawns, AND as
    # executorEnv for completeness on a real cluster
    for k, v in {**_BLAS_ENV, **malloc_env}.items():
        os.environ.setdefault(k, v)
    _select_blas_kernels()  # local process env only, never executorEnv
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert at load (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**_BLAS_ENV, **malloc_env}.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
