"""SparkSession factory tuned for the local[32] test harness.

The settings mirror what we would set on a real cluster: AQE on (runtime
join-strategy changes + skew-join splitting), Arrow on (all our Python
kernels are pandas-UDF based), shuffle partitions sized to cores rather
than the 200 default, UTC session timezone so results hash-compare against
the DuckDB oracle (DuckDB timestamps are UTC-naive).

Python workers run under a repo-owned daemon
(``spark.python.daemon.module`` = ``filter_vectordb_spark.pydaemon``).
PySpark invalidates the import caches at the start of every Python task,
and on Python 3.11 that re-reads the central directory of every zip on
the worker's ``sys.path`` (the spark-core jar, ``pyspark.zip``, py4j):
0.1-0.2 s of fixed cost per task.  The daemon makes that re-read
stat-gated, so an unchanged archive costs one ``stat`` per task (see
``pydaemon.py``); it also raises the workers' OOM score, so memory
exhaustion kills a worker before the JVM.  Every Python worker imports
``filter_vectordb_spark``: local workers find it through the package
directory ``get_spark`` puts on their PYTHONPATH; on a cluster the
package must be installed on the executors, as the serve kernels
already require.

The driver heap defaults to a quarter of the host's physical memory,
capped at 48g; ``SPARK_DRIVER_MEMORY`` overrides it.
"""

from __future__ import annotations

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


#: directory holding this package, on the workers' PYTHONPATH (Spark
#: appends the launch environment's): the worker daemon is
#: filter_vectordb_spark.pydaemon, so every Python worker imports the
#: package, also when the driver runs outside the repo and finds it
#: through its own sys.path
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: driver heap ceiling; below it the default is a quarter of the host's
#: RAM — a heap sized past physical memory is never collected before
#: the host's OOM killer takes the JVM
_MAX_DRIVER_HEAP_MB = 48 * 1024


def _driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else a quarter of physical memory
    (MemTotal) capped at 48g, as a Spark size string."""
    explicit = os.environ.get("SPARK_DRIVER_MEMORY")
    if explicit:
        return explicit
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") >> 20
    return f"{min(total_mb // 4, _MAX_DRIVER_HEAP_MB)}m"


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
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.driver.memory", _driver_memory())
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        # events.parquet carries TIMESTAMP(NANOS) which Spark rejects;
        # read as long and convert at load (sources/tables.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.python.daemon.module", "filter_vectordb_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
    )
    for k, v in {**_BLAS_ENV, **malloc_env}.items():
        builder = builder.config(f"spark.executorEnv.{k}", v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
