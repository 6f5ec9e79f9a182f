"""SparkSession helper with the engine's standard configuration."""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession

# This box has expensive first-touch page faults; keep large numpy
# buffers inside the glibc arena instead of mmap/munmap-ing them per
# allocation (20x decode, 4x encode on measured kernels).  Must be set
# before the JVM (and thus the Python workers) starts.
# Note: ARROW_DEFAULT_MEMORY_POOL=system was tried here and REVERTED —
# routing Arrow through glibc inverted multi-worker scaling (local[8]
# became 2x slower than local[2]); jemalloc handles concurrent workers
# far better on this box.
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
}


def drop_runtime_zip_finders() -> None:
    """Stop every Python task from re-reading Spark's runtime archives.

    PySpark's worker calls ``importlib.invalidate_caches()`` at the start
    of each task, so that ``--py-files`` shipped since the last task
    become importable.  On Python 3.11 that makes each cached
    ``zipimporter`` re-read its archive's central directory: a worker
    holds ~16 of them over ``pyspark.zip`` (1,328 entries), the py4j zip
    and the spark-core jar (5,359 entries), ~0.2 s of a core per task
    before the UDF runs.  Those archives are on the worker path from
    launch and cannot change under a live worker, so their finders are
    dropped from ``sys.path_importer_cache``; an import that needs one
    again rebuilds it from zipimport's module-level directory cache
    without a re-read.  Archives under ``SparkFiles.getRootDirectory()``
    (``addPyFile`` zips) keep their finders and still refresh.

    Call it first thing in every UDF (a no-op outside a Spark worker).
    """
    from pyspark import SparkFiles

    if not SparkFiles._is_running_on_worker:
        return
    shipped = os.path.join(SparkFiles.getRootDirectory(), "")
    for path, finder in list(sys.path_importer_cache.items()):
        if isinstance(finder, zipimport.zipimporter) and not finder.archive.startswith(shipped):
            del sys.path_importer_cache[path]


def apply_malloc_env() -> None:
    """Make the arena settings effective for child processes (env) AND
    for the CURRENT process (mallopt): glibc reads MALLOC_* env vars
    only at process startup, so setting os.environ from inside a
    long-running Python (pytest, a driver) does nothing for its own
    allocations — mallopt(M_MMAP_THRESHOLD/M_TRIM_THRESHOLD) does."""
    for k, v in MALLOC_ENV.items():
        os.environ.setdefault(k, v)
    try:
        import ctypes

        libc = ctypes.CDLL("libc.so.6", use_errno=True)
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:
        pass  # non-glibc platform: env vars for children still apply


def spark_conf(cores: int | None = None, shuffle_partitions: int | None = None) -> dict[str, str]:
    """The engine's standard session settings.  Cores default to
    ``$SPARK_GRAFT_CPUS``, else the CPUs this process may run on; the
    driver heap to ``$SPARK_DRIVER_MEM``, else a quarter of the host's
    MemTotal (at most 16g)."""
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_mb = next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))
    return {
        "spark.master": f"local[{cores}]",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or max(cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # bigger Arrow batches -> better codec training + fewer UDF crossings
        "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM") or f"{min(mem_mb // 4, 16 << 10)}m",
        "spark.sql.shuffle.spill.compress": "true",
        **{f"spark.executorEnv.{k}": v for k, v in MALLOC_ENV.items()},
    }


def get_spark(
    app_name: str = "cpp-parquet-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    apply_malloc_env()
    builder = SparkSession.builder.appName(app_name)
    for k, v in spark_conf(cores, shuffle_partitions).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
