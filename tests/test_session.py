"""Session defaults fit the host they run on."""

import os

from cpp_parquet_spark.session import spark_conf


def _mem_total_mb():
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) // 1024 for line in f if line.startswith("MemTotal:"))


def test_defaults_come_from_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    conf = spark_conf()
    assert conf["spark.master"] == f"local[{len(os.sched_getaffinity(0))}]"
    heap = conf["spark.driver.memory"]
    assert heap.endswith("m") and 0 < int(heap[:-1]) <= _mem_total_mb() // 4


def test_defaults_follow_cpu_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1})
    assert spark_conf()["spark.master"] == "local[2]"
    assert spark_conf()["spark.sql.shuffle.partitions"] == "8"


def test_env_and_arguments_override_the_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_DRIVER_MEM", "1g")
    conf = spark_conf()
    assert conf["spark.master"] == "local[3]"
    assert conf["spark.driver.memory"] == "1g"
    assert spark_conf(cores=5, shuffle_partitions=11)["spark.sql.shuffle.partitions"] == "11"


# ------------------------------------------------ worker import setup

# pyspark submodules a Python worker does not import by itself
_UNIMPORTED = [
    "pyspark.sql.avro.functions",
    "pyspark.sql.protobuf.functions",
    "pyspark.statcounter",
    "pyspark.rddsampler",
    "pyspark.sql.observation",
    "pyspark.sql.variant_utils",
    "pyspark.find_spark_home",
    "pyspark.traceback_utils",
]


def _in_worker(spark, fn):
    """Run ``fn()`` (a local function: the worker cannot import this
    module) in one Spark Python task; return its dict result."""
    import json

    import pyarrow as pa

    def probe(batches):
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pylist([{"out": json.dumps(fn())}])

    (row,) = spark.range(1, numPartitions=1).mapInArrow(probe, "out string").collect()
    return json.loads(row.out)


def test_worker_skips_runtime_archive_rereads(spark):
    """Spark's per-task ``importlib.invalidate_caches()`` re-reads every
    runtime archive's central directory (pyspark.zip, py4j, the
    spark-core jar) until the helper has run; after it, none, and a
    pyspark submodule that no task imported yet still imports — from
    zipimport's directory cache, with no re-read."""

    def reread_probe():
        """In a worker: which archives does ``importlib.invalidate_caches()``
        re-read before and after ``drop_runtime_zip_finders()``, and does a
        pyspark submodule the worker has not imported yet still import?"""
        import importlib
        import importlib.machinery
        import os
        import sys
        import zipimport

        from pyspark import SparkFiles

        from cpp_parquet_spark.session import drop_runtime_zip_finders

        reads: list[str] = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        # what the worker's sys.path holds from launch: make sure each of
        # its archives has a cached finder, as after the worker's first task
        runtime = [p for p in sys.path if os.path.isfile(p) and not p.startswith(SparkFiles.getRootDirectory())]
        for p in runtime:
            importlib.machinery.PathFinder._path_importer_cache(p)
        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
            before = sorted(set(reads))
            drop_runtime_zip_finders()
            reads.clear()
            importlib.invalidate_caches()
            after = list(reads)
            name = next(m for m in _UNIMPORTED if m not in sys.modules)
            origin = importlib.import_module(name).__spec__.origin
            on_import = list(reads[len(after):])
        finally:
            zipimport._read_directory = read_directory
        return {"runtime": runtime, "before": before, "after": after, "origin": origin, "on_import": on_import}

    got = _in_worker(spark, reread_probe)
    assert any(p.endswith("pyspark.zip") for p in got["runtime"]), got["runtime"]
    assert set(got["runtime"]) <= set(got["before"]), got
    assert got["after"] == []
    assert got["origin"] and ".zip" in got["origin"]
    assert got["on_import"] == []


def test_drop_runtime_zip_finders_is_a_noop_on_the_driver():
    import sys

    from cpp_parquet_spark.session import drop_runtime_zip_finders

    cache = dict(sys.path_importer_cache)
    drop_runtime_zip_finders()
    assert sys.path_importer_cache == cache


def test_py_file_shipped_after_the_helper_imports(spark, tmp_path):
    """``addPyFile`` zips land under SparkFiles' root directory and keep
    their finders: one shipped after the helper ran in the workers is
    importable by the next task."""
    import uuid
    import zipfile

    from cpp_parquet_spark.session import drop_runtime_zip_finders

    def drop_everywhere():
        import pyarrow as pa

        def task(batches):
            drop_runtime_zip_finders()
            for _ in batches:
                pass
            yield pa.RecordBatch.from_pylist([{"ok": 1}])

        return spark.range(8, numPartitions=4).mapInArrow(task, "ok long").count()

    drop_everywhere()
    mod = f"colenc_shipped_{uuid.uuid4().hex[:12]}"
    archive = tmp_path / f"{mod}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{mod}/__init__.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(str(archive))

    def imported():
        import importlib

        m = importlib.import_module(mod)
        return {"value": m.VALUE, "file": m.__file__}

    got = _in_worker(spark, imported)
    assert got["value"] == 42
    assert f"{mod}.zip" in got["file"]
    drop_everywhere()
    assert _in_worker(spark, imported)["value"] == 42
