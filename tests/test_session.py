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
