"""Host-aware session defaults, derived without starting Spark: cores from
the process's CPU affinity, the driver heap from MemAvailable, each
overridden by its environment variable."""

import os

from dagli_spark.session import (
    default_cores,
    default_driver_memory,
    host_cpus,
    master_cores,
)

GIB = 1 << 30


def test_cores_follow_affinity_unless_overridden(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert host_cpus() == len(os.sched_getaffinity(0))
    assert default_cores() == host_cpus()
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cores() == 3


def test_master_cores(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert master_cores("local[6]") == 6
    assert master_cores("local[6,2]") == 6  # N,maxFailures
    assert master_cores("local[*]") == host_cpus()
    # no core count in the master: the same derivation as the default
    assert master_cores("local") == 3
    assert master_cores("spark://host:7077") == 3


def test_driver_memory_is_half_of_mem_available(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    assert default_driver_memory(15 * GIB) == "7g"
    assert default_driver_memory(15 * GIB + GIB // 2) == "7g"
    assert default_driver_memory(GIB) == "1g"  # floor
    assert default_driver_memory(500 * GIB) == "48g"  # ceiling
    # read from /proc/meminfo when not given: never the 48g of a big host
    # on a small one
    with open("/proc/meminfo") as f:
        avail = next(int(line.split()[1]) * 1024 for line in f
                     if line.startswith("MemAvailable:"))
    assert default_driver_memory() == default_driver_memory(avail)
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "2g")
    assert default_driver_memory(15 * GIB) == "2g"
