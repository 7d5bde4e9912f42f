"""Session defaults fit the host: resolved without starting Spark."""

import os

from tiny_search_engine_spark.session import default_cpus, default_driver_memory


def test_default_cpus_from_affinity_or_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert default_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert default_cpus() == 3


def test_default_driver_memory_quarter_of_ram_or_env(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)
    got = default_driver_memory()
    assert got.endswith("m") and 1024 <= int(got[:-1]) <= 8192
    # the cap and the floor, with the RAM size faked
    for pages_mb, want in ((128 * 1024, 8192), (2 * 1024, 1024), (16 * 1024, 4096)):
        monkeypatch.setattr(
            os, "sysconf",
            lambda name, _mb=pages_mb: 4096 if name == "SC_PAGE_SIZE" else _mb * 256,
        )
        assert default_driver_memory() == f"{want}m"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "5g")
    assert default_driver_memory() == "5g"
