"""Session defaults come from the host, not from fixed constants."""

import os

from workstealing_spatial_join_spark import session


def test_default_cores_from_affinity_and_env(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 1, 5}, raising=False)
    assert session.default_cores() == 3
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    assert session.default_cores() == 12


def test_default_driver_memory_is_half_of_ram(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": 15 * (1 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", lambda name: pages[name])
    assert session.default_driver_memory() == "7g"  # 15 GiB host
    pages["SC_PHYS_PAGES"] = (1 << 30) // 4096
    assert session.default_driver_memory() == "1g"  # floor on a tiny host
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert session.default_driver_memory() == "3g"
