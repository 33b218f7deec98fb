"""Session defaults come from the host, not from fixed constants, and
session start forks no Python worker."""

import json
import os
import subprocess
import sys
from pathlib import Path

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


def test_fresh_session_forks_python_workers_on_first_use():
    """A fresh driver (its own JVM, in a subprocess) has no Python
    process under the JVM right after ``get_spark``; one pandas-UDF
    query returns the exact sum and starts the pool from the
    ``daemon_preload`` daemon."""
    root = Path(__file__).resolve().parent.parent
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    env.pop("SPARK_GRAFT_DAEMON_MODULE", None)
    out = subprocess.run(
        [sys.executable, str(root / "scripts" / "session_footprint.py"),
         "--json"],
        cwd=root, env=env, capture_output=True, text=True, timeout=300, check=True,
    )
    report = json.loads(out.stdout.strip().splitlines()[-1])
    python_roles = ("daemon", "worker")

    roles = [p["role"] for p in report["after_start"]]
    assert "jvm" in roles
    assert not [r for r in roles if r in python_roles]

    assert report["query"]["sum"] == report["query"]["expected"]

    pool = [p for p in report["after_query"] if p["role"] in python_roles]
    daemons = [p for p in pool if p["role"] == "daemon"]
    assert len(daemons) == 1
    assert {p["module"] for p in pool} == {"workstealing_spatial_join_spark.daemon_preload"}
