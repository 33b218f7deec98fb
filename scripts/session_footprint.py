"""Resident (RSS) and proportional (PSS) memory of every process in a
Spark driver's process tree: the driver Python, the JVM, the Python
worker daemon and its workers.

Starts a session with ``get_spark``, prints the tree once right after
session start and once after one pandas-UDF query (a sum over
``range(ROWS)`` through an identity UDF, checked against the closed
form). RSS comes from ``/proc/<pid>/status`` (VmRSS) and PSS from
``/proc/<pid>/smaps_rollup``; PSS splits each shared page among the
processes that map it, so the PSS column adds up to what the tree
really holds, while forked workers' RSS counts their shared pages
again.

    SPARK_GRAFT_CPUS=4 python scripts/session_footprint.py [--json]

The session's cores and driver heap follow ``get_spark``'s defaults
(``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM`` override). ``--json``
prints one JSON object instead of the tables.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

ROWS = 100_000


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            stat = Path(entry.path, "stat").read_text()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(entry.name))
    return out


def _kb(path: str, key: str) -> int:
    for line in Path(path).read_text().splitlines():
        if line.startswith(key + ":"):
            return int(line.split()[1])
    return 0


def footprint() -> list[dict]:
    """One record per live process in this process's tree, parents
    before children. The role follows the tree's shape: the
    root is the driver, a ``java`` child is the JVM, a Python child of
    the JVM is the worker daemon, and the daemon's children are its
    workers."""
    children = _children()
    procs, todo = [], [(os.getpid(), None)]
    while todo:
        pid, parent = todo.pop(0)
        try:
            cmd = Path(f"/proc/{pid}/cmdline").read_bytes().split(b"\0")
            cmd = [c.decode(errors="replace") for c in cmd if c]
            rss = _kb(f"/proc/{pid}/status", "VmRSS")
            pss = _kb(f"/proc/{pid}/smaps_rollup", "Pss")
        except OSError:  # exited while we looked
            continue
        exe = os.path.basename(cmd[0]) if cmd else ""
        if parent is None:
            role = "driver"
        elif exe == "java":
            role = "jvm"
        elif parent["role"] == "jvm" and exe.startswith("python"):
            role = "daemon"
        elif parent["role"] == "daemon":
            role = "worker"
        else:
            role = "other"
        module = cmd[cmd.index("-m") + 1] if "-m" in cmd[:-1] else ""
        rec = {"pid": pid, "role": role, "rss_mb": rss / 1024,
               "pss_mb": pss / 1024, "module": module}
        procs.append(rec)
        todo.extend((c, rec) for c in sorted(children.get(pid, ())))
    return procs


def python_query(spark) -> dict:
    """Sum ``range(ROWS)`` through an identity pandas UDF."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    @F.pandas_udf(T.LongType())
    def ident(x):
        return x

    t0 = time.perf_counter()
    got = spark.range(ROWS).select(F.sum(ident("id")).alias("s")).first()["s"]
    return {"sum": got, "expected": ROWS * (ROWS - 1) // 2,
            "s": round(time.perf_counter() - t0, 3)}


def _table(title: str, procs: list[dict]) -> str:
    lines = [title, f"{'role':<8} {'pid':>8} {'rss_mb':>9} {'pss_mb':>9}  module"]
    for p in procs:
        lines.append(f"{p['role']:<8} {p['pid']:>8} {p['rss_mb']:>9.1f} "
                     f"{p['pss_mb']:>9.1f}  {p['module']}")
    py = [p for p in procs if p["role"] in ("daemon", "worker")]
    for label, group in (("total", procs), ("python pool", py)):
        lines.append(f"{label:<17} {sum(p['rss_mb'] for p in group):>9.1f} "
                     f"{sum(p['pss_mb'] for p in group):>9.1f}  ({len(group)} processes)")
    return "\n".join(lines)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--json", action="store_true")
    args = ap.parse_args()

    from workstealing_spatial_join_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("session_footprint")
    start_s = round(time.perf_counter() - t0, 3)
    after_start = footprint()
    query = python_query(spark)
    after_query = footprint()
    spark.stop()

    if args.json:
        print(json.dumps({"start_s": start_s, "after_start": after_start,
                          "query": query, "after_query": after_query}))
        return
    print(_table(f"after session start ({start_s} s)", after_start))
    print()
    print(f"pandas-UDF sum: {query['sum']} (expected {query['expected']}), {query['s']} s")
    print()
    print(_table("after one Python query", after_query))


if __name__ == "__main__":
    main()
