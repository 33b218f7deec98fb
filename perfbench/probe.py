"""Measurements taken from outside the engine: the process tree's CPU
and memory from /proc, JVM GC time from its MXBeans, Spark's job, stage,
task and SQL-node counts from its own status stores, and spans kept in
memory around the calls the benchmark makes into each layer."""

from __future__ import annotations

import os
import re
import threading
import time
from contextlib import contextmanager
from pathlib import Path

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class ProcTree:
    """This process and every descendant (the JVM, the Python daemon
    and its workers)."""

    def __init__(self):
        self.root = os.getpid()

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for entry in os.scandir("/proc"):
            if not entry.name.isdigit():
                continue
            try:
                stat = Path(entry.path, "stat").read_text()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(entry.name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def descendants(self) -> list[int]:
        return [p for p in self.pids() if p != self.root]

    def cpu_s(self) -> float:
        """User plus system time of the live tree, with reaped children."""
        total = 0
        for pid in self.pids():
            try:
                stat = Path(f"/proc/{pid}/stat").read_text()
            except OSError:
                continue
            fields = stat[stat.rindex(")") + 2:].split()
            total += sum(int(v) for v in fields[11:15])
        return total / _TICK

    @staticmethod
    def rss_bytes(pids) -> int:
        total = 0
        for pid in pids:
            try:
                total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
            except OSError:
                continue
        return total * _PAGE


class PeakRss(threading.Thread):
    """Samples the tree's summed resident memory until stopped."""

    def __init__(self, tree: ProcTree, interval: float = 0.2):
        super().__init__(daemon=True)
        self.tree, self.interval = tree, interval
        self.peak = 0
        self._stop_event = threading.Event()

    def run(self) -> None:
        pids, rescan_at = [], 0.0
        while not self._stop_event.is_set():
            now = time.monotonic()
            if now >= rescan_at:  # the tree changes rarely; /proc scans cost
                pids, rescan_at = self.tree.pids(), now + 2.0
            self.peak = max(self.peak, self.tree.rss_bytes(pids))
            self._stop_event.wait(self.interval)

    def stop(self) -> int:
        self._stop_event.set()
        self.join()
        return self.peak


def host_cpu_ticks() -> tuple[int, int]:
    """Stolen and total ticks of every CPU the kernel sees, from
    /proc/stat. Steal is time this VM was ready to run but its host ran
    something else, which no choice of the benchmark can remove."""
    fields = [int(v) for v in Path("/proc/stat").read_text().split("\n", 1)[0].split()[1:9]]
    return fields[7], sum(fields)


def gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def old_gen_peak_bytes(spark) -> int:
    """Peak use of the JVM's old-generation heap pool since it started:
    what survived young collections, plus humongous objects (a
    broadcast's arrays). The whole heap's peak says little here, as
    eden fills to its size between collections whatever the program
    keeps."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    return sum(pool.getPeakUsage().getUsed() for pool in mf.getMemoryPoolMXBeans()
               if "Old" in pool.getName() or "Tenured" in pool.getName())


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _metric_number(text: str) -> float:
    """A SQL metric's total, as the status store formats it: a plain
    count ('736,828') or a size ('36.0 MiB'); aggregated metrics put the
    total on the line after 'total (min, med, max ...)'."""
    if text.startswith("total"):
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*([\d,.]+)\s*([A-Za-z]*)", text)
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE.get(m.group(2), 1)


_JOINS = ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
          "BroadcastNestedLoopJoin", "CartesianProduct")


class SparkProbe:
    """Per-op counts from Spark's status stores. An op runs under its own
    job group; its SQL executions are the ones added while it ran."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        self.tracker = self.sc.statusTracker()

    def executions(self) -> int:
        return self.sql_store.executionsCount()

    def sql_counts(self, first: int, last: int) -> dict:
        """Rows out of inner joins (candidates), rows returned by Arrow
        Python nodes, and bytes broadcast, over executions [first, last)."""
        out = {"join_rows": 0, "python_rows": 0, "broadcast_bytes": 0}
        if last <= first:
            return out
        for ex in _scala_iter(self.sql_store.executionsList(first, last - first)):
            eid = ex.executionId()
            values = {
                int(kv._1()): kv._2()
                for kv in _scala_iter(self.sql_store.executionMetrics(eid))
            }
            for node in _scala_iter(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                if name in _JOINS and " Inner" in node.desc():
                    key, wanted = "join_rows", "number of output rows"
                elif name == "ArrowEvalPython":
                    key, wanted = "python_rows", "number of output rows"
                elif name == "BroadcastExchange":
                    key, wanted = "broadcast_bytes", "data size"
                else:
                    continue
                for metric in _scala_iter(node.metrics()):
                    if metric.name() == wanted:
                        text = values.get(int(metric.accumulatorId()))
                        if text is not None:
                            out[key] += int(_metric_number(text))
        return out

    def job_counts(self, group: str) -> dict:
        """Jobs, the stages and tasks that ran, shuffle bytes written and
        the task-time skew (max ÷ median) of the stage whose slowest task
        was the slowest of the op."""
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = set()
        for job in jobs:
            info = self.tracker.getJobInfo(job)
            if info is not None:
                stages.update(info.stageIds)
        ran = tasks = shuffle = 0
        skew, slowest = 1.0, -1
        for stage in sorted(stages):
            info = self.tracker.getStageInfo(stage)
            if info is None:
                continue
            durations = []
            for task in _scala_iter(
                self.app_store.taskList(stage, info.currentAttemptId, 1 << 20)
            ):
                durations.append(task.duration().get() if task.duration().isDefined() else 0)
                metrics = task.taskMetrics()
                if metrics.isDefined():
                    shuffle += metrics.get().shuffleWriteMetrics().bytesWritten()
            if not durations:
                continue  # skipped: its shuffle output was reused
            ran += 1
            tasks += len(durations)
            durations.sort()
            if durations[-1] > slowest:
                slowest = durations[-1]
                median = durations[len(durations) // 2]
                skew = durations[-1] / median if median > 0 else 1.0
        return {"jobs": len(jobs), "stages": ran, "tasks": tasks,
                "shuffle_bytes": shuffle, "task_skew": skew}


class Tracer:
    """Spans kept in memory: name, start and end (seconds since the
    tracer was made) and the index of the span that caused it."""

    def __init__(self):
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        index = len(self.spans)
        record = {"name": name, "parent": self._open[-1] if self._open else None,
                  "start": time.perf_counter() - self.t0, **attrs}
        self.spans.append(record)
        self._open.append(index)
        try:
            yield record
        finally:
            self._open.pop()
            record["end"] = time.perf_counter() - self.t0
