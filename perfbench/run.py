"""Benchmark of the workstealing_spatial_join_spark engine.

One workload per fresh driver process, one client in a closed loop:

    python3 perfbench/run.py --workload pip_bulk --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object. With ``--trace 0``
its metrics are the end-to-end ones; with ``--trace 1`` the run
alternates plain and traced ops and reports the per-layer metrics,
and writes its spans with the run record in ``.perfbench/runs``. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import workloads as WL  # noqa: E402
from kernels import host_sentinel_s, kernel_rates  # noqa: E402
from probe import (  # noqa: E402
    PeakRss, ProcTree, SparkProbe, Tracer, gc_s, host_cpu_ticks, old_gen_peak_bytes)

DRIVER_MEM = "2g"
STOP_TIMEOUT_S = 20


def start_session():
    from workstealing_spatial_join_spark import get_spark

    tmp = WL.WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)  # what an earlier run left
    tmp.mkdir(parents=True)
    # Python temp files (driver and workers) stay inside the checkout too
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    cores = len(os.sched_getaffinity(0))
    return get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": str(tmp),
            # the whole heap is committed and touched at start, so its
            # share of resident memory is the same in every run
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch "
                f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"),
        },
    )


def stop_session(spark, tree: ProcTree) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until no process this run started is left."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=STOP_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    _wait_gone(tree, STOP_TIMEOUT_S)
    for pid in tree.descendants():  # still there after the grace period
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    _wait_gone(tree, STOP_TIMEOUT_S)


def _wait_gone(tree: ProcTree, timeout_s: float) -> None:
    deadline = time.monotonic() + timeout_s
    while tree.descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


class Runner:
    def __init__(self, workload, ref, spark, tree: ProcTree, tracer: Tracer):
        self.w, self.ref, self.spark = workload, ref, spark
        self.tree, self.tracer = tree, tracer
        self.probe = SparkProbe(spark)
        self.n_ops = 0

    def op(self, traced: bool = False) -> dict:
        """One closed-loop op: the operator call, then the action that
        consumes its result, then the correctness check (untimed)."""
        index = self.n_ops
        self.n_ops += 1
        stats: dict = {}
        rec = {"op": index, "traced": traced, "ok": False}
        sc = self.spark.sparkContext
        if traced:
            group = f"perfbench-op-{index}"
            first_exec = self.probe.executions()
            cpu0 = self.tree.cpu_s()
            sc.setJobGroup(group, group)
        try:
            with self.tracer.span("op", op=index, traced=traced):
                t0 = time.perf_counter()
                with self.tracer.span("call"):
                    df = self.w.call(stats)
                t1 = time.perf_counter()
                with self.tracer.span("action"):
                    result = self.w.action(df)
                t2 = time.perf_counter()
        except Exception:
            traceback.print_exc()
            return rec
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
        rec.update(wall_s=t2 - t0, call_s=t1 - t0, action_s=t2 - t1,
                   ok=self.w.check(result, self.ref), matches=self.w.matches(result),
                   rss_mb=self.tree.rss_bytes(self.tree.pids()) / 2**20,
                   rounds=stats.get("rounds", 0))
        if traced:
            rec["cpu_s"] = self.tree.cpu_s() - cpu0
            with self.tracer.span("probe", op=index):
                from workstealing_spatial_join_spark.plans.planner import audit_plan

                rec.update(self.probe.sql_counts(first_exec, self.probe.executions()))
                rec.update(self.probe.job_counts(group))
                rec["python_nodes"] = sum(audit_plan(df)["python_nodes"].values())
                rec["initial_ring"] = stats.get("initial_ring", 0)
        return rec


def warmed_up(workload, ops: list[dict], window: int = 3, tol: float = 0.05) -> bool:
    """The warm-up ends after the first op, at least ``min_warmup_ops``
    more and ``2 * window`` in all, once the median of the last
    ``window`` op times is no more than ``tol`` below the median of the
    ``window`` before them, i.e. op times have stopped falling. It ends
    sooner once the warm-up ops, the first included, have taken
    ``max_warmup_s`` in all, so a slow host cannot stretch a run past
    its budget."""
    walls = [r.get("wall_s", float("inf")) for r in ops]
    if sum(walls) >= workload.max_warmup_s:
        return True
    if len(ops) < max(1 + workload.min_warmup_ops, 2 * window):
        return False
    last = statistics.median(walls[-window:])
    before = statistics.median(walls[-2 * window:-window])
    return last >= (1 - tol) * before


def _median(records, key):
    return statistics.median(r[key] for r in records)


def layer_metrics(workload, traced: list[dict], plain: list[dict]) -> dict:
    """Per-layer metrics from the traced ops (medians over ops). The join
    counts go to the workload's own family; the other family reads 0."""
    m = {k: _median(traced, k) for k in (
        "call_s", "action_s", "join_rows", "matches", "python_rows",
        "broadcast_bytes", "python_nodes", "rounds", "initial_ring", "jobs",
        "stages", "tasks", "shuffle_bytes", "task_skew", "cpu_s")}
    join = {"candidates": m["join_rows"], "matches": m["matches"],
            "yield": m["matches"] / m["join_rows"] if m["join_rows"] else 0.0,
            "broadcast_bytes": m["broadcast_bytes"]}
    none = dict.fromkeys(join, 0)
    pip, knn = (join, none) if workload.name == WL.PipBulk.name else (none, join)
    return {
        "op.call_s": (m["call_s"], "s"),
        "op.action_s": (m["action_s"], "s"),
        "spatial_join.candidates": (pip["candidates"], "count"),
        "spatial_join.matches": (pip["matches"], "count"),
        "spatial_join.refine_yield": (pip["yield"], "ratio"),
        "spatial_join.broadcast_bytes": (pip["broadcast_bytes"], "bytes"),
        "predicates.python_rows": (m["python_rows"], "count"),
        "planner.python_nodes": (m["python_nodes"], "count"),
        "knn.rounds": (m["rounds"], "count"),
        "knn.initial_ring": (m["initial_ring"], "count"),
        "knn.candidates": (knn["candidates"], "count"),
        "knn.yield": (knn["yield"], "ratio"),
        "spark.jobs": (m["jobs"], "count"),
        "spark.stages": (m["stages"], "count"),
        "spark.tasks": (m["tasks"], "count"),
        "spark.shuffle_bytes": (m["shuffle_bytes"], "bytes"),
        "spark.task_skew": (m["task_skew"], "ratio"),
        "proc.cpu_s": (m["cpu_s"], "s"),
        "trace.op_p50_s": (_median(traced, "wall_s"), "s"),
        "trace.untraced_op_p50_s": (_median(plain, "wall_s"), "s"),
        "trace.overhead_ratio": (
            _median(traced, "wall_s") / _median(plain, "wall_s"), "ratio"),
    }


def run(name: str, seed: int, seconds: float, trace: bool) -> dict:
    workload = WL.WORKLOADS[name](seed)
    sentinel_before = host_sentinel_s()
    # inputs and references are made outside set-up and the timed window
    WL.ensure_inputs()
    ref = workload.reference()
    probe_ref = workload.probe_reference() if trace else None

    tree, tracer = ProcTree(), Tracer()
    rss = PeakRss(tree)
    rss.start()
    spark = None
    try:
        setup_start = time.perf_counter()
        with tracer.span("session.start") as s:
            spark = start_session()
        session_start = s["end"] - s["start"]
        runner = Runner(workload, ref, spark, tree, tracer)
        with tracer.span("sources.load") as load:
            workload.load(spark)
        with tracer.span("setup.prepare") as prep:
            workload.prepare()
        first = runner.op()
        warm = [first]
        while not warmed_up(workload, warm):
            warm.append(runner.op())
        setup_s = time.perf_counter() - setup_start

        timed = []
        ticks0 = host_cpu_ticks()
        start = time.perf_counter()
        # a traced run needs at least two traced and two plain ops
        while time.perf_counter() - start < seconds or (trace and len(timed) < 4):
            timed.append(runner.op(traced=trace and len(timed) % 2 == 1))
        ticks1 = host_cpu_ticks()
        steal = (ticks1[0] - ticks0[0]) / max(1, ticks1[1] - ticks0[1])
        # the whole run's GC, not per op: with the heap pre-touched a
        # single op rarely collects at all
        gc_total = gc_s(spark)
        old_peak = old_gen_peak_bytes(spark)
        if trace:
            probes, probes_ok = workload.layer_probes(spark, probe_ref)
    finally:
        if spark is not None:
            stop_session(spark, tree)
        peak = rss.stop()
    sentinel_after = host_sentinel_s()
    print(f"# host sentinel s: before {sentinel_before:.4f} after {sentinel_after:.4f};"
          f" CPU stolen in the timed window: {steal:.1%}")

    good = [r for r in timed if r["ok"]]
    failed = len(timed) - len(good)
    correct = all(r["ok"] for r in warm) and failed == 0
    if trace:
        rates, kernels_ok = kernel_rates()
        correct = correct and kernels_ok and probes_ok
        traced = [r for r in good if r["traced"]]
        plain = [r for r in good if not r["traced"]]
        metrics = layer_metrics(workload, traced, plain)
        metrics.update({
            "session.start_s": (session_start, "s"),
            "session.first_op_s": (first.get("wall_s", float("nan")), "s"),
            "session.warmup_ops": (len(warm), "count"),
            "sources.load_s": (load["end"] - load["start"], "s"),
            "setup.prepare_s": (prep["end"] - prep["start"], "s"),
            "jvm.gc_s": (gc_total, "s"),
            "jvm.old_gen_peak_mb": (old_peak / 2**20, "MB"),
            **{k: (v, "s") for k, v in probes.items()},
            **{k: (v, "1/s") for k, v in rates.items()},
            "host.sentinel_before_s": (sentinel_before, "s"),
            "host.sentinel_after_s": (sentinel_after, "s"),
            "host.steal_share": (steal, "ratio"),
            "fail_ratio": (failed / len(timed), "ratio"),
        })
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "op_p50_s": (statistics.median(r["wall_s"] for r in good) if good else float("nan"), "s"),
            "peak_rss_mb": (peak / 2**20, "MB"),
        }
    out_dir = WL.WORK / "runs"
    out_dir.mkdir(parents=True, exist_ok=True)
    (out_dir / f"{name}-seed{seed}-trace{int(trace)}-{os.getpid()}.json").write_text(
        json.dumps({
            "workload": name, "seed": seed, "seconds": seconds,
            "host_sentinel_s": [sentinel_before, sentinel_after], "host_steal_share": steal,
            "metrics": metrics, "ops": warm + timed,
            "spans": tracer.spans if trace else [],
        }, indent=1))
    return {
        "correct": bool(correct),
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WL.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
