"""SparkSession factory tuned for the spatial engine.

Local-mode testing uses ``local[N]``; the configs below are the ones
that also matter on a real multi-executor cluster (AQE, skew join,
Arrow batching). The reference engine's flow-control / memory
guardrail constants (include/global_var.h:45-54) map onto
``maxRecordsPerBatch`` and executor memory settings here.

Session start warms the JVM side only (``_warm_jvm_stack``): one tiny
scan-shuffle-aggregate job pays classloading and codegen up front. The
Python worker pool is not started with the session; Spark forks it, from
the ``daemon_preload`` daemon, at the first plan that has a Python stage.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def default_cores() -> int:
    """Cores for ``local[N]``: ``SPARK_GRAFT_CPUS`` if set, else the
    CPUs this process may run on (its affinity mask, which a container
    or ``taskset`` narrows below the host's count)."""
    env = os.environ.get("SPARK_GRAFT_CPUS")
    if env:
        return int(env)
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def default_driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_DRIVER_MEM`` if set, else half
    of physical RAM (MemTotal) in whole GiB, at least 1g. In local
    mode the driver heap holds every executor's work, and the other
    half is left to JVM off-heap memory, the Python workers and the
    OS — a heap sized past physical RAM gets the process OOM-killed
    instead of spilling."""
    env = os.environ.get("SPARK_DRIVER_MEM")
    if env:
        return env
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, total // 2 // (1 << 30))}g"


DEFAULT_SHUFFLE_PARTITIONS = default_cores()


def _pythonpath_with_package() -> str:
    """PYTHONPATH that lets the JVM-launched Python daemon/workers
    import this package (the same importability every engine pandas
    UDF already needs): the package's parent dir prepended to the
    inherited PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if root in existing.split(os.pathsep):
        return existing
    return root + (os.pathsep + existing if existing else "")


def _warm_jvm_stack(spark: SparkSession, cores: int) -> None:
    """Pay the JVM's cold cost NOW, once per SparkContext: one tiny job
    shaped like a real query (a range scan, a shuffle, a filter and an
    aggregate) so the first USER query does not pay classloading,
    janino/codegen and shuffle-system init on top of its own work
    (measured: first job of a fresh 32-core session ~5.5 s for a 20k-row
    count that takes 0.6 s once warm; without this warm-up the first
    scan of a fresh local[4] benchmark session ran 4-5 s longer).

    It has no Python stage on purpose: the worker pool (~500 MB RSS at
    local[4]) forks at the first plan that has one, and plans without
    one — the collected-layer PIP join, the planar kNN join — never
    pay for it.
    """
    sc = spark.sparkContext
    if getattr(sc, "_wssj_jvm_warm", False):
        return
    sc.setJobDescription("session init: warm JVM exec stack")
    try:
        (
            spark.range(32 * cores, numPartitions=cores)
            .repartition(cores)
            .where(F.col("id") >= 0)
            .agg(F.count(F.lit(1)))
            .collect()
        )
    finally:
        sc.setJobDescription(None)
    sc._wssj_jvm_warm = True


def get_spark(
    app_name: str = "workstealing_spatial_join_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    AQE + skew-join splitting is the Spark rebirth of the reference's
    work-stealing (SURVEY.md §2.6 LB2/LB4/LB5): many small tasks + the
    Spark scheduler give steal-equivalent granularity, and AQE splits
    oversized post-shuffle partitions at runtime.

    Before returning, the session runs one tiny JVM-only job to warm
    classloading and codegen. No Python process is started: the worker
    pool (daemon ``daemon_preload`` plus one worker per concurrent task)
    forks on first use, at the first Python stage, and is reused from
    then on.
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, DEFAULT_SHUFFLE_PARTITIONS)
    # the daemon/worker processes inherit the JVM's env; make sure the
    # package is importable there BEFORE the JVM launches (no-op when
    # a context already exists — workers then import via cwd/PYTHONPATH
    # exactly as the engine's UDFs already require)
    os.environ["PYTHONPATH"] = _pythonpath_with_package()
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        .config(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64m"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ~16 MB coordinate-buffer cap per steal message in the
        # reference (SEND_TASK_MAX_NUM_POINTS, include/global_var.h:53)
        # → bounded-but-large Arrow batches: fewer JVM↔Python IPC
        # round-trips per task (measured 2.6× on the refine stage at
        # 32 cores vs 10k batches)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
        # worker-pool daemon with the engine's hot imports preloaded:
        # forked workers inherit numpy/pandas/pyarrow + the engine's
        # kernel modules via copy-on-write instead of 32 concurrent
        # cold imports at the first Python stage (guide §4.5, one
        # level up). Same importability contract as the UDFs
        # themselves; the module no-ops on any individual failure.
        .config(
            "spark.python.daemon.module",
            os.environ.get(
                "SPARK_GRAFT_DAEMON_MODULE",
                "workstealing_spatial_join_spark.daemon_preload",
            ),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_jvm_stack(spark, cores)
    return spark
