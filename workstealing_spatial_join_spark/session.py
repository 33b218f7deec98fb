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

The driver JVM maps an AppCDS (application class-data sharing) archive
of the ~17k classes a Spark session loads, so a launch reads them from
one mapped file instead of parsing and verifying them from the jars.
What is cached, and where:

- ``.jvm-cds/<key>.jsa`` in the checkout (git-ignored), 145–195 MB.
  The key hashes the JDK (its ``java`` and ``libjvm.so``), Spark's jars
  (name, size, mtime) and every setting that adds a class path entry,
  so a new JDK, a new Spark or a moved checkout starts a new archive.
  Deleting the directory forces a rebuild.
- The first launch that finds no archive for its key runs with
  ``-XX:ArchiveClassesAtExit=<key>.<pid>.jsa`` and records its class
  path and JVM pid in ``<key>.<pid>.json``. The JVM writes the archive
  as it exits.
- A later launch adopts that file only once its JVM has exited and a
  ``java -Xshare:on`` probe against the recorded class path exits 0;
  it then renames it to ``<key>.jsa`` (``os.replace``) and stamps its
  size, mtime and class path in ``<key>.stat``. A file that fails the
  probe is deleted: JDK 17 dies of SIGBUS on a truncated archive
  instead of falling back, so nothing unprobed is mapped.
- Every later launch checks the adopted archive with one ``stat``
  against its stamp. An archive damaged after adoption (a partial copy,
  a full disk) has moved: it is probed again, and deleted when the
  probe fails or no stamp names its class path.
- Every launch with an archive passes ``-XX:SharedArchiveFile`` through
  ``spark.driver.defaultJavaOptions``, ahead of any value the caller
  set there; ``spark.driver.extraJavaOptions`` is left to the caller.

The JVM refuses to dump while a non-empty directory is on the class
path, and Spark puts ``$SPARK_CONF_DIR`` first on it. So the launch
points ``SPARK_CONF_DIR`` at the empty ``.jvm-cds/conf``. Sharing is
skipped, and the JVM launched exactly as without it, when that could
change what Spark reads or when the archive cannot be kept: the
configured conf directory holds a file other than ``*.template``,
``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is set, the caller's driver
Java options already choose a CDS mode, the directory is not writable,
or the JVM is already running (a second ``get_spark`` in one process,
or a driver started by ``spark-submit``). A class path that differs
from the archive's makes the JVM run without it, silently:
``scripts/session_footprint.py`` reports the archive the driver JVM
has mapped (``cds_archive``).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
from contextlib import contextmanager, nullcontext
from pathlib import Path
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
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


CDS_DIR = Path(__file__).resolve().parent.parent / ".jvm-cds"
# a caller's driver option naming any of these already chose a CDS mode
_CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")
_DRIVER_JAVA_OPTIONS = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
_PROBE_TIMEOUT_S = 60


class _Cds(NamedTuple):
    option: str  # -XX:SharedArchiveFile=… or -XX:ArchiveClassesAtExit=…
    conf_dir: str  # the empty SPARK_CONF_DIR of every archived launch
    record: Path | None  # where a dumping launch records its JVM


def _java() -> str | None:
    """The ``java`` Spark's launcher runs: ``$JAVA_HOME/bin/java``,
    else the one on PATH."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _conf_dir_is_inert(spark_home: str) -> bool:
    """True when the configured Spark conf directory holds nothing Spark
    reads (only ``*.template`` files, or no directory at all)."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _cds_key(java: str, spark_home: str, conf_dir: str, extra_conf: dict) -> str:
    """Hash of what fixes the archive's JVM build and class path."""
    h = hashlib.sha256()
    real = os.path.realpath(java)
    libjvm = os.path.join(os.path.dirname(os.path.dirname(real)), "lib", "server", "libjvm.so")
    jars = sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name)
    for path in (real, libjvm, *(e.path for e in jars)):
        try:
            st = os.stat(path)
        except OSError:
            st = None
        h.update(repr((path, st and (st.st_size, st.st_mtime_ns))).encode())
    h.update(repr((
        conf_dir,
        os.environ.get("SPARK_CLASSPATH"),
        os.environ.get("SPARK_DIST_CLASSPATH"),
        os.environ.get("PYSPARK_SUBMIT_ARGS"),
        extra_conf.get("spark.driver.extraClassPath"),
    )).encode())
    return h.hexdigest()[:16]


def _process_start(pid: int) -> str | None:
    """Start time of a live process (``/proc/<pid>/stat`` field 22)."""
    try:
        stat = Path(f"/proc/{pid}/stat").read_text()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()[19]


def _running(pid: int, start: str | None) -> bool:
    """Whether a recorded process still runs; the start time keeps a
    reused pid from passing for it."""
    return start is not None and _process_start(pid) == start


def _probe(java: str, archive: Path, classpath: str) -> bool | None:
    """Whether a JVM starts with ``archive`` mapped and sharing forced on
    (None: the probe itself could not run). Its crash report goes into
    the archive directory, not the caller's working directory."""
    try:
        return subprocess.run(
            [java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
             f"-XX:ErrorFile={archive.parent / 'probe_hs_err_%p.log'}",
             "-XX:-CreateCoredumpOnCrash", "-cp", classpath, "-version"],
            stdin=subprocess.DEVNULL, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=_PROBE_TIMEOUT_S,
        ).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return None


def _read_record(record: Path) -> tuple[str, int, str] | None:
    """``(classpath, jvm_pid, jvm_start)`` of a dumping launch, or None."""
    try:
        rec = json.loads(record.read_text())
        return rec["classpath"], int(rec["jvm_pid"]), rec["jvm_start"]
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _stamp(archive: Path, classpath: str) -> None:
    """Record an adopted archive's size and mtime, and the class path
    its probe passed with, in ``<key>.stat`` beside it."""
    st = archive.stat()
    stamp = archive.with_suffix(".stat")
    tmp = stamp.with_suffix(".stat.tmp")
    tmp.write_text(json.dumps(
        {"size": st.st_size, "mtime_ns": st.st_mtime_ns, "classpath": classpath}))
    os.replace(tmp, stamp)


def _still_adopted(java: str, archive: Path) -> bool:
    """Whether an adopted archive may be mapped. One ``stat``: its size
    and mtime are those stamped at adoption. Anything else (a partial
    copy, a truncation, a full disk) re-probes it with the stamped class
    path; it is deleted, with its stamp, when the probe fails or there is
    no stamp to probe with."""
    stamp = archive.with_suffix(".stat")
    st = archive.stat()
    try:
        rec = json.loads(stamp.read_text())
        if (rec["size"], rec["mtime_ns"]) == (st.st_size, st.st_mtime_ns):
            return True
        classpath = str(rec["classpath"])
    except (OSError, ValueError, KeyError, TypeError):
        classpath = None
    passed = _probe(java, archive, classpath) if classpath else False
    if passed:
        _stamp(archive, classpath)
    elif passed is False:
        archive.unlink(missing_ok=True)
        stamp.unlink(missing_ok=True)
    return bool(passed)


def _settle_dumps(java: str, key: str) -> tuple[Path | None, bool]:
    """``(archive, pending)``: the adopted archive of ``key``, if any, and
    whether a JVM that is to dump one is still running.

    An adopted archive whose size or mtime moved since its adoption is
    probed again (``_still_adopted``). A dump whose JVM has exited is
    probed while no archive is adopted; the first that passes is renamed
    into place and stamped. Every other finished dump is deleted, and so
    is a dump its launch never recorded."""
    final = CDS_DIR / f"{key}.jsa"
    if final.exists() and not _still_adopted(java, final) and final.exists():
        return None, True  # the probe could not run: a later launch decides
    pending = False
    for record in sorted(CDS_DIR.glob(f"{key}.*.json")):
        jsa = record.with_suffix(".jsa")
        classpath, pid, start = _read_record(record) or (None, 0, None)
        if _running(pid, start):
            pending = True  # still running, or still writing its archive
            continue
        if classpath and jsa.exists() and not final.exists():
            passed = _probe(java, jsa, classpath)
            if passed is None:
                continue  # the probe could not run; a later launch decides
            if passed:
                try:
                    os.replace(jsa, final)
                    _stamp(final, classpath)
                except FileNotFoundError:
                    pass  # a concurrent launch adopted it first
        jsa.unlink(missing_ok=True)
        record.unlink(missing_ok=True)
    for jsa in CDS_DIR.glob(f"{key}.*.jsa"):
        if not jsa.with_suffix(".json").exists():
            jsa.unlink(missing_ok=True)
    return (final if final.exists() else None), pending


def _plan_cds(extra_conf: dict) -> _Cds | None:
    """This launch's CDS setting, or None to launch the driver JVM as
    without sharing (the module docstring says when)."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None  # no JVM is launched here
    if os.environ.get("HADOOP_CONF_DIR") or os.environ.get("YARN_CONF_DIR"):
        return None  # Spark would put them on the class path
    opts = [str(extra_conf.get(k, "")) for k in _DRIVER_JAVA_OPTIONS]
    opts.append(os.environ.get("SPARK_SUBMIT_OPTS", ""))
    if any(flag in o for o in opts for flag in _CDS_FLAGS):
        return None
    if any(c.isspace() or c in "\"'\\" for c in str(CDS_DIR)):
        return None  # the option string would split it
    java = _java()
    if not java:
        return None
    spark_home = _find_spark_home()
    if not _conf_dir_is_inert(spark_home):
        return None
    conf_dir = CDS_DIR / "conf"
    try:
        conf_dir.mkdir(parents=True, exist_ok=True)
        if not os.access(CDS_DIR, os.W_OK) or any(conf_dir.iterdir()):
            return None
        key = _cds_key(java, spark_home, str(conf_dir), extra_conf)
        archive, pending = _settle_dumps(java, key)
    except OSError:
        return None
    if archive:
        return _Cds(f"-XX:SharedArchiveFile={archive}", str(conf_dir), None)
    if pending:
        return None  # one dump at a time
    dump = CDS_DIR / f"{key}.{os.getpid()}.jsa"
    # -Xlog: the dump warns once per class it skips (thousands of lines)
    return _Cds(f"-XX:ArchiveClassesAtExit={dump} -Xlog:cds=error",
                str(conf_dir), dump.with_suffix(".json"))


def _record_dump(spark: SparkSession, record: Path) -> None:
    """Record the dumping JVM: the class path its archive's probe needs,
    and its pid and start time (its file is not probed while it runs)."""
    jvm = spark._jvm
    pid = int(jvm.java.lang.ProcessHandle.current().pid())
    rec = {"classpath": jvm.java.lang.System.getProperty("java.class.path"),
           "jvm_pid": pid, "jvm_start": _process_start(pid)}
    tmp = record.with_suffix(".json.tmp")
    try:
        tmp.write_text(json.dumps(rec))
        os.replace(tmp, record)
    except OSError:
        pass  # unrecorded, the dump is deleted by the next launch


@contextmanager
def _spark_conf_dir(path: str):
    """``SPARK_CONF_DIR`` is ``path`` inside the block (the JVM launch)."""
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old


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

    A call that launches the driver JVM maps the checkout's AppCDS
    archive (``.jvm-cds/<key>.jsa``) when it has one, and otherwise has
    the JVM dump one as it exits, for the next launch to probe and adopt.
    The archive is rebuilt when its key changes (another JDK, Spark jars
    or class path) or the directory is deleted. It is skipped, and the
    JVM launched as before, when the configured Spark conf directory
    holds a file Spark reads, ``HADOOP_CONF_DIR`` or ``YARN_CONF_DIR`` is
    set, the caller's driver Java options choose a CDS mode, or the
    directory is not writable; the module docstring has the details.
    """
    cores = cores or default_cores()
    shuffle_partitions = shuffle_partitions or max(cores, DEFAULT_SHUFFLE_PARTITIONS)
    # the daemon/worker processes inherit the JVM's env; make sure the
    # package is importable there BEFORE the JVM launches (no-op when
    # a context already exists — workers then import via cwd/PYTHONPATH
    # exactly as the engine's UDFs already require)
    os.environ["PYTHONPATH"] = _pythonpath_with_package()
    extra_conf = dict(extra_conf or {})
    cds = _plan_cds(extra_conf)
    if cds:
        caller = extra_conf.get("spark.driver.defaultJavaOptions")
        extra_conf["spark.driver.defaultJavaOptions"] = (
            f"{cds.option} {caller}" if caller else cds.option)
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
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    with _spark_conf_dir(cds.conf_dir) if cds else nullcontext():
        spark = builder.getOrCreate()
    if cds and cds.record:
        _record_dump(spark, cds.record)
    spark.sparkContext.setLogLevel("WARN")
    _warm_jvm_stack(spark, cores)
    return spark
