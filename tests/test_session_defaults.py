"""Session defaults come from the host, not from fixed constants,
session start forks no Python worker, and the driver JVM's class-data
sharing archive is built, adopted and skipped safely."""

import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

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


# ----------------------------------------------------- class-data sharing


class _Builder:
    """Records what ``get_spark`` configures and the ``SPARK_CONF_DIR``
    its launch sees, instead of starting a JVM."""

    def __init__(self, launches):
        self.conf, self.launches = {}, launches

    def master(self, _):
        return self

    appName = master

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        self.launches.append({"conf": self.conf,
                              "conf_dir": os.environ.get("SPARK_CONF_DIR")})
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.fixture
def launch(tmp_path, monkeypatch):
    """``launch(extra_conf)`` runs ``get_spark`` as a first launch of the
    driver JVM would, against a recording builder and an archive
    directory under ``tmp_path``; returns what the launch saw."""
    launches, records = [], []

    class Session:
        builder = property(lambda self: _Builder(launches))

    conf_dir = tmp_path / "spark-conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(session, "SparkSession", Session())
    monkeypatch.setattr(session.SparkContext, "_gateway", None)
    monkeypatch.setattr(session, "CDS_DIR", tmp_path / "cds")
    monkeypatch.setattr(session, "_warm_jvm_stack", lambda spark, cores: None)
    monkeypatch.setattr(session, "_record_dump", lambda spark, rec: records.append(rec))
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf_dir))
    monkeypatch.setenv("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
    for name in ("PYSPARK_GATEWAY_PORT", "HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        monkeypatch.delenv(name, raising=False)

    def run(extra_conf=None):
        session.get_spark(cores=1, extra_conf=extra_conf)
        seen = launches[-1]
        return {"opts": seen["conf"].get("spark.driver.defaultJavaOptions"),
                "conf_dir": seen["conf_dir"],
                "record": records.pop() if records else None}

    run.conf_dir = str(conf_dir)
    return run


def _key() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return session._cds_key(session._java(), _find_spark_home(),
                            str(session.CDS_DIR / "conf"), {})


def _record(jsa: Path, pid: int, start: str | None) -> None:
    jsa.with_suffix(".json").write_text(json.dumps(
        {"classpath": "/nowhere", "jvm_pid": pid, "jvm_start": start}))


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def test_cds_first_launch_dumps_then_later_ones_map(launch):
    """A missing directory is made; an archive of another (stale) key is
    ignored; the first launch dumps under a per-pid name with the empty
    conf dir, the next maps the adopted archive. The caller's own
    ``defaultJavaOptions`` follow ours, and ``SPARK_CONF_DIR`` is
    restored after the launch."""
    assert not session.CDS_DIR.exists()
    first = launch({"spark.driver.defaultJavaOptions": "-Dcaller=1"})
    key = _key()
    dump = session.CDS_DIR / f"{key}.{os.getpid()}.jsa"
    assert first["opts"] == f"-XX:ArchiveClassesAtExit={dump} -Xlog:cds=error -Dcaller=1"
    assert first["conf_dir"] == str(session.CDS_DIR / "conf")
    assert first["record"] == dump.with_suffix(".json")
    assert os.environ["SPARK_CONF_DIR"] == launch.conf_dir

    (session.CDS_DIR / "0123456789abcdef.jsa").write_bytes(b"stale key")
    assert launch()["opts"].startswith("-XX:ArchiveClassesAtExit=")

    (session.CDS_DIR / f"{key}.jsa").write_bytes(b"adopted")
    session._stamp(session.CDS_DIR / f"{key}.jsa", "/nowhere")
    later = launch({"spark.driver.defaultJavaOptions": "-Dcaller=1"})
    assert later["opts"] == f"-XX:SharedArchiveFile={session.CDS_DIR / key}.jsa -Dcaller=1"
    assert later["conf_dir"] == str(session.CDS_DIR / "conf")
    assert later["record"] is None


@pytest.mark.parametrize("case", ["spark-defaults.conf", "HADOOP_CONF_DIR",
                                  "dir under a file", "dir not writable",
                                  "caller chose -Xshare"])
def test_cds_skipped_when_it_could_change_the_launch(launch, monkeypatch, tmp_path, case):
    """Each case launches exactly as without sharing: no CDS option and
    ``SPARK_CONF_DIR`` untouched."""
    extra = {}
    if case == "spark-defaults.conf":
        (Path(launch.conf_dir) / case).write_text("spark.foo bar\n")
    elif case == "HADOOP_CONF_DIR":
        monkeypatch.setenv(case, str(tmp_path))
    elif case == "dir under a file":  # e.g. the package inside a zip
        (tmp_path / "file").write_text("")
        monkeypatch.setattr(session, "CDS_DIR", tmp_path / "file" / ".jvm-cds")
    elif case == "dir not writable":
        access = os.access
        monkeypatch.setattr(session.os, "access",
                            lambda p, m: p != session.CDS_DIR and access(p, m))
    else:
        extra = {"spark.driver.extraJavaOptions": "-Xshare:off"}
    seen = launch(extra)
    assert seen["opts"] is None
    assert seen["conf_dir"] == launch.conf_dir
    assert seen["record"] is None


def test_cds_bad_dumps_are_deleted_and_live_ones_wait(launch):
    """A finished dump that fails the probe (garbage) is deleted with its
    record, as is a dump no launch recorded; while a recorded JVM still
    runs, its dump is left alone and no second launch dumps."""
    launch()  # makes the directory
    key = _key()
    garbage = session.CDS_DIR / f"{key}.1.jsa"
    garbage.write_bytes(b"\0" * 4096)
    _record(garbage, _dead_pid(), "1")
    orphan = session.CDS_DIR / f"{key}.2.jsa"
    orphan.write_bytes(b"\0" * 4096)
    live = session.CDS_DIR / f"{key}.3.jsa"
    _record(live, os.getpid(), session._process_start(os.getpid()))

    seen = launch()
    assert seen["opts"] is None and seen["conf_dir"] == launch.conf_dir
    assert sorted(p.name for p in session.CDS_DIR.iterdir()) == sorted(["conf", f"{key}.3.json"])

    live.with_suffix(".json").unlink()
    assert launch()["opts"].startswith("-XX:ArchiveClassesAtExit=")


def test_cds_concurrent_dumps_adopt_one(launch, monkeypatch):
    """Two launches that dumped at once left two per-pid files: the first
    to pass the probe is renamed into place, the other is deleted."""
    launch()
    key = _key()
    for pid in (11, 12):
        jsa = session.CDS_DIR / f"{key}.{pid}.jsa"
        jsa.write_bytes(str(pid).encode())
        _record(jsa, _dead_pid(), "1")
    monkeypatch.setattr(session, "_probe", lambda java, jsa, cp: True)
    seen = launch()
    final = session.CDS_DIR / f"{key}.jsa"
    assert seen["opts"] == f"-XX:SharedArchiveFile={final}"
    assert final.read_bytes() == b"11"
    assert sorted(p.name for p in session.CDS_DIR.iterdir()) == sorted(
        ["conf", final.name, f"{key}.stat"])


def test_cds_adopted_archive_that_moved_is_probed_again(launch, monkeypatch):
    """An adopted archive matching its stamp is mapped without a probe.
    One whose size or mtime moved is probed with the stamped class path:
    kept and stamped again when it passes, deleted with its stamp when
    it fails or has no stamp."""
    launch()
    final = session.CDS_DIR / f"{_key()}.jsa"
    stamp = final.with_suffix(".stat")
    final.write_bytes(b"whole archive")
    session._stamp(final, "/recorded")
    probes = []

    def probe(java, jsa, cp):
        probes.append(cp)
        return verdict
    monkeypatch.setattr(session, "_probe", probe)
    verdict = True
    assert launch()["opts"] == f"-XX:SharedArchiveFile={final}" and probes == []
    final.write_bytes(b"whole")  # truncated: size and mtime move
    assert launch()["opts"] == f"-XX:SharedArchiveFile={final}"
    assert probes == ["/recorded"]
    assert json.loads(stamp.read_text())["size"] == len(b"whole")
    final.write_bytes(b"who")
    verdict = False
    assert launch()["opts"].startswith("-XX:ArchiveClassesAtExit=")
    assert not final.exists() and not stamp.exists()
    final.write_bytes(b"unstamped")
    assert launch()["opts"].startswith("-XX:ArchiveClassesAtExit=")
    assert not final.exists() and probes == ["/recorded", "/recorded"]


def _footprint(root: Path, cds: Path) -> dict:
    """``session_footprint.py --json`` in a fresh driver whose archive
    directory is ``cds``."""
    code = ("import runpy, sys; from pathlib import Path; "
            "from workstealing_spatial_join_spark import session; "
            f"session.CDS_DIR = Path({str(cds)!r}); "
            "sys.argv = ['session_footprint.py', '--json']; "
            "runpy.run_path('scripts/session_footprint.py', run_name='__main__')")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", code], cwd=root, env=env,
                         capture_output=True, text=True, timeout=300, check=True)
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_fresh_sessions_dump_reject_truncated_and_map_archive(tmp_path):
    """Real driver JVMs. The first dumps an archive as it exits. A
    truncated copy of it (which crashes JDK 17 when mapped) is planted
    ahead of it: the next session's probe rejects and deletes it, adopts
    the whole one, maps it and still returns the exact sum. The adopted
    archive is then truncated in place: the third session deletes it
    and still returns the exact sum."""
    root = Path(__file__).resolve().parent.parent
    cds = tmp_path / "cds"
    try:
        _dump_truncate_and_adopt(root, cds)
    finally:
        shutil.rmtree(cds, ignore_errors=True)  # ~350 MB of archives


def _wait_for_exit(record: Path) -> None:
    """Wait until the dumping JVM of ``record`` has exited (it writes
    the archive as it exits)."""
    _, pid, start = session._read_record(record)
    deadline = time.monotonic() + 120
    while session._running(pid, start) and time.monotonic() < deadline:
        time.sleep(0.2)


def _dump_truncate_and_adopt(root: Path, cds: Path) -> None:
    first = _footprint(root, cds)
    assert first["cds_archive"] is None
    assert first["query"]["sum"] == first["query"]["expected"]
    (record,) = cds.glob("*.*.json")
    _wait_for_exit(record)
    dump = record.with_suffix(".jsa")
    key = dump.name.split(".")[0]
    truncated = cds / f"{key}.1.jsa"  # sorts, and so is probed, first
    with open(dump, "rb") as src:
        truncated.write_bytes(src.read(4 << 20))
    truncated.with_suffix(".json").write_text(dump.with_suffix(".json").read_text())

    second = _footprint(root, cds)
    adopted = cds / f"{key}.jsa"
    assert second["cds_archive"] == str(adopted)
    assert second["query"]["sum"] == second["query"]["expected"]
    assert not truncated.exists()
    assert not list(cds.glob("*.*.jsa"))

    # damaged after adoption: its stamp no longer matches, the probe
    # fails, and the session starts without it and still sums exactly
    os.truncate(adopted, 4 << 20)
    third = _footprint(root, cds)
    assert third["cds_archive"] is None
    assert third["query"]["sum"] == third["query"]["expected"]
    assert not adopted.exists() and not adopted.with_suffix(".stat").exists()
    for record in cds.glob("*.*.json"):  # let its new dump finish first
        _wait_for_exit(record)
