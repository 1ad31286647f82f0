"""The class-data-sharing archive ``get_spark`` launches the driver JVM
from (session.py docstring). Every bad state of the archive cache must
end in a plain start that runs a job, never a failed one.

The test session's JVM is already running, so each case launches a
driver in a subprocess with its own ``XDG_CACHE_HOME``; the subprocess
waits for its JVM to exit, so a dump it writes at exit is complete when
the subprocess returns."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

from onechronos_etl_takehome_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER = """
import json, os, sys
from onechronos_etl_takehome_spark.session import get_spark

spark = get_spark("archive-test", extra_conf=json.loads(sys.argv[1]))
total = spark.range(1000).selectExpr("sum(id) AS s").first()["s"]
jvm = spark.sparkContext._jvm
report = {
    "sum": total,
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "conf_dir": jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "probe": spark.sparkContext.getConf().get("spark.archive.test.probe", None),
    "pid": os.getpid(),
}
gateway = spark.sparkContext._gateway
proc = gateway.proc
spark.stop()
gateway.shutdown()
proc.stdin.close()
proc.wait(timeout=300)
print("REPORT " + json.dumps(report))
"""
# a caller's own driver option, which the archive flags must not replace
CALLER_OPTION = "-Darchive.test.caller=kept"


def _drive(cache: str, extra_conf: dict | None = None, env: dict | None = None,
           cwd: str | None = None):
    """Launch a driver with ``cache`` as XDG_CACHE_HOME; return its report
    and its whole stdout."""
    conf = {"spark.driver.extraJavaOptions": CALLER_OPTION, **(extra_conf or {})}
    proc = subprocess.run(
        [sys.executable, "-c", DRIVER, json.dumps(conf)],
        env={
            **os.environ,
            "PYTHONPATH": ROOT,
            "XDG_CACHE_HOME": cache,
            "SPARK_GRAFT_CPUS": "2",
            "SPARK_GRAFT_DRIVER_MEM": "1g",
            **(env or {}),
        },
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("REPORT ")][-1]
    report = json.loads(line[len("REPORT "):])
    assert report["sum"] == 499_500
    assert CALLER_OPTION in report["args"]
    return report, proc.stdout


def _archive_flags(report) -> list[str]:
    return [
        a for a in report["args"]
        if a.startswith(("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit=", "-Xlog:cds"))
    ]


def _cds_dir(cache: str) -> str:
    return os.path.join(cache, "onechronos_etl_takehome_spark", "cds")


def _key() -> str:
    from pyspark.find_spark_home import _find_spark_home

    return session._archive_key(session._java(), _find_spark_home())


def _dead_pid() -> int:
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


@pytest.fixture(scope="module")
def dumped(tmp_path_factory):
    """A cache after one dump run and one run that published and used the
    dump: (cache, published archive, dump report, dump stdout, use
    report, use stdout, class-load log of the use run)."""
    cache = str(tmp_path_factory.mktemp("archive_cache"))
    dump, dump_out = _drive(cache)
    log = os.path.join(cache, "class-load.log")
    use, use_out = _drive(
        cache,
        {"spark.driver.extraJavaOptions": f"{CALLER_OPTION} -Xlog:class+load=info:file={log}"},
    )
    archive = os.path.join(_cds_dir(cache), f"{_key()}.jsa")
    return cache, archive, dump, dump_out, use, use_out, log


def test_dump_run_then_use_run_stdout_stays_clean(dumped):
    cache, archive, dump, dump_out, use, use_out, log = dumped
    part = os.path.join(_cds_dir(cache), f"{_key()}.{dump['pid']}.part")
    assert _archive_flags(dump) == [f"-XX:ArchiveClassesAtExit={part}", "-Xlog:cds*=off"]
    assert _archive_flags(use) == [f"-XX:SharedArchiveFile={archive}", "-Xlog:cds*=off"]
    assert os.path.isfile(archive) and not os.path.exists(part)
    # the templates-only conf directory was swapped for the empty one
    assert dump["conf_dir"] == use["conf_dir"] == os.path.join(_cds_dir(cache), "empty-conf")
    with open(log) as f:
        assert "source: shared objects file (top)" in f.read()
    assert "[cds" not in dump_out and "[cds" not in use_out


def test_truncated_dump_is_deleted_not_published(dumped, tmp_path):
    archive = dumped[1]
    cds = _cds_dir(str(tmp_path / "cache"))
    os.makedirs(cds)
    part = os.path.join(cds, f"{_key()}.{_dead_pid()}.part")
    with open(archive, "rb") as src, open(part, "wb") as dst:
        dst.write(src.read(os.path.getsize(archive) // 3))
    # a pending dump of a live process keeps this run from dumping a
    # 150 MB archive of its own
    pending = os.path.join(cds, f"{_key()}.{os.getpid()}.part")
    with open(pending, "wb"):
        pass
    report, _ = _drive(str(tmp_path / "cache"), cwd=str(tmp_path))
    assert not os.path.exists(part)
    # the crash of the check's JVM left no error report behind
    assert not list(tmp_path.glob("hs_err_pid*"))
    assert not os.path.exists(os.path.join(cds, f"{_key()}.jsa"))
    assert _archive_flags(report) == []


def test_garbage_at_published_name_starts_plain(tmp_path):
    cds = _cds_dir(str(tmp_path))
    os.makedirs(cds)
    archive = os.path.join(cds, f"{_key()}.jsa")
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 20))
    report, out = _drive(str(tmp_path))
    assert f"-XX:SharedArchiveFile={archive}" in report["args"]
    assert "[cds" not in out


def test_dump_of_a_live_process_is_left_alone(tmp_path):
    cds = _cds_dir(str(tmp_path))
    os.makedirs(cds)
    part = os.path.join(cds, f"{_key()}.{os.getpid()}.part")
    payload = os.urandom(1 << 16)
    with open(part, "wb") as f:
        f.write(payload)
    report, _ = _drive(str(tmp_path))
    with open(part, "rb") as f:
        assert f.read() == payload
    assert _archive_flags(report) == []
    assert sorted(os.listdir(cds)) == sorted([os.path.basename(part), "empty-conf"])


def test_real_conf_directory_gets_no_archive(tmp_path):
    conf_dir = tmp_path / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text("spark.archive.test.probe  read\n")
    report, _ = _drive(str(tmp_path / "cache"), env={"SPARK_CONF_DIR": str(conf_dir)})
    assert _archive_flags(report) == []
    assert report["conf_dir"] == str(conf_dir)
    assert report["probe"] == "read"


def test_unwritable_cache_gets_no_archive(tmp_path):
    cache = tmp_path / "not-a-directory"
    cache.write_text("")
    report, _ = _drive(str(cache))
    assert _archive_flags(report) == []


def test_caller_java_options_are_kept_and_flags_appended():
    conf = {"spark.driver.extraJavaOptions": "-Da=1  -Db=2", "spark.x": "y"}
    merged = session._with_java_options(conf, ["-XX:F1", "-XX:F2"])
    assert merged == {"spark.driver.extraJavaOptions": "-Da=1  -Db=2 -XX:F1 -XX:F2", "spark.x": "y"}
    assert conf["spark.driver.extraJavaOptions"] == "-Da=1  -Db=2"
    assert session._with_java_options({}, ["-XX:F1"]) == {"spark.driver.extraJavaOptions": "-XX:F1"}


def _dead_part(cds, header: bytes, age_s: float = 0.0) -> str:
    """A ``.part`` of a dead pid starting with ``header``, last written
    ``age_s`` ago."""
    part = os.path.join(cds, f"{_key()}.{_dead_pid()}.part")
    with open(part, "wb") as f:
        f.write(header + bytes(1 << 12))
    if age_s:
        t = time.time() - age_s
        os.utime(part, (t, t))
    return part


def test_dump_still_being_written_is_pending(tmp_path, monkeypatch):
    # the JVM writes the header last: zero there means not finished
    monkeypatch.setattr(session, "_starts", _never_started)
    part = _dead_part(str(tmp_path), bytes(8))
    assert session._publish(str(tmp_path), _key(), "java") is True
    assert os.listdir(tmp_path) == [os.path.basename(part)]


def test_stale_unfinished_dump_is_deleted_not_published(tmp_path, monkeypatch):
    monkeypatch.setattr(session, "_starts", _never_started)
    _dead_part(str(tmp_path), bytes(8), age_s=session._WRITING_S + 60)
    _dead_part(str(tmp_path), os.urandom(8))  # no magic: never an archive
    assert session._publish(str(tmp_path), _key(), "java") is False
    assert os.listdir(tmp_path) == []


def _never_started(java, archive):
    raise AssertionError("a file without the archive magic was checked")
