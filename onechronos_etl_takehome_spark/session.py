"""SparkSession factory + per-query semantic pinning.

The reference builds its session at etl_pipeline.py:40-49 (local[*],
driver on 127.0.0.1, AQE + coalescePartitions). We reproduce that and
additionally pin the two semantics its golden outputs depend on
(SURVEY.md §2.9 Q1/Q4):

- ``spark.sql.session.timeZone=UTC`` — timestamp rendering is session-TZ
  dependent (quirk Q1); we standardize on UTC.
- ``spark.sql.ansi.enabled=false`` — the reference relies on non-ANSI
  cast semantics (malformed → NULL, quirk Q4). Engine code prefers
  ``try_*`` functions so it is ANSI-proof either way.

Scale posture: shuffle partition count is configurable (defaults sized
for local[32]); on a real cluster you would raise it to ~2-3× total
cores and rely on AQE coalescing, which is enabled here.

``spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true`` —
Spark 4.1 ships it false, so AQE may not coalesce the shuffle inside a
``.cache()``d plan: the cached frame keeps all ``shuffle.partitions``
partitions, mostly empty, and every consumer of it runs that many
tasks. The reconciliation pipeline caches its dedup output, so at 24k
trades and 32 partitions each pass ran 132 tasks and wrote 64 part
files; with the cache sized from the measured shuffle bytes it runs 7
tasks and writes 2 files (4 cores). At 1M trades on the same 4 cores
it is cached as 5 partitions, so large inputs keep their parallelism.

``spark.python.sql.dataFrameDebugging.enabled=false`` — PySpark 4
captures the Python call site of every DataFrame and ``functions``
call for error messages: a stack walk, a failed ``import IPython`` and
about five extra py4j round trips per call. A txlog ``merge_into``
builds its plans from hundreds of such calls; on a 2,000-row table at
4 cores one merge made about 1,980 py4j round trips with capture on
and 860 with it off (warm merges 3.73–3.83 s → 3.52–3.54 s). Errors
keep their class, error condition and message; only the Python
call-site fragment of the query context is gone. PySpark reads the
setting once per process, from the first active session.

Class-data-sharing archive. Most of a cold start is the JVM loading
and linking the classes of Spark's jars, not JIT. When ``get_spark``
launches the driver JVM it starts it from a dynamic AppCDS archive
(JEP 350): ``${XDG_CACHE_HOME:-~/.cache}/onechronos_etl_takehome_spark/
cds/<key>.jsa``, about 150 MB, keyed by the JDK's ``release`` file, the
name, size and mtime of every jar in ``$SPARK_HOME/jars`` and the
pyspark version. The first launch on a machine dumps the archive when
its JVM exits (``<key>.<pid>.part``; the exit takes 10-20 s
longer); a later launch checks that the dump is finished (its header
carries the archive magic) and that a JVM starts from it, publishes
it and deletes archives of other keys. With it, ``get_spark`` took
about 40% less time on 4 cores (5.6 s against 9.9 s). Delete the
directory to drop the archive; the next launch dumps a new one. No
archive is used, and the launch is a plain one, when the JVM is
already running (the flags, like ``spark.driver.memory``, act only at
launch), when the cache directory cannot be written, when
``SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``) holds any file but
``*.template`` or another source adds to the driver's classpath, or
while a dump of the same key is pending (its process is alive, or its
JVM is still writing it). The JVM refuses a class-data archive when a
non-empty directory is on its classpath, so a conf directory that
holds only templates is swapped for an empty one for the launch, which
changes no setting. The flags are appended to any
``spark.driver.extraJavaOptions`` the caller passes, and CDS logging is
off, since the JVM's stdout is this process's stdout.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import sys
import tempfile
import time

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32
_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# Sources the launcher adds to the driver's classpath besides the conf
# directory and the jars (custom submit arguments may too); any of them
# may put a non-empty directory there.
_CLASSPATH_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH",
                  "SPARK_PREPEND_CLASSES", "PYSPARK_SUBMIT_ARGS")
_PART = re.compile(r"(?P<key>[0-9a-f]+)\.(?P<pid>\d+)\.part")
_QUIET = "-Xlog:cds*=off"
# the first bytes of a finished dynamic archive (HotSpot's
# CDS_DYNAMIC_ARCHIVE_MAGIC, in the machine's byte order)
_MAGIC = (0xF00BABA8).to_bytes(4, sys.byteorder)
# how long a dump whose header is still zero counts as being written
_WRITING_S = 120


def get_spark(
    app_name: str = "onechronos-etl-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine semantics pinned."""
    conf = extra_conf or {}
    launch_env: dict[str, str] = {}
    archive = None if _jvm_running() else _class_archive(conf)
    if archive is not None:
        flags, launch_env["SPARK_CONF_DIR"] = archive
        conf = _with_java_options(conf, flags)
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.bindAddress", "127.0.0.1")
        # local mode = driver JVM is the whole cluster; Spark's 1g
        # default heap is mis-sized for local[32] (any broadcast build
        # or 32-task burst can OOM it). Only effective when this
        # process launches the JVM; a pre-existing session wins.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # lets AQE coalesce the shuffle inside a cached plan (see the
        # module docstring)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # One BLAS thread per python worker: N workers × multi-thread
        # BLAS oversubscribes the host and serializes on lock contention
        # (s04 regressed 2.5× on exactly this). Parallelism belongs to
        # the partitioning, not the math library.
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        # testdata events.parquet stores TIMESTAMP(NANOS) which Spark
        # rejects natively; read as long, converted in sources/tables.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reliable checkpoints (dedup_components writes one per
        # iteration) are deleted once their RDD is GC'd instead of
        # accumulating for the life of the session.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # The txlog batch reader implements pushFilters (file pruning
        # from the query predicate); Spark refuses to read a
        # pushdown-capable Python data source unless this is on.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # no Python call-site capture per Column call (module docstring)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _environ(launch_env):
        return builder.getOrCreate()


def _with_java_options(conf: dict[str, str], flags: list[str]) -> dict[str, str]:
    """``conf`` with ``flags`` appended to the driver's Java options."""
    options = " ".join([conf.get(_JAVA_OPTIONS, ""), *flags]).strip()
    return {**conf, _JAVA_OPTIONS: options}


@contextlib.contextmanager
def _environ(env: dict[str, str]):
    """Set ``env`` in ``os.environ`` (which the JVM launch copies) for the
    duration of the block."""
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v


def _jvm_running() -> bool:
    from pyspark import SparkContext

    return SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ


def _java() -> str | None:
    """The java binary ``spark-class`` runs."""
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _archive_key(java: str, spark_home: str) -> str:
    """Hash of the JDK's ``release`` file, the jars' names, sizes and
    mtimes, and the pyspark version. Raises OSError if one is unreadable."""
    from pyspark import __version__

    jdk = os.path.dirname(os.path.dirname(os.path.realpath(java)))
    with open(os.path.join(jdk, "release"), "rb") as f:
        h = hashlib.sha256(f.read())
    jars = os.path.join(spark_home, "jars")
    for name in sorted(os.listdir(jars)):
        if name.endswith(".jar"):
            st = os.stat(os.path.join(jars, name))
            h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(__version__.encode())
    return h.hexdigest()[:24]


def _class_archive(conf: dict[str, str]) -> tuple[list[str], str] | None:
    """The JVM flags and the ``SPARK_CONF_DIR`` that launch the driver
    from the class-data-sharing archive (module docstring), or None for
    a plain launch. Publishes a finished dump on the way."""
    from pyspark.find_spark_home import _find_spark_home

    java = _java()
    if java is None or "spark.driver.extraClassPath" in conf or any(
        os.environ.get(v) for v in _CLASSPATH_ENV
    ):
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    cds = os.path.join(cache, "onechronos_etl_takehome_spark", "cds")
    empty_conf = os.path.join(cds, "empty-conf")
    try:
        if os.path.isdir(conf_dir) and any(
            not n.endswith(".template") for n in os.listdir(conf_dir)
        ):
            return None
        key = _archive_key(java, spark_home)
        os.makedirs(empty_conf, exist_ok=True)
        with tempfile.TemporaryFile(dir=cds):
            pass
        if os.listdir(empty_conf):
            return None
        archive = os.path.join(cds, f"{key}.jsa")
        pending = _publish(cds, key, java)
    except OSError:
        return None
    if os.path.exists(archive):
        flag = f"-XX:SharedArchiveFile={archive}"
    elif pending:
        return None
    else:
        flag = f"-XX:ArchiveClassesAtExit={os.path.join(cds, f'{key}.{os.getpid()}.part')}"
    return [flag, _QUIET], empty_conf


def _publish(cds: str, key: str, java: str) -> bool:
    """Publish the first finished dump of ``key`` that a JVM starts from,
    and delete every other finished one. Returns whether a dump is
    pending: a ``.part`` whose process is alive, or whose header is
    still zero and which was written to in the last ``_WRITING_S``.

    The pid is the Python process's, and a JVM it did not wait for may
    still be writing the file. The JVM writes the archive's header last,
    so a dump is finished once its header carries the archive's magic;
    one whose header is still zero is left in place while it is fresh
    and deleted once it is stale (its JVM was killed or the disk
    filled). Only a file with the magic is checked and published."""
    archive = os.path.join(cds, f"{key}.jsa")
    pending = False
    for name in sorted(os.listdir(cds)):
        m = _PART.fullmatch(name)
        if m is None or m["key"] != key:
            continue
        if _alive(int(m["pid"])):
            pending = True
            continue
        part = os.path.join(cds, name)
        with open(part, "rb") as f:
            header = f.read(len(_MAGIC))
        if header == bytes(len(header)) and (
            time.time() - os.path.getmtime(part) < _WRITING_S
        ):
            pending = True
            continue
        if not os.path.exists(archive) and header == _MAGIC and _starts(java, part):
            with contextlib.suppress(FileNotFoundError):  # published by a racing process
                os.replace(part, archive)
            for other in os.listdir(cds):
                m = _PART.fullmatch(other)
                finished = other.endswith(".jsa") or (m and not _alive(int(m["pid"])))
                if finished and not other.startswith(f"{key}."):
                    _remove(os.path.join(cds, other))
        else:
            _remove(part)
    return pending


def _starts(java: str, archive: str) -> bool:
    """Whether a throwaway JVM started from ``archive`` exits 0. Most bad
    archives are skipped with a warning (garbage, a missing file, another
    classpath), but a truncated one is not: the JVM dies of SIGBUS while
    it relocates the archive's pointers, so one killed dump would
    otherwise crash every later launch. The JVM runs in a scratch
    directory, where such a crash writes its error report."""
    cmd = [java, f"-XX:SharedArchiveFile={archive}", _QUIET, "-version"]
    try:
        with tempfile.TemporaryDirectory() as scratch:
            return subprocess.run(cmd, cwd=scratch, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.DEVNULL, timeout=120).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, owned by another user
        pass
    return True


def _remove(path: str) -> None:
    with contextlib.suppress(OSError):
        os.remove(path)


def pin_semantics(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable semantics on an externally-provided session.

    The driver hands us its own SparkSession; timestamp rendering and
    cast behavior must not depend on how that session was built. Both
    confs below are runtime-settable.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # the txlog format reader implements pushFilters; reads of it
    # raise unless pushdown is enabled (runtime-settable)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    return spark
