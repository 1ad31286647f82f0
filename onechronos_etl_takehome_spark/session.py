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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "onechronos-etl-spark",
    *,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine semantics pinned."""
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
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


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
