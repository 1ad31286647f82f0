"""Shared operator plumbing."""

from __future__ import annotations

import math
import os
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame


def spread(df: DataFrame, *, bytes_per_split: int | None = None) -> DataFrame:
    """Round-robin repartition IF the input is under-parallel.

    CPU-dominant operators (interpreted higher-order expressions,
    Arrow-batch Python stages) run at the parallelism of their input's
    file-split count: a single parquet file — or a handful of large
    gzip files — serializes the whole operator onto that many cores.
    The gate makes this a strict no-op at scale: a 100-TB input already
    scans with thousands of splits (>= defaultParallelism), so no
    shuffle is added; only a genuinely under-split input pays one cheap
    round-robin exchange to unlock every core.

    SCAN-SHAPED INPUTS ONLY: ``df.rdd.getNumPartitions()`` forces
    final-plan resolution, and with AQE enabled that *executes any
    upstream shuffle stages eagerly* at build time (work discarded and
    redone at action time). Every call site passes a freshly-loaded
    scan (no upstream exchange), where the probe is metadata-only. Do
    not pass a derived/shuffled DataFrame — compute the split count
    from leaf-file metadata upstream instead.

    ``bytes_per_split`` caps the target by input size (leaf-file
    metadata): stages whose per-row cost is tiny and batch-amortized —
    BLAS GEMM over Arrow batches — LOSE to the exchange + Python-worker
    fan-out on small inputs, so they ask for at least this many input
    bytes per split instead of one split per core. Measured on s04
    (sf0.1, 2000×64 vectors): spread-to-32 is 1.4-1.9× slower than
    unsplit. CPU-heavy *interpreted* stages (shingling, md5 MinHash,
    interpreted cosine) keep the default — their per-row cost dwarfs
    the exchange.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if bytes_per_split is not None:
        try:
            files = df.inputFiles()
            if files:  # no files (in-memory/JDBC relation): sum([])==0
                # would compute target=1 and silently DISABLE the
                # fan-out — keep core count instead, like the except.
                total = sum(
                    os.path.getsize(f.removeprefix("file:")) for f in files
                )
                target = min(target, max(1, math.ceil(total / bytes_per_split)))
        except OSError:  # non-local / non-file source: keep core count
            pass
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def truncate_lineage(df: DataFrame) -> DataFrame:
    """Eagerly checkpoint a frame to cut its logical plan to a leaf.

    Reliable ``checkpoint()`` when the session has a checkpoint dir
    (production — survives executor loss), else ``localCheckpoint()``
    (executor-local block storage, fine for local mode). Shared by the
    iterative solvers (dedup_components) and any operator whose two
    downstream branches would otherwise re-execute a full-corpus
    subtree (bm25_topk's per-doc frame).
    """
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def side_by_side(*thunks):
    """Run independent driver-side jobs concurrently, one thread each,
    and return their results in argument order.

    Every thunk runs to completion before anything is raised; then the
    first failure in argument order is re-raised. A caller never sees
    an error while a sibling job is still writing, so whatever it
    cleans up or retries after the error is final. Spark schedules
    jobs from several driver threads at once, so one job's idle cores
    take the other's tasks.
    """
    with ThreadPoolExecutor(len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
    return [f.result() for f in futures]
