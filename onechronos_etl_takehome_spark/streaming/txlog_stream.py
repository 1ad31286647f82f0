"""Streaming ingestion into the ACID table: exactly-once appends via
batch-id idempotence in the commit log.

The streaming twin of x34 (sources/txlog.py): a ``foreachBatch`` sink
that lands each microbatch as an append COMMIT whose manifest carries
the batch_id. Structured Streaming's failure contract is at-least-
once delivery into foreachBatch — after a crash between "data
written" and "checkpoint advanced", the SAME batch_id is replayed —
so the sink makes the commit the deduplication point: before
appending, it folds the committed manifests' batch_ids (metadata-only,
the same log fold every snapshot read does) and skips a batch_id that
already landed. Data files staged by the crashed attempt are orphans
the log never references — invisible to readers, reclaimed by vacuum
— so the observable table is exactly-once regardless of where the
writer died. Pinned by a replay test (same batch twice → one commit,
no duplicate rows) in tests/test_txlog_stream.py.

Concurrent writers compose: the append retries its version through
``txlog._transact`` (the one commit loop), and two DIFFERENT
batch_ids landing concurrently are both kept (they are different
data); two writers replaying the SAME batch_id race to one commit —
the loser re-checks the log, sees the batch_id, and skips.

Scale: per batch, one staged parquet write + one metadata commit; the
batch-id fold is O(commits) driver-side (bounded by the same manifest
checkpointing lever the module docstring of txlog.py documents).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..sources import txlog


def committed_batch_ids(path: str) -> set[int]:
    """batch_ids already in the log (metadata fold, no data read)."""
    out: set[int] = set()
    for v in txlog.committed_versions(path):
        with open(
            os.path.join(path, txlog._LOG_DIR, f"{v:08d}.json")
        ) as f:
            manifest = json.load(f)
        if "batch_id" in manifest:
            out.add(manifest["batch_id"])
    return out


def process_txlog_batch(
    batch_df: DataFrame, batch_id: int, path: str
) -> int | None:
    """Idempotent append of one microbatch; returns the committed
    version, or None when the batch_id already landed (replay)."""
    if batch_id in committed_batch_ids(path):
        return None
    txlog._require_writer(path)
    adds = txlog._add_actions(txlog._stage_data(batch_df, path))
    if txlog.committed_versions(path):  # batch 0 may CREATE the table
        from ..sources.constraints import table_constraints, validate_staged

        # CHECK constraints: a violating microbatch raises (Spark
        # fails the batch and will retry it — the poison-batch escape
        # hatch is dropping the constraint), staged files unlinked,
        # nothing lands
        validate_staged(
            batch_df.sparkSession, path, [a["add"] for a in adds],
            table_constraints(path),
        )

    def plan(base: int):
        # losing a version race can mean a concurrent replay of the
        # SAME batch landed — re-check before retrying the link
        if batch_id in committed_batch_ids(path):
            return None
        return adds, {"batch_id": batch_id}

    return txlog._transact(
        path, f"stream-append (batch {batch_id})", plan, create=True
    )


def txlog_stream(stream_df: DataFrame, path: str):
    """writeStream writer appending each microbatch to the table
    exactly once (idempotent by batch_id)."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        process_txlog_batch(batch_df, batch_id, path)

    return stream_df.writeStream.foreachBatch(sink)
