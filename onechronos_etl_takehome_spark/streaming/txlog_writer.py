"""txlog as a WRITE target of the registered data source:
``df.write.format("txlog")`` (batch append/overwrite) and
``df.writeStream.format("txlog")`` (exactly-once streaming appends).

This completes the data source round-trip — round 8 gave the format a
streaming READER and round 9 a batch reader with filter pushdown
(``txlog_source.py``); writes still required the Python API
(``txlog.append``/``create_table``). With this module the idiomatic
Spark surface works end-to-end with zero private API:

    df.write.format("txlog").option("path", p).mode("append").save()
    stream.writeStream.format("txlog").option("path", p).start()

Design (all invariants inherited from sources/txlog.py):

- **Executors write data, the driver writes ONE manifest.** Each task
  streams its Arrow batches straight into a collision-free parquet
  file under the table root (the ``DataSourceArrowWriter`` vectorized
  path — no per-row Python). Files are invisible until a manifest
  references them, so a crashed/aborted job orphans bytes but never
  corrupts the table — the same contract as ``_stage_data``.
- **Stats at write time.** Each task lifts min/max/null-count stats
  from its own freshly-written footer (``txlog._footer_stats``) and
  ships them driver-ward in its commit message, so format-written
  files prune exactly like API-written ones (x36/x39/x44).
- **append** commits add-actions through ``txlog._transact``, the
  one commit loop every txlog write shares; the manifest schema is
  the UNION of the previous schema and the written frame
  (column-addition evolution, Delta metaData semantics). A first
  append CREATES the table (version 0).
- **overwrite** commits removes of the whole prior live set plus the
  new adds in ONE atomic manifest — readers see the old or the new
  table, never a mix — and stamps the written schema as the table
  schema (a replace, like Delta ``overwriteSchema``).
- **Streaming appends are exactly-once by batch_id**, reusing the
  foreachBatch sink's idempotence fold (``committed_batch_ids``): a
  replayed microbatch re-writes orphan files but the commit point
  dedups on batch_id, so the observable table never double-counts
  (pinned by a double-commit test in tests/test_round9_ops.py).

Scale posture: data volume flows executor-side only; the driver
handles O(files) action dicts and one JSON rename per commit. Write
amplification is stamped into the manifest ``metrics`` like every
DML commit.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

from ..sources import txlog


class TxlogWriteMessage(WriterCommitMessage):
    """One task's adds: [(fname, rows, stats, nulls)] — the exact
    tuple shape ``txlog._add_actions`` turns into manifest actions."""

    def __init__(self, adds):
        self.adds = adds


def _write_task_file(path: str, schema_json: str, iterator):
    """Executor side: drain this task's Arrow batches into ONE
    parquet file under the table root; returns the add-tuples (empty
    partitions write nothing — same rule as ``_stage_data``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    batches = [b for b in iterator if b.num_rows]
    if not batches:
        return []
    os.makedirs(path, exist_ok=True)  # create-by-first-write
    tbl0 = pa.Table.from_batches(batches)
    # CHECK constraints, enforced PER TASK over the Arrow data
    # (pyarrow Kleene logic = exact SQL 3VL; the data source write
    # path has no Spark context in its Python workers, so Spark-side
    # validation is structurally impossible here). A violating task
    # raises before writing a byte — Spark fails the job and the
    # driver's abort() unlinks any sibling tasks' files.
    from ..sources.constraints import table_constraints, validate_arrow

    cons = table_constraints(path) if txlog.committed_versions(path) else {}
    if cons:
        validate_arrow(tbl0, cons)
    target = to_arrow_schema(
        StructType.fromJson(json.loads(schema_json))
    )
    target = pa.schema(
        [pa.field(f.name, f.type, nullable=True) for f in target]
    )
    tbl = tbl0 if tbl0.schema == target else tbl0.cast(target)
    # column-mapped tables store PHYSICAL names (same rename
    # _stage_data applies); constraints were validated on the LOGICAL
    # view above, before the rename
    mapping = (
        txlog.table_mapping(path) if txlog.committed_versions(path) else {}
    )
    if mapping:
        tbl = tbl.rename_columns(
            [mapping.get(n, n) for n in tbl.schema.names]
        )
    fname = f"part-{uuid.uuid4().hex}.parquet"
    full = os.path.join(path, fname)
    pq.write_table(tbl, full)
    # footer metadata only — the same stats lift every API commit does
    meta = pq.ParquetFile(full).metadata
    stats, nulls = txlog._footer_stats(meta)
    return [(fname, meta.num_rows, stats, nulls)]


def _refuse_partitioned(path: str) -> None:
    """The format writer stages FLAT files at the table root; a
    partitioned table's layout is keyed on value directories, so a
    flat write would silently break it — refuse with a pointer at the
    API that partitions (txlog.append applies the spec itself)."""
    if (
        txlog.committed_versions(path)
        and txlog.table_partitioning(path)
    ):
        raise ValueError(
            f"df.write.format('txlog') does not support PARTITIONED "
            f"tables yet ({path} declares partition columns); use "
            "txlog.append / merge_upsert, which stage through the "
            "partition spec"
        )


def _unlink_message_files(path: str, messages) -> None:
    for m in messages or []:
        if m is None:
            continue
        for fname, *_ in m.adds:
            try:
                os.unlink(os.path.join(path, fname))
            except OSError:
                pass


def _commit_write(
    path: str,
    schema_json: str,
    messages,
    *,
    overwrite: bool,
    batch_id: int | None = None,
) -> int | None:
    """Driver side: fold the tasks' adds into ONE manifest commit
    through ``txlog._transact`` (the first write creates the table).
    Returns the committed version, or None when ``batch_id`` already
    landed (streaming replay)."""
    from pyspark.sql.types import StructType

    from .txlog_stream import committed_batch_ids

    schema = StructType.fromJson(json.loads(schema_json))
    adds = [a for m in messages if m is not None for a in m.adds]
    add_actions = txlog._add_actions(adds)
    rows_written = sum(n for _, n, _, _ in adds)
    # protocol gate: refuse feature-newer tables BEFORE committing
    # (the staged task files then unlink via the abort path contract)
    txlog._require_writer(path)

    def plan(base: int):
        if batch_id is not None and batch_id in committed_batch_ids(path):
            # replay of an already-landed microbatch: this attempt's
            # files stay orphans the log never references
            return None
        if overwrite and base >= 0:
            prior = sorted(txlog.live_files(path, version=base))
            actions = [{"remove": f} for f in prior] + add_actions
            extra: dict = txlog._schema_extra(schema)  # schema replace
            metrics = {
                "op": "write-overwrite",
                "files_removed": len(prior),
                "files_added": len(adds),
                "files_carried": 0,
                "rows_written": rows_written,
            }
        else:
            actions = add_actions
            extra = (
                txlog._schema_extra(schema)
                if base < 0
                else txlog._union_schema_extra(path, base, schema)
            )
            metrics = {
                "op": "write-append",
                "files_added": len(adds),
                "rows_written": rows_written,
            }
        extra["metrics"] = metrics
        if batch_id is not None:
            extra["batch_id"] = batch_id
        return actions, extra

    return txlog._transact(path, "write", plan, create=True)


class TxlogBatchWriter(DataSourceArrowWriter):
    """``df.write.format("txlog")`` — append or overwrite, one atomic
    manifest commit, stats stamped per file at write time."""

    def __init__(self, schema, overwrite: bool, options: dict):
        options = {k.lower(): v for k, v in options.items()}
        self.path = options["path"]
        self.overwrite = overwrite
        self.schema_json = schema.json()
        _refuse_partitioned(self.path)

    def write(self, iterator):
        return TxlogWriteMessage(
            _write_task_file(self.path, self.schema_json, iterator)
        )

    def commit(self, messages):
        _commit_write(
            self.path, self.schema_json, messages, overwrite=self.overwrite
        )

    def abort(self, messages):
        _unlink_message_files(self.path, messages)


class TxlogStreamWriter(DataSourceStreamArrowWriter):
    """``writeStream.format("txlog")`` — each microbatch is one
    append commit, exactly-once by batch_id (the foreachBatch sink's
    contract, now behind the registered format). Arrow-vectorized,
    sharing the batch writer's file path."""

    def __init__(self, schema, overwrite: bool, options: dict):
        if overwrite:
            raise ValueError(
                "txlog stream sink supports append output mode only "
                "(complete/update would rewrite history every batch)"
            )
        options = {k.lower(): v for k, v in options.items()}
        self.path = options["path"]
        self.schema_json = schema.json()
        _refuse_partitioned(self.path)

    def write(self, iterator):
        return TxlogWriteMessage(
            _write_task_file(self.path, self.schema_json, iterator)
        )

    def commit(self, messages, batchId: int):
        _commit_write(
            self.path,
            self.schema_json,
            messages,
            overwrite=False,
            batch_id=batchId,
        )

    def abort(self, messages, batchId: int):
        _unlink_message_files(self.path, messages)
