"""txlog as a Structured Streaming SOURCE (Spark 4 Python Data Source
API, streaming/txlog_source.py): version offsets, availableNow drain,
restart-resumes-exactly-once, append-only contract, schema evolution."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from onechronos_etl_takehome_spark.sources import txlog
from onechronos_etl_takehome_spark.streaming.txlog_source import (
    TxlogStreamSource,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(F.col("id"), F.lit(tag).alias("tag"))


def _register(spark):
    # idempotent across tests in one session
    spark.dataSource.register(TxlogStreamSource)


def _drain(spark, table, ckpt, out):
    q = (
        spark.readStream.format("txlog")
        .option("path", table)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.read.parquet(out)


def test_stream_reads_full_history_then_increments(spark, table, tmp_path):
    _register(spark)
    txlog.create_table(_df(spark, 0, 10, "a"), table)
    txlog.append(_df(spark, 10, 15, "b"), table)
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    got = _drain(spark, table, ckpt, out)
    assert got.count() == 15
    assert set(got.columns) == {"id", "tag"}
    # new commit after the first drain: a restarted query reads ONLY it
    txlog.append(_df(spark, 100, 103, "c"), table)
    got = _drain(spark, table, ckpt, out)
    rows = {(r["id"], r["tag"]) for r in got.collect()}
    assert len(rows) == 18  # exactly once: no replay of versions 0-1
    assert {(100, "c"), (101, "c"), (102, "c")} <= rows


def test_stream_restart_is_exactly_once(spark, table, tmp_path):
    _register(spark)
    txlog.create_table(_df(spark, 0, 20, "a"), table)
    ckpt, out = str(tmp_path / "ck"), str(tmp_path / "out")
    assert _drain(spark, table, ckpt, out).count() == 20
    # drain again with NO new commits: nothing is re-emitted
    assert _drain(spark, table, ckpt, out).count() == 20


def test_stream_rejects_data_changing_commit_by_default(
    spark, table, tmp_path
):
    _register(spark)
    txlog.create_table(_df(spark, 0, 10, "a"), table)
    txlog.delete_where(spark, table, F.col("id") < 3)
    q = (
        spark.readStream.format("txlog")
        .option("path", table)
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(Exception, match="skipChangeCommits|data-changing"):
        q.awaitTermination(120)
        raise RuntimeError("stream should have failed")  # pragma: no cover


def test_stream_skip_change_commits_keeps_appends_flowing(
    spark, table, tmp_path
):
    _register(spark)
    txlog.create_table(_df(spark, 0, 10, "a"), table)
    txlog.delete_where(spark, table, F.col("id") < 3)  # skipped
    txlog.append(_df(spark, 50, 55, "b"), table)
    q = (
        spark.readStream.format("txlog")
        .option("path", table)
        .option("skipChangeCommits", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    # v0's 10 rows + v2's 5 appends; the delete commit contributes none
    assert got.count() == 15


def test_stream_schema_evolution_null_fills(spark, table, tmp_path):
    _register(spark)
    txlog.create_table(_df(spark, 0, 3, "a"), table)
    txlog.append(
        spark.range(3, 5).select(
            "id", F.lit("b").alias("tag"), F.lit(1.5).alias("score")
        ),
        table,
    )
    got = _drain(spark, table, str(tmp_path / "ck"), str(tmp_path / "out"))
    assert set(got.columns) == {"id", "tag", "score"}
    rows = {r["id"]: r for r in got.collect()}
    assert rows[0]["score"] is None and rows[4]["score"] == 1.5


def test_starting_version_skips_history(spark, table, tmp_path):
    _register(spark)
    txlog.create_table(_df(spark, 0, 10, "a"), table)
    txlog.append(_df(spark, 10, 12, "b"), table)
    q = (
        spark.readStream.format("txlog")
        .option("path", table)
        .option("startingVersion", "1")  # INCLUSIVE: skip v0's snapshot
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert sorted(r["id"] for r in got.collect()) == [10, 11]


def test_batch_read_matches_read_table_at_every_version(spark, table):
    _register(spark)
    txlog.create_table(_df(spark, 0, 10, "a"), table)
    txlog.append(_df(spark, 10, 15, "b"), table)
    txlog.delete_where(spark, table, F.col("id") < 3)
    for v in (0, 1, 2):
        via_source = (
            spark.read.format("txlog")
            .option("path", table)
            .option("version", str(v))
            .load()
        )
        expect = sorted(
            map(tuple, txlog.read_table(spark, table, version=v).collect())
        )
        assert sorted(map(tuple, via_source.collect())) == expect, v
    # default = latest snapshot
    latest = (
        spark.read.format("txlog").option("path", table).load()
    )
    assert latest.count() == 12


def test_batch_read_time_travel_schema_as_of_version(spark, table):
    _register(spark)
    txlog.create_table(_df(spark, 0, 3, "a"), table)
    txlog.append(
        spark.range(3, 5).select(
            "id", F.lit("b").alias("tag"), F.lit(1.5).alias("score")
        ),
        table,
    )
    v0 = (
        spark.read.format("txlog")
        .option("path", table)
        .option("version", "0")
        .load()
    )
    assert v0.columns == ["id", "tag"]  # score didn't exist yet
    v1 = spark.read.format("txlog").option("path", table).load()
    assert set(v1.columns) == {"id", "tag", "score"}
    rows = {r["id"]: r for r in v1.collect()}
    assert rows[0]["score"] is None and rows[4]["score"] == 1.5


def test_stream_sink_table_reads_batch_and_streaming(spark, table, tmp_path):
    """A table the foreachBatch sink creates records its schema, so
    the data source reads it in batch and as a stream."""
    from onechronos_etl_takehome_spark.streaming.txlog_stream import (
        process_txlog_batch,
    )

    _register(spark)
    assert process_txlog_batch(_df(spark, 0, 3, "a"), 0, table) == 0
    assert process_txlog_batch(_df(spark, 3, 5, "b"), 1, table) == 1
    want = [(0, "a"), (1, "a"), (2, "a"), (3, "b"), (4, "b")]
    batch = spark.read.format("txlog").option("path", table).load()
    assert sorted(tuple(r) for r in batch.collect()) == want
    got = _drain(spark, table, str(tmp_path / "ck"), str(tmp_path / "out"))
    assert sorted((r["id"], r["tag"]) for r in got.collect()) == want
