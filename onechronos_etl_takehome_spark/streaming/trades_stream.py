"""Streaming twin of the trade-reconciliation pipeline (SURVEY §7
Phase 4): the reference's own workload (etl_pipeline.py:62-442) as a
Structured Streaming job over a monitored directory of trades CSVs.

Reuse over reimplementation — every stateless piece IS the batch code:
``rules.apply_rules`` / ``rules.reconcile`` (validation + reconcile),
``normalize_timestamp`` (quirk Q2 dispatch), ``cleaned_projection`` /
``exceptions_projection`` (output shapes), and the all-string dirty-CSV
schema. Only the stateful/streaming-specific parts differ:

- **Dedup** is ``dropDuplicatesWithinWatermark("trade_id")`` — bounded
  state, one survivor per trade id within the watermark horizon. Two
  documented divergences from the batch ``deterministic_dedup``:
  (1) the survivor is the first row *seen*, not the first under a total
  sort order (a streaming operator cannot see future duplicates);
  (2) rows whose timestamp fails every parse pattern have no event time
  to bound state with, so they bypass dedup and flow straight to
  validation — which flags them invalid (same terminal outcome as the
  batch path, where they reach the exceptions report too).
- **Enrichment** joins are stream-static: fills/symbols load as batch
  frames (the dimension side of a production deployment); symbols is
  broadcast exactly like the batch pipeline.
- **Metrics** come from the query's progress reports
  (``StreamingQuery.recentProgress``), not Observations.
- **Sink** is the idempotent foreachBatch shape shared with
  events_stream.py: each microbatch lands as ``batch_id=<n>``
  directories for cleaned and exceptions in the same transaction-ish
  unit, so a replayed batch overwrites instead of duplicating.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..pipeline import rules
from ..pipeline.etl import (
    FILL_RENAMES,
    TRADES_COLUMNS,
    cleaned_projection,
    exceptions_projection,
    normalize_timestamp,
)
from ..sources.readers import all_string_schema, read_dirty_csv


def read_trades_stream(
    spark: SparkSession,
    trades_dir: str,
    *,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-source stream of dirty all-string trades CSVs.

    Monitors ``trades_dir`` for ``*.csv`` drops — the standard
    landing-zone pattern. Schema is the batch reader's all-string
    schema (types are opinions applied downstream; SURVEY §1.3), so
    dirty values survive to the validation rules instead of dying in
    the scan.
    """
    reader = (
        spark.readStream.schema(all_string_schema(TRADES_COLUMNS))
        .option("header", "true")
    )
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.csv(trades_dir)


def reconcile_trades_stream(
    trades: DataFrame,
    fills: DataFrame,
    symbols: DataFrame,
    *,
    price_threshold: float = 0.01,
    watermark: str = "1 hour",
    dedupe: bool = True,
    filter_cancelled: bool = True,
) -> DataFrame:
    """Validated streaming frame (same columns the batch transform
    yields): dedup-within-watermark → cancelled filter (batch order) →
    stream-static enrichment → rules → reconcile."""
    # Order matters and mirrors the batch transform: dedup FIRST, then
    # the cancelled filter. For duplicate trade_ids with mixed statuses
    # the orders diverge — if the dedup survivor is CANCELLED the trade
    # must vanish entirely (batch behavior), not fall back to a
    # non-cancelled duplicate. Pinned by
    # tests/test_trades_stream.py::test_mixed_status_duplicate.
    flow = trades
    if dedupe:
        with_ts = flow.withColumn(
            "_event_ts", normalize_timestamp(F.col("timestamp"))
        )
        parseable = (
            with_ts.filter(F.col("_event_ts").isNotNull())
            .withWatermark("_event_ts", watermark)
            .dropDuplicatesWithinWatermark(["trade_id"])
        )
        unparseable = with_ts.filter(F.col("_event_ts").isNull())
        flow = parseable.unionByName(unparseable).drop("_event_ts")
    if filter_cancelled:
        # 3-valued like the batch path: NULL status is dropped too.
        flow = flow.filter(F.col("trade_status") != "CANCELLED")

    fills_renamed = fills
    enriched = flow.join(
        fills_renamed,
        flow["trade_id"] == fills_renamed["our_trade_id"],
        "left",
    ).join(F.broadcast(symbols), "symbol", "left")

    typed = enriched.withColumns(
        {
            "quantity_int": F.col("quantity").cast("int"),
            "price_dec": F.col("price").cast("double"),
            "cp_quantity_int": F.col("cp_quantity").cast("int"),
            "cp_price_dec": F.col("cp_price").cast("double"),
        }
    )
    validated = rules.apply_rules(typed)
    return rules.reconcile(validated, price_threshold=price_threshold)


def load_static_dims(
    spark: SparkSession, input_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Batch-side fills + symbols for the stream-static joins (same
    dirty-CSV readers the batch pipeline uses)."""
    fills = read_dirty_csv(
        spark,
        os.path.join(input_dir, "counterparty_fills.csv"),
        rename=FILL_RENAMES,
    )
    symbols = read_dirty_csv(
        spark, os.path.join(input_dir, "symbols_reference.csv")
    )
    return fills, symbols


def start_reconciliation_stream(
    spark: SparkSession,
    *,
    trades_dir: str,
    dims_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    price_threshold: float = 0.01,
    watermark: str = "1 hour",
    available_now: bool = False,
    max_files_per_trigger: int | None = None,
) -> StreamingQuery:
    """End-to-end streaming reconciliation job.

    foreachBatch writes cleaned + exceptions parquet per microbatch
    under ``batch_id=<n>`` directories — idempotent on replay (a
    re-delivered batch id overwrites its own directory and nothing
    else), the same contract events_stream.py's sinks pin in
    tests/test_streaming.py.
    """
    fills, symbols = load_static_dims(spark, dims_dir)
    validated = reconcile_trades_stream(
        read_trades_stream(
            spark, trades_dir, max_files_per_trigger=max_files_per_trigger
        ),
        fills,
        symbols,
        price_threshold=price_threshold,
        watermark=watermark,
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            cleaned_projection(batch_df).write.mode("overwrite").parquet(
                os.path.join(output_dir, "cleaned", f"batch_id={batch_id}")
            )
            exceptions_projection(batch_df).write.mode("overwrite").parquet(
                os.path.join(output_dir, "exceptions", f"batch_id={batch_id}")
            )
        finally:
            batch_df.unpersist()

    writer = validated.writeStream.foreachBatch(sink).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
