"""Trade-reconciliation ETL — the reference pipeline, rebuilt Spark-first.

Same query semantics as the reference (etl_pipeline.py:62-442; quirks
Q1-Q7 per SURVEY.md §2.9), different execution design:

- **2 actions instead of 14.** The reference fires 12 counts + 2
  collects with no caching, re-running the CSV scans and joins ~10×
  (SURVEY.md §4.3). Here every count is an ``Observation``: the stage
  counts on the single lineage, the valid/invalid/discrepancy split on
  the two sink projections. The validated frame is cached once and
  the two writes, run side by side, are the whole run.
- **A cache sized by the data.** The cache holds the dedup shuffle's
  output, and every sink task reads one of its partitions. The session
  lets AQE coalesce that shuffle inside the cache
  (``canChangeCachedPlanOutputPartitioning``, session.py); otherwise a
  small batch is cached as ``shuffle.partitions`` mostly-empty
  partitions and each sink pays a task and a part file for every one.
- **Deterministic dedup.** ``dropDuplicates`` keeps an arbitrary row
  per key; we keep the row that sorts first over all columns, so
  reruns and repartitioning cannot change survivors.
- **Size-aware enrichment.** Symbols are a genuine dimension and are
  always broadcast; fills are fact-shaped and broadcast only below a
  configurable byte threshold (``_maybe_broadcast``), else a shuffle
  join — an unconditional broadcast would OOM at cluster scale.
- **Declarative rules.** The four validation rules and the reconcile
  thresholds are data (pipeline/rules.py), not code.
- **Scale-aware sinks.** Partitioned JSON by default; reference-shaped
  single-file mode only when asked (sources/sinks.py).

Deliberate divergence for non-default configs: the reference always
*identifies* duplicates/cancelled trades and reports their counts even
when ``filter_duplicates`` / ``filter_cancelled_trades`` are false
(identify and remove are separate steps, etl_pipeline.py:110-137).
This pipeline reports 0 for a disabled filter: computing the duplicate
marking costs a full shuffle, and paying it for a metric whose filter
is switched off is exactly the kind of hidden cost the 2-action design
removes. Default config (all filters on) matches the reference's
metrics exactly (tests/test_reference_parity.py); the divergence is
asserted intentionally in tests/test_pipeline_config.py.

Timezone policy (quirk Q1): rendering uses the session timezone; the
engine pins UTC. The committed goldens were produced in
America/New_York — pass ``session_tz="America/New_York"`` to reproduce
them byte-for-byte (tests/test_reference_parity.py does).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import deterministic_dedup
from ..operators.util import side_by_side
from ..sources.readers import read_dirty_csv
from ..sources.sinks import write_json
from . import rules

TRADES_COLUMNS = [
    "trade_id",
    "timestamp",
    "symbol",
    "quantity",
    "price",
    "buyer_id",
    "seller_id",
    "trade_status",
]
FILL_RENAMES = {
    "timestamp": "cp_timestamp",
    "symbol": "cp_symbol",
    "quantity": "cp_quantity",
    "price": "cp_price",
}
# Declared headers for the other two sources (ref:etl_pipeline.py:76-91
# reads them header=true): declaring the schema skips Spark's
# header-discovery job per source — two fewer driver round-trips per
# run, and at 100 TB the same discipline avoids re-listing a landing
# prefix just to learn column names.
FILLS_COLUMNS = [
    "external_ref_id",
    "our_trade_id",
    "timestamp",
    "symbol",
    "quantity",
    "price",
    "counterparty_id",
]
SYMBOLS_COLUMNS = ["symbol", "company_name", "sector", "is_active"]

ISO_RE = r"^\d{4}-\d{2}-\d{2}T"
EPOCH_RE = r"^\d{10}$"
# Requires 2-digit minute+second: single-digit inputs fall through to
# the patternless parse and become NULL (quirk Q2 — load-bearing for
# golden parity; a lenient mode would add {1,2} here).
US_RE = r"^\d{1,2}/\d{1,2}/\d{4} \d{1,2}:\d{2}:\d{2}"
ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"


def default_config() -> dict[str, Any]:
    return {
        "validation": {
            "price_discrepancy_threshold_exclusive": 0.01,
            "price_decimal_places": 2,
        },
        "data_quality": {
            "filter_duplicates": True,
            "filter_cancelled_trades": True,
        },
        "output": {
            "cleaned_trades_path": "cleaned_trades.json",
            "exceptions_report_path": "exceptions_report.json",
            "single_file": True,
        },
    }


def load_config(path: str) -> dict[str, Any]:
    import yaml

    with open(path) as f:
        cfg = yaml.safe_load(f)
    merged = default_config()
    for section, values in (cfg or {}).items():
        merged.setdefault(section, {}).update(values or {})
    return merged


def normalize_timestamp(col: F.Column) -> F.Column:
    """Multi-format timestamp dispatch (ISO / epoch-seconds / US)."""
    return (
        F.when(col.rlike(ISO_RE), F.to_timestamp(col, ISO_FMT))
        .when(col.rlike(EPOCH_RE), F.to_timestamp(col.cast("long")))
        .when(col.rlike(US_RE), F.to_timestamp(col, "M/d/yyyy H:mm:ss"))
        .otherwise(F.to_timestamp(col))
    )


def cleaned_projection(validated: DataFrame, *, places: int = 2) -> DataFrame:
    """Valid-trade output columns (reference cleaned_trades shape).

    Module-level so the streaming twin (streaming/trades_stream.py)
    reuses the exact projection the batch pipeline writes.
    """
    return validated.filter(F.col("is_valid")).select(
        "trade_id",
        F.date_format(
            normalize_timestamp(F.col("timestamp")), ISO_FMT
        ).alias("timestamp_utc"),
        "symbol",
        F.col("quantity_int").alias("quantity"),
        F.round("price_dec", places).alias("price"),
        "buyer_id",
        "seller_id",
        "counterparty_confirmed",
        "discrepancy_flag",
    )


def exceptions_projection(validated: DataFrame) -> DataFrame:
    """Invalid-trade output columns (reference exceptions_report shape)."""
    return validated.filter(~F.col("is_valid")).select(
        F.col("trade_id").alias("record_id"),
        F.lit("trades.csv").alias("source_file"),
        F.array_join("exception_types", ", ").alias("exception_type"),
        F.array_join("exception_details", "; ").alias("details"),
        F.struct(
            "trade_id",
            "timestamp",
            "symbol",
            "quantity",
            "price",
            "buyer_id",
            "seller_id",
            "trade_status",
        ).alias("raw_data"),
    )


class ReconciliationPipeline:
    """extract → dedup/filter → enrich → validate → clean → load."""

    def __init__(
        self,
        spark: SparkSession,
        config: dict[str, Any] | None = None,
        *,
        input_dir: str = ".",
        session_tz: str = "UTC",
    ) -> None:
        self.spark = spark
        self.config = config or default_config()
        self.input_dir = input_dir
        # set-if-different: a SQL conf write invalidates cached plans,
        # so repeated pipeline runs in one session (the bench / a
        # resident service) must not churn confs that already hold
        for k, v in (
            ("spark.sql.session.timeZone", session_tz),
            ("spark.sql.ansi.enabled", "false"),
        ):
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        self.metrics: dict[str, int] = {}
        self._observations: dict[str, Observation] = {}

    # -- extract ----------------------------------------------------------

    def _observe_count(self, df: DataFrame, name: str, *extra: Column) -> DataFrame:
        obs = Observation(name)
        self._observations[name] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("n"), *extra)

    def extract(self) -> tuple[DataFrame, DataFrame, DataFrame]:
        p = lambda f: os.path.join(self.input_dir, f)  # noqa: E731
        trades = read_dirty_csv(self.spark, p("trades.csv"), TRADES_COLUMNS)
        fills = read_dirty_csv(
            self.spark,
            p("counterparty_fills.csv"),
            FILLS_COLUMNS,
            rename=FILL_RENAMES,
        )
        symbols = read_dirty_csv(
            self.spark, p("symbols_reference.csv"), SYMBOLS_COLUMNS
        )
        try:
            self._fills_bytes = os.path.getsize(p("counterparty_fills.csv"))
        except OSError:
            self._fills_bytes = None
        return trades, fills, symbols

    def _maybe_broadcast(self, df: DataFrame, input_bytes: int | None) -> DataFrame:
        """Broadcast only when the source file is provably small.

        Fills are fact-shaped — they scale with trades, so an
        unconditional broadcast OOMs executors at cluster scale. The
        decision uses driver-side file metadata (the same signal
        Catalyst's size-based broadcast planning uses), costing zero
        Spark actions; unknown size = assume big.
        """
        threshold = int(
            self.config.get("tuning", {}).get(
                "broadcast_threshold_bytes", 64 * 1024 * 1024
            )
        )
        if input_bytes is not None and input_bytes <= threshold:
            return F.broadcast(df)
        return df

    # -- transform --------------------------------------------------------

    def transform(
        self, trades: DataFrame, fills: DataFrame, symbols: DataFrame
    ) -> DataFrame:
        dq = self.config["data_quality"]
        if dq.get("dedupe_fills", False):
            # The reference assumes our_trade_id is unique in the fills
            # (etl_pipeline.py:350-355 would silently fan out rows
            # otherwise — FIXTURES.md flags this untested edge). Opt-in
            # guard: keep one deterministic fill per trade id.
            fills = deterministic_dedup(
                fills, ["our_trade_id"], [F.col(c) for c in fills.columns]
            )
        flow = self._observe_count(trades, "raw")
        if dq["filter_duplicates"]:
            flow = deterministic_dedup(
                flow, ["trade_id"], [F.col(c) for c in TRADES_COLUMNS]
            )
        flow = self._observe_count(flow, "post_dedup")
        if dq["filter_cancelled_trades"]:
            # 3-valued: NULL status is dropped too (reference parity).
            flow = flow.filter(F.col("trade_status") != "CANCELLED")
        flow = self._observe_count(flow, "post_cancel")

        # Fills: size-aware (fact-shaped side — see _maybe_broadcast).
        # Symbols: a genuine dimension, always broadcast.
        enriched = flow.join(
            self._maybe_broadcast(fills, getattr(self, "_fills_bytes", None)),
            flow["trade_id"] == fills["our_trade_id"],
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
        validated = rules.reconcile(
            validated,
            price_threshold=float(
                self.config["validation"]["price_discrepancy_threshold_exclusive"]
            ),
        )
        return validated

    # -- clean ------------------------------------------------------------

    def cleaned_output(self, validated: DataFrame) -> DataFrame:
        places = int(self.config["validation"]["price_decimal_places"])
        return cleaned_projection(validated, places=places)

    def exceptions_output(self, validated: DataFrame) -> DataFrame:
        return exceptions_projection(validated)

    # -- run --------------------------------------------------------------

    def _adaptive_split_bytes(self) -> int | None:
        """Input-split size that keeps the CSV parse parallel.

        CSV parsing happens in the scan stage, so its parallelism is
        ceil(input_bytes / maxPartitionBytes) — the 100× bench input
        (82 MB trades) is ONE split at the 128 MB default and parses on
        a single core. Target one split per core (total/parallelism),
        clamped to [4 MB, 128 MB]: at cluster scale the clamp lands on
        the production 128 MB default (no task explosion), while an
        under-split local input divides across every core. Driver-side
        file metadata only — zero Spark actions.

        FLOORED (round-12 verdict item 1): input at or under one 4 MB
        floor split returns None — the adaptation cannot add
        parallelism there (any split ≥ the floor still reads it as
        one partition), and the per-run conf set/restore churn was
        the confirmed etl_reference_pipeline regression (each SQL
        conf write invalidates cached relation plans). run() also
        skips the whole conf dance when the computed split equals the
        session's current value.
        """
        import glob

        try:
            total = sum(
                os.path.getsize(p)
                for p in glob.glob(os.path.join(self.input_dir, "*.csv"))
            )
        except OSError:
            return None
        if total <= (4 << 20):
            return None
        par = self.spark.sparkContext.defaultParallelism
        return max(4 << 20, min(128 << 20, total // max(par, 1)))

    def run(self, output_dir: str = ".") -> dict[str, int]:
        split = self._adaptive_split_bytes()
        prev_split: str | None = None
        if split is not None:
            cur = self.spark.conf.get("spark.sql.files.maxPartitionBytes")
            if str(split) != cur:
                prev_split = cur
                self.spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", str(split)
                )
        trades, fills, symbols = self.extract()
        validated = self.transform(trades, fills, symbols).cache()
        try:
            # Actions 1+2: the two sinks, side by side. The first to
            # reach the cache materializes it and fires the stage
            # Observations inside it; the split metrics are
            # Observations on the sink projections themselves.
            valid = self._observe_count(
                self.cleaned_output(validated),
                "valid",
                F.sum(F.when(F.col("discrepancy_flag"), 1).otherwise(0)).alias("d"),
            )
            invalid = self._observe_count(self.exceptions_output(validated), "invalid")
            out = self.config["output"]
            single = bool(out.get("single_file", True))

            def sink(df: DataFrame, key: str) -> None:
                write_json(df, os.path.join(output_dir, out[key]), single_file=single)

            # Both writes finish before the first error is re-raised
            # and before the cache is dropped.
            side_by_side(
                lambda: sink(valid, "cleaned_trades_path"),
                lambda: sink(invalid, "exceptions_report_path"),
            )
            obs = {k: o.get for k, o in self._observations.items()}
            n = {k: v["n"] for k, v in obs.items()}
            self.metrics = {
                "processed_trades": n["raw"],
                "duplicate_trades": n["raw"] - n["post_dedup"],
                "cancelled_trades": n["post_dedup"] - n["post_cancel"],
                "successful_trades": n["valid"],
                "invalid_trades": n["invalid"],
                # sum() over an empty sink is NULL
                "discrepancy_trades": obs["valid"]["d"] or 0,
            }
            return self.metrics
        finally:
            validated.unpersist()
            if prev_split is not None:
                self.spark.conf.set(
                    "spark.sql.files.maxPartitionBytes", prev_split
                )
