from __future__ import annotations

from onechronos_etl_takehome_spark.session import pin_semantics
from onechronos_etl_takehome_spark.streaming import (
    hourly_event_windows_stream,
    read_events_stream,
)

SF = "/root/testdata/sf0.001"


def test_progress_reports_count_rows(spark, tmp_path):
    """The streaming instrument is the query's own progress reports:
    every batch's input rows add up to the source's 1,000 events and
    each report times its trigger."""
    pin_semantics(spark)
    q = (
        hourly_event_windows_stream(read_events_stream(spark, SF))
        .writeStream.format("memory")
        .queryName("monitored")
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination()
    batches = q.recentProgress
    assert sum(b["numInputRows"] for b in batches) == 1000
    assert batches and all("triggerExecution" in b["durationMs"] for b in batches)
