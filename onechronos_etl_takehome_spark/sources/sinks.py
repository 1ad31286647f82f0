"""Scale-aware sinks.

The reference writes each output as ONE driver-side JSON array file via
``df.toJSON().collect()`` + ``json.dump`` (etl_pipeline.py:376-380) —
a hard scalability wall (SURVEY.md §3.3). The engine's sinks are
partitioned ``df.write`` by default; the single-file mode exists only
for small, human-facing outputs and is explicitly opt-in.
"""

from __future__ import annotations

import json
from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """ORC sink (Spark-native writer) — column-pruned, predicate-
    pushdown-capable like parquet; some warehouses standardize on it.
    Round-trip fidelity (timestamps, decimals, arrays) is pinned in
    tests/test_sources.py."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def write_xml(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    row_tag: str = "row",
    root_tag: str = "rows",
    partition_by: list[str] | None = None,
) -> None:
    """XML sink (Spark 4 built-in) — for feeds consumed by XML-only
    downstreams.  Distributed like every other sink (one file per
    partition, each a well-formed ``root_tag`` document); NULL fields
    are omitted elements, mirroring the JSON sink's Q3 posture.
    Round-trip fidelity is pinned in tests/test_sources.py."""
    w = (
        df.write.format("xml")
        .mode(mode)
        .option("rowTag", row_tag)
        .option("rootTag", root_tag)
    )
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def write_json(
    df: DataFrame,
    path: str,
    *,
    mode: str = "overwrite",
    single_file: bool = False,
    indent: int | None = 2,
) -> None:
    """JSON sink.

    - default: distributed partitioned JSON-lines directory (scales).
    - ``single_file=True``: reference-compatible single JSON array file
      (one pretty-printed array, NULL fields omitted — quirk Q3). Only
      valid for driver-sized results; guarded by intent, not row count,
      because counting would cost an extra action.
    """
    if not single_file:
        df.write.mode(mode).json(path)
        return
    # Reference-parity path: like the reference's toJSON, to_json drops
    # NULL fields (quirk Q3, etl_pipeline.py:376-380), producing
    # missing-key ≡ NULL semantics. A DataFrame collect rather than
    # toJSON's RDD, so Observations on ``df`` fire after the rows are
    # read, as they do for the partitioned write.
    records: list[dict[str, Any]] = [
        json.loads(r[0]) for r in df.select(F.to_json(F.struct("*"))).collect()
    ]
    with open(path, "w") as f:
        json.dump(records, f, indent=indent)
