"""Keyed upsert (MERGE) over a versioned parquet table.

Plain parquet has no transaction log, so in-place MERGE is unsafe: a
reader racing a rewrite sees a torn table, and a failed rewrite loses
the old data. This module implements the engine-native equivalent of a
Delta/Iceberg ``MERGE INTO`` with copy-on-write versions:

- the table lives at ``<path>/v=<n>/`` (one immutable parquet dir per
  version);
- ``<path>/_LATEST`` holds the current version number and is swapped
  atomically (write-temp + ``os.replace``), so readers always see a
  complete version and a crashed writer leaves the table untouched;
- ``upsert`` reads the latest version, full-outer joins the updates on
  the key columns (matched rows take the update's values wholesale —
  MERGE semantics, so an explicit NULL in an update wins), and writes
  the merged frame as the next version.

Scale posture: the merge is one shuffle join on the key columns plus
one table rewrite — the copy-on-write cost every parquet-based MERGE
pays. At 100 TB the production path is a table format with file-level
pruning (rewrite only matched files); the operator's semantics and the
atomic-pointer publish are the same there, which is why the tests pin
semantics (idempotent re-application, NULL-overwrite, deletes) rather
than layout. Updates are usually small next to the table: the join
side is broadcast below the session's autoBroadcastJoinThreshold
automatically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..observability import capture_counts, drain, observe_count

_POINTER = "_LATEST"


def _latest_version(path: str) -> int | None:
    ptr = os.path.join(path, _POINTER)
    if not os.path.exists(ptr):
        return None
    with open(ptr) as f:
        return int(f.read().strip())


def _publish(path: str, version: int) -> None:
    """Atomically repoint _LATEST at `version` (os.replace is atomic on
    POSIX; on a real object store this is the table-format commit)."""
    tmp = os.path.join(path, f"{_POINTER}.tmp")
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, os.path.join(path, _POINTER))


def list_versions(path: str) -> list[int]:
    """All committed version numbers on disk (vacuum trims old ones)."""
    if not os.path.isdir(path):
        return []
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )


def read_keyed_table(
    spark: SparkSession, path: str, *, version: int | None = None
) -> DataFrame:
    """Read the table — current version by default, or time-travel to
    any still-on-disk ``version`` (every version is an immutable
    directory, so historical reads need no reconstruction)."""
    if version is None:
        version = _latest_version(path)
        if version is None:
            raise FileNotFoundError(f"no committed version at {path}")
    elif version not in list_versions(path):
        raise FileNotFoundError(
            f"version {version} not on disk at {path} "
            f"(available: {list_versions(path)})"
        )
    return spark.read.parquet(os.path.join(path, f"v={version}"))


def upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    delete_col: str | None = None,
) -> dict[str, int]:
    """MERGE `updates` into the keyed table at `path`.

    Matched keys take the update row wholesale; unmatched update rows
    insert; target rows with no update pass through. If ``delete_col``
    names a boolean column in `updates`, rows where it is true delete
    the matched key instead (the column is not stored). Returns stage
    counters (single Observation pass, no extra count jobs).

    Re-applying the same updates is idempotent by construction: the
    second merge produces a byte-identical next version.
    """
    deletes = None
    if delete_col is not None:
        deletes = updates.filter(F.col(delete_col)).drop(delete_col)
        updates = updates.filter(
            ~F.coalesce(F.col(delete_col), F.lit(False))
        ).drop(delete_col)

    version = _latest_version(path)
    if version is None:
        merged = updates
        next_version = 0
    else:
        target = read_keyed_table(spark, path)
        if set(target.columns) != set(updates.columns):
            raise ValueError(
                f"schema mismatch: table {sorted(target.columns)} "
                f"vs updates {sorted(updates.columns)}"
            )
        u = updates.withColumn("__is_update", F.lit(True)).alias("u")
        t = target.alias("t")
        cond = [F.col(f"u.{k}").eqNullSafe(F.col(f"t.{k}")) for k in keys]
        merged = t.join(u, cond, "full_outer").select(
            *[
                F.when(F.col("u.__is_update"), F.col(f"u.{c}"))
                .otherwise(F.col(f"t.{c}"))
                .alias(c)
                for c in target.columns
            ]
        )
        if deletes is not None:
            d = deletes.select(*keys).alias("d")
            merged = merged.alias("m").join(
                F.broadcast(d),
                [F.col(f"m.{k}").eqNullSafe(F.col(f"d.{k}")) for k in keys],
                "left_anti",
            )
        next_version = version + 1

    with capture_counts() as counts:
        merged = observe_count("rows", merged)
    merged.write.mode("overwrite").parquet(os.path.join(path, f"v={next_version}"))
    _publish(path, next_version)
    return {"version": next_version, "rows": int(drain(counts)["rows"]["n"])}


def vacuum(path: str, *, keep: int = 1) -> list[int]:
    """Drop all but the `keep` most recent committed versions; returns
    the versions removed. Never touches the current version."""
    import shutil

    current = _latest_version(path)
    if current is None:
        return []
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("v=") and d.split("=", 1)[1].isdigit()
    )
    to_drop = [v for v in versions[: -max(keep, 1)] if v != current]
    for v in to_drop:
        shutil.rmtree(os.path.join(path, f"v={v}"))
    return to_drop
