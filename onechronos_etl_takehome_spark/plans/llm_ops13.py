"""Round-11 operator batch 2: UPDATE and RESTORE complete the txlog
DML surface.

- **UPDATE** (x52): ``txlog.update_where(condition, set={...})`` —
  file-granular copy-on-write update, or ``mode="dv"`` (mask the
  preimage positions, add only the postimage rows).

- **RESTORE** (x53): ``txlog.restore_table(version=v)`` — reset the
  live set to an earlier snapshot as ONE metadata commit (Delta's
  RESTORE TABLE ... TO VERSION AS OF); history stays intact, the
  restore itself is time-travelable.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin_semantics
from ..sources.tables import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# x52 — UPDATE: copy-on-write and deletion-vector modes, hash-matched
# against each other AND a relational recomputation
# ---------------------------------------------------------------------------

# Lifecycle: create clustered; CoW-update F rows (+5% cents, reprice
# flag semantics via a second column); DV-update every 83rd key
# (cents zeroed). Legs:
#   tag 0 — the final table grouped by status;
#   tag 1 — a pruned read over the updated range;
#   tag 2 — time travel to v0 (no updates visible).
_X52_ORACLE = """
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    u1 AS (
      SELECT orderkey, status,
             CASE WHEN status = 'F' THEN cents + 500 ELSE cents END
               AS cents
      FROM t),
    u2 AS (
      SELECT orderkey, status,
             CASE WHEN orderkey % 83 = 0 THEN CAST(0 AS BIGINT)
                  ELSE cents END AS cents
      FROM u1)
    SELECT CAST(0 AS BIGINT) AS tag, status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM u2 GROUP BY status
    UNION ALL
    SELECT 1, 'hi', CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM u2 WHERE cents >= 25000000
    UNION ALL
    SELECT 2, status, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM t GROUP BY status
"""


@register("x52_txlog_update", oracle=_X52_ORACLE)
def x52_txlog_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE as a log transaction (``txlog.update_where`` — the
    missing member of the DML tetrad; append/delete/merge landed
    rounds 7-9): ``set`` maps columns to expressions evaluated over
    each MATCHED row (3VL: a NULL predicate row is untouched, SQL
    UPDATE semantics). Two write strategies, both exercised here:
    copy-on-write (rewrite only the files containing matches —
    the 'F'-reprice leg) and ``mode="dv"`` (mask the preimage
    positions with a deletion vector and add ONLY the postimage rows
    — bytes written scale with matched rows, the %83 leg). Both
    stamp commit-time change files (delete-preimage + insert-
    postimage), so CDF across modes is identical (pinned in
    tests/test_round11_ops.py along with CHECK-constraint
    enforcement over postimages and partition-column updates moving
    rows between directories). Tag 0 hash-matches the final state
    against a relational recomputation of both updates; tag 1 reads
    a pruned range through the DV masks; tag 2 time-travels to v0.

    Scale: a 0.1%-selectivity DV update on a 100-TB table writes
    ~0.1% of the data once (postimage) plus positions — not every
    touched file twice."""
    import tempfile

    from ..sources import txlog

    pin_semantics(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix=f"txlog_x52_{uuid.uuid4().hex[:8]}_")
    txlog.create_table(orders, path, cluster_by="cents", cluster_files=6)
    txlog.update_where(
        spark,
        path,
        F.col("status") == "F",
        {"cents": F.col("cents") + 500},
    )
    txlog.update_where(
        spark,
        path,
        F.col("orderkey") % 83 == 0,
        {"cents": F.lit(0).cast("long")},
        mode="dv",
    )

    latest = txlog.read_table(spark, path)
    tag0 = latest.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(0).cast("long").alias("tag"), "*")
    tag1 = txlog.read_table(spark, path, where="cents >= 25000000").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(
        F.lit(1).cast("long").alias("tag"), F.lit("hi").alias("status"), "*"
    )
    tag2 = txlog.read_table(spark, path, version=0).groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(2).cast("long").alias("tag"), "*")
    return tag0.unionByName(tag1).unionByName(tag2)


# ---------------------------------------------------------------------------
# x53 — RESTORE: reset the live set to an earlier snapshot as ONE
# metadata commit; history intact, the restore time-travelable
# ---------------------------------------------------------------------------

# Lifecycle: create pre-cut half / append post-cut half / delete every
# 40th key / RESTORE to v1 (undoing the delete). Legs:
#   tag 0 — the restored table == the v1 snapshot, by recomputation;
#   tag 1 — time travel to the deleted state (v2) STILL shows the
#           delete (restore adds history, never rewrites it);
#   tag 2 — the restore commit's change feed: exactly the un-deleted
#           rows come back as inserts.
_X53_CUT = "1997-01-01"
_X53_ORACLE = f"""
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderdate AS d
      FROM orders)
    SELECT CAST(0 AS BIGINT) AS tag, status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM t GROUP BY status
    UNION ALL
    SELECT 1, status, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM t WHERE orderkey % 40 <> 0 GROUP BY status
    UNION ALL
    SELECT 2, 'restored', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cents) AS BIGINT)
    FROM t WHERE orderkey % 40 = 0
"""


@register("x53_txlog_restore", oracle=_X53_ORACLE)
def x53_txlog_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE TABLE ... TO VERSION AS OF as a log transaction
    (``txlog.restore_table`` — Delta's restore): ONE commit whose
    actions reset the live file set to the target snapshot's —
    removes for files added since, re-adds (carrying their original
    stats / partition values / DV descriptors) for files retired
    since. Pure metadata: zero data files rewrite, history stays
    intact (the pre-restore states remain time-travelable — tag 1
    pins the deleted state AT its version), and the restore itself
    is just another version. The commit stamps change files computed
    distributed (snapshot exceptAll snapshot), so the feed shows
    exactly the resurrected rows as inserts — tag 2 hash-matches
    them against the relational recomputation; missing (vacuumed)
    target files fail the restore loudly rather than commit a
    dangling snapshot.

    Scale: restoring a 100-TB table after a bad job is O(files)
    manifest work + one change-file job bounded by the net row diff
    — not a table rewrite."""
    import tempfile

    from ..sources import txlog

    pin_semantics(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderdate",
    )
    path = tempfile.mkdtemp(prefix=f"txlog_x53_{uuid.uuid4().hex[:8]}_")
    cut = F.lit(_X53_CUT).cast("date")
    cols = ["orderkey", "status", "cents"]
    txlog.create_table(
        orders.filter(F.col("o_orderdate") < cut).select(*cols), path
    )
    txlog.append(
        orders.filter(F.col("o_orderdate") >= cut).select(*cols), path
    )
    v_del = txlog.delete_where(spark, path, F.col("orderkey") % 40 == 0)
    v_restore = txlog.restore_table(spark, path, version=v_del - 1)

    latest = txlog.read_table(spark, path)
    tag0 = latest.groupBy("status").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(0).cast("long").alias("tag"), "*")
    tag1 = txlog.read_table(spark, path, version=v_del).groupBy(
        "status"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(1).cast("long").alias("tag"), "*")
    feed = txlog.change_feed(
        spark, path, from_version=v_restore - 1, to_version=v_restore
    )
    tag2 = feed.filter(F.col("_change") == "insert").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(
        F.lit(2).cast("long").alias("tag"),
        F.lit("restored").alias("status"),
        "*",
    )
    return tag0.unionByName(tag1).unionByName(tag2)


# ---------------------------------------------------------------------------
# x54 — SHALLOW CLONE: zero-copy table clone by absolute-path
# reference; DML on the clone never touches the source
# ---------------------------------------------------------------------------

# Lifecycle: build the source (create + DV delete of every 61st key),
# shallow-clone it, then DIVERGE the clone (CoW delete of the pre-cut
# half's F rows). Legs:
#   tag 0 — the diverged clone, grouped by status;
#   tag 1 — the SOURCE after the clone's DML: untouched;
#   tag 2 — the clone's v0 == the source snapshot it cloned;
#   tag 3 — a PARTITIONED source cloned (round 12: partition values
#           restored from the log, not a basePath), diverged with a
#           CoW delete, read back partition-pruned.
_X54_ORACLE = """
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    src AS (SELECT * FROM t WHERE orderkey % 61 <> 0)
    SELECT CAST(0 AS BIGINT) AS tag, status,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM src WHERE NOT (status = 'F' AND cents % 3 = 0)
    GROUP BY status
    UNION ALL
    SELECT 1, status, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM src GROUP BY status
    UNION ALL
    SELECT 2, status, CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM src GROUP BY status
    UNION ALL
    SELECT 3, 'O', CAST(COUNT(*) AS BIGINT), CAST(SUM(cents) AS BIGINT)
    FROM t WHERE orderkey % 50 <> 0 AND status = 'O'
"""


@register("x54_txlog_shallow_clone", oracle=_X54_ORACLE)
def x54_txlog_shallow_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (``txlog.shallow_clone`` — Delta's zero-copy
    clone): the clone's v0 references the source snapshot's files BY
    ABSOLUTE PATH — no bytes move, O(files) manifest work — and from
    there the tables are independent: the clone's DML stages under
    ITS root and retires source references from ITS manifest only.
    The source here carries a DELETION VECTOR before cloning (the
    descriptor clones too — masked reads on the clone stay exact,
    basename-keyed since vector rows carry source-relative names);
    the clone then diverges with a CoW delete. Tag 0 hash-matches
    the DIVERGED clone, tag 1 the source AFTER the clone's DML
    (byte-identical to pre-clone — independence), tag 2 the clone's
    v0 time travel (== the cloned snapshot). Tag 3 (round 12) clones
    a PARTITIONED source — the clone read restores partition values
    from the LOG (``_raw_file_read`` groups absolute references by
    manifest partition values; a single basePath can't span two
    roots), diverges it with a CoW delete whose restages land under
    the clone's own value directories, and reads back
    partition-pruned. The gate additionally pins vacuum independence
    (the clone's vacuum never deletes shared source bytes) and the
    partitioned-clone DML battery (tests/test_round12_ops.py).

    Scale: cloning a 100-TB table for a staging experiment is one
    manifest write; the experiment's writes cost only their own
    delta. Caveat (Delta's own): vacuum on the SOURCE can retire
    files a clone still references."""
    import tempfile

    from ..sources import txlog

    pin_semantics(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    src = tempfile.mkdtemp(prefix=f"txlog_x54s_{uuid.uuid4().hex[:8]}_")
    dst = tempfile.mkdtemp(prefix=f"txlog_x54c_{uuid.uuid4().hex[:8]}_")
    psrc = tempfile.mkdtemp(prefix=f"txlog_x54p_{uuid.uuid4().hex[:8]}_")
    pdst = tempfile.mkdtemp(prefix=f"txlog_x54q_{uuid.uuid4().hex[:8]}_")
    import shutil as _sh

    _sh.rmtree(dst)
    _sh.rmtree(pdst)

    # The clustered leg (src → dst) and the partitioned leg
    # (psrc → pdst) are INDEPENDENT table lifecycles whose cost is a
    # chain of small commit jobs, each leaving most of local[32] idle.
    # Overlap them with ``side_by_side`` (guide §2.6: submit
    # independent jobs concurrently so one chain's tail back-fills the
    # other's idle executors); each leg's commits stay strictly
    # ordered within its thread, and the result frame is built after
    # both legs join (measured numbers in OPTIMIZATION_r15.md).
    def _clustered_leg() -> None:
        txlog.create_table(orders, src, cluster_by="cents", cluster_files=6)
        txlog.delete_where(
            spark, src, F.col("orderkey") % 61 == 0, mode="dv"
        )
        txlog.shallow_clone(spark, src, dst)
        txlog.delete_where(
            spark,
            dst,
            (F.col("status") == "F") & (F.col("cents") % 3 == 0),
        )

    def _partitioned_leg() -> None:
        # clone a status-partitioned source, diverge it, read back
        # through a partition predicate (pruned at the manifest)
        txlog.create_table(orders, psrc, partition_by="status")
        txlog.shallow_clone(spark, psrc, pdst)
        txlog.delete_where(spark, pdst, F.col("orderkey") % 50 == 0)

    from ..operators.util import side_by_side

    side_by_side(_clustered_leg, _partitioned_leg)

    def agg(df: DataFrame, tag: int) -> DataFrame:
        return df.groupBy("status").agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("total_cents"),
        ).select(F.lit(tag).cast("long").alias("tag"), "*")

    tag3 = txlog.read_table(spark, pdst, where="status = 'O'").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(
        F.lit(3).cast("long").alias("tag"), F.lit("O").alias("status"), "*"
    )
    return (
        agg(txlog.read_table(spark, dst), 0)
        .unionByName(agg(txlog.read_table(spark, src), 1))
        .unionByName(agg(txlog.read_table(spark, dst, version=0), 2))
        .unionByName(tag3)
    )
