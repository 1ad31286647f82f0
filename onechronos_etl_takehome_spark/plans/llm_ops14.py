"""Round-12 operator batch: conditional MERGE INTO on the ACID log.

- **Conditional MERGE** (x55): ``txlog.merge_into(...)`` — the full
  multi-clause form (``WHEN MATCHED [AND cond] THEN UPDATE/DELETE``,
  ``WHEN NOT MATCHED [AND cond] THEN INSERT``, ``WHEN NOT MATCHED BY
  SOURCE THEN UPDATE/DELETE``), Delta's CDC-apply surface, with a
  deletion-vector mode whose bytes written scale with changed rows
  (round-11 verdict items 2+3; ``sources/txlog.py``).

- **Legacy CDF backfill** (x56): ``txlog.generate_change_files`` —
  Delta's GENERATE: stamp commit-time change files onto legacy
  two-sided commits, computed distributed, retiring the read-time
  diff (round-11 verdict item 5).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import pin_semantics
from ..sources.tables import load_table
from .catalog import register

# ---------------------------------------------------------------------------
# x55 — conditional MERGE INTO: a four-clause CDC apply (delete /
# conditional update / conditional insert / not-matched-by-source
# staleness sweep) hash-matched against a relational recomputation of
# BOTH the final table state and the commit's change data feed.
# ---------------------------------------------------------------------------

_X55_STALE_CENTS = 5_000_000  # by-source staleness threshold (< $50k)

_X55_ORACLE = f"""
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    s AS (
      SELECT orderkey, 'D' AS op, CAST(NULL AS BIGINT) AS new_cents
      FROM t WHERE orderkey % 97 = 0
      UNION ALL
      SELECT orderkey, 'U', cents + 555
      FROM t WHERE orderkey % 13 = 0 AND orderkey % 97 <> 0
      UNION ALL
      SELECT -orderkey - 1, 'I', cents % 100000
      FROM t WHERE orderkey % 31 = 0),
    m AS (
      SELECT t.orderkey, t.status, t.cents, s.op, s.new_cents,
             s.orderkey IS NOT NULL AS matched
      FROM t LEFT JOIN s ON t.orderkey = s.orderkey),
    ins AS (
      SELECT s.orderkey, 'NEW' AS status, s.new_cents AS cents
      FROM s LEFT JOIN t ON s.orderkey = t.orderkey
      WHERE t.orderkey IS NULL AND s.op = 'I'),
    final AS (
      SELECT orderkey,
             CASE WHEN NOT matched AND cents < {_X55_STALE_CENTS}
                  THEN 'STALE' ELSE status END AS status,
             CASE WHEN matched AND op = 'U'
                  THEN new_cents ELSE cents END AS cents
      FROM m WHERE NOT (matched AND op = 'D')
      UNION ALL SELECT * FROM ins),
    chg AS (
      SELECT 'delete' AS _change, cents FROM m
      WHERE (matched AND op IN ('D', 'U'))
         OR (NOT matched AND cents < {_X55_STALE_CENTS})
      UNION ALL
      SELECT 'insert',
             CASE WHEN op = 'U' THEN new_cents ELSE cents END
      FROM m
      WHERE (matched AND op = 'U')
         OR (NOT matched AND cents < {_X55_STALE_CENTS})
      UNION ALL
      SELECT 'insert', cents FROM ins)
    SELECT CAST(0 AS BIGINT) AS tag, status AS grp,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM final GROUP BY status
    UNION ALL
    SELECT 1, _change, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cents) AS BIGINT)
    FROM chg GROUP BY _change
"""


@register("x55_txlog_merge_into", oracle=_X55_ORACLE)
def x55_txlog_merge_into(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONDITIONAL MERGE INTO (``txlog.merge_into`` — round-11 verdict
    items 2+3; Delta's multi-clause MERGE, the CDC-apply surface every
    lakehouse user reaches for): one commit applies a four-clause
    change batch against the orders table —

      WHEN MATCHED AND s.op = 'D'            THEN DELETE
      WHEN MATCHED AND s.op = 'U'            THEN UPDATE SET cents
      WHEN NOT MATCHED AND s.op = 'I'        THEN INSERT (...)
      WHEN NOT MATCHED BY SOURCE
           AND t.cents < threshold           THEN UPDATE SET status

    Per target row the FIRST true clause of its population applies
    (3VL: a NULL condition falls through); expressions see the target
    as struct ``t`` and the source as struct ``s``. Tag 0 hash-matches
    the post-merge table grouped by status; tag 1 hash-matches the
    merge commit's CHANGE DATA FEED by change kind — the commit-time
    change files carry exactly preimage-deletes + postimage/new-row
    inserts, so the oracle recomputes the feed relationally. The gate
    additionally pins DV-mode == CoW hash equality, CDF equality
    across modes, the matched-sparse bytes-written drop, CHECK
    enforcement on postimages, and a two-writer race
    (tests/test_round12_ops.py).

    Scale: one provenance scan classifies live rows against the
    broadcast-sized source; only files with an APPLIED clause row
    rewrite (CoW) or mask (DV) — a 0.1%-matched CDC batch touches
    ~0.1% of files, and in DV mode writes only the changed rows."""
    import tempfile

    from ..sources import txlog

    pin_semantics(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix=f"txlog_x55_{uuid.uuid4().hex[:8]}_")
    txlog.create_table(orders, path, cluster_by="orderkey", cluster_files=4)

    deletes = orders.filter(F.col("orderkey") % 97 == 0).select(
        "orderkey", F.lit("D").alias("op"),
        F.lit(None).cast("long").alias("new_cents"),
    )
    updates = orders.filter(
        (F.col("orderkey") % 13 == 0) & (F.col("orderkey") % 97 != 0)
    ).select(
        "orderkey", F.lit("U").alias("op"),
        (F.col("cents") + 555).alias("new_cents"),
    )
    news = orders.filter(F.col("orderkey") % 31 == 0).select(
        # STRICTLY NEGATIVE keys: o_orderkey ≥ 0 at every scale
        # factor, so -(k+1) ≤ -1 can never collide with a
        # delete/update source key (round-12 advice: +10M collided at
        # sf10, where orderkeys reach ~60M, tripping the
        # duplicate-source-key ambiguity raise; bare -k still collided
        # on the testdata's orderkey-0 row)
        (-F.col("orderkey") - 1).alias("orderkey"),
        F.lit("I").alias("op"),
        (F.col("cents") % 100_000).alias("new_cents"),
    )
    source = deletes.unionByName(updates).unionByName(news)
    v = txlog.merge_into(
        spark, path, source, ["orderkey"],
        clauses=[
            {"when": "matched", "condition": "s.op = 'D'",
             "action": "delete"},
            {"when": "matched", "condition": "s.op = 'U'",
             "action": "update", "set": {"cents": "s.new_cents"}},
            {"when": "not_matched", "condition": "s.op = 'I'",
             "action": "insert",
             "values": {"orderkey": "s.orderkey", "status": "'NEW'",
                        "cents": "s.new_cents"}},
            {"when": "not_matched_by_source",
             "condition": f"t.cents < {_X55_STALE_CENTS}",
             "action": "update", "set": {"status": "'STALE'"}},
        ],
    )
    tag0 = txlog.read_table(spark, path).groupBy(
        F.col("status").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(0).cast("long").alias("tag"), "*")
    tag1 = txlog.change_feed(spark, path, from_version=v - 1).groupBy(
        F.col("_change").alias("grp")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    ).select(F.lit(1).cast("long").alias("tag"), "*")
    return tag0.unionByName(tag1)


# ---------------------------------------------------------------------------
# x56 — LEGACY CDF BACKFILL: strip a lifecycle's commit-time change
# files (simulating a pre-writer-3 table), backfill them with
# generate_change_files, and hash-match the resulting feed against a
# relational recomputation of every commit's net changes.
# ---------------------------------------------------------------------------

_X56_ORACLE = """
    WITH t AS (
      SELECT CAST(o_orderkey AS BIGINT) AS orderkey,
             o_orderstatus AS status,
             CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders),
    live2 AS (SELECT * FROM t WHERE cents % 5 <> 0),
    u AS (
      SELECT orderkey, status, cents + 9 AS cents
      FROM live2 WHERE orderkey % 7 = 0)
    SELECT CAST(1 AS BIGINT) AS vsn, 'insert' AS chg,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cents) AS BIGINT) AS total_cents
    FROM t WHERE orderkey % 2 = 0
    UNION ALL
    SELECT 2, 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cents) AS BIGINT)
    FROM t WHERE cents % 5 = 0
    UNION ALL
    SELECT 3, 'delete', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cents) AS BIGINT)
    FROM live2 WHERE orderkey % 7 = 0
    UNION ALL
    SELECT 3, 'insert', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(cents) AS BIGINT)
    FROM u
"""


@register("x56_txlog_cdf_backfill", oracle=_X56_ORACLE)
def x56_txlog_cdf_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEGACY CHANGE-FILE BACKFILL (``txlog.generate_change_files`` —
    the moral equivalent of Delta's ``GENERATE``, round-11 verdict
    item 5): a pre-writer-3 DML commit carries no commit-time change
    files, so its CDF derives with a read-time multiset diff. This
    witness builds a create / append / copy-on-write DELETE /
    file-pruned MERGE lifecycle, then STRIPS every ``cdf`` stamp and
    its change files from the manifests — byte-for-byte the shape an
    old writer leaves — runs the backfill (each two-sided commit's
    diff computed DISTRIBUTED via the same aligned ``exceptAll`` the
    DMLs use at commit time, manifests stamped atomically in place),
    and returns the CHANGE DATA FEED grouped by (version, change
    kind). The hash match against a relational recomputation of every
    commit's net row-level changes proves the backfilled files carry
    EXACTLY the multiset the read-time diff would have derived —
    append inserts, delete preimages, merge replaced-preimage deletes
    + upsert inserts, with copy-on-write carry-over rows cancelled.
    The gate additionally pins derived==backfilled equality, the
    diff-partition retirement in the streaming planner, idempotence,
    non-flat-schema streamability after backfill, and the
    vacuumed-commit refusal (tests/test_round12_ops.py).

    Scale: backfill reads only the files each commit touched (the log
    is the prune) and writes bytes proportional to the real change
    volume; after it, every CDF read of the table is ordinary
    per-file scan partitions — the one-Python-task read-time diff is
    retired for good."""
    import os
    import tempfile

    from ..sources import txlog

    pin_semantics(spark)
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").cast("long").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.floor(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    )
    path = tempfile.mkdtemp(prefix=f"txlog_x56_{uuid.uuid4().hex[:8]}_")
    txlog.create_table(
        orders.filter(F.col("orderkey") % 2 == 1).coalesce(2), path
    )
    txlog.append(orders.filter(F.col("orderkey") % 2 == 0).coalesce(2), path)
    txlog.delete_where(spark, path, F.col("cents") % 5 == 0)
    live2 = txlog.read_table(spark, path)
    txlog.merge_upsert(
        spark,
        path,
        live2.filter(F.col("orderkey") % 7 == 0).select(
            "orderkey", "status", (F.col("cents") + 9).alias("cents")
        ),
        ["orderkey"],
    )
    # strip every cdf stamp + change file: the byte shape a legacy
    # (pre-writer-3) writer leaves behind
    for v, m in txlog._manifests(path, -1):
        if "cdf" in m:
            for e in m.pop("cdf")["files"]:
                os.unlink(os.path.join(path, e["name"]))
            txlog._replace_manifest(path, v, m)
    txlog.generate_change_files(spark, path)
    return txlog.change_feed(spark, path, from_version=0).groupBy(
        F.col("_version").alias("vsn"), F.col("_change").alias("chg")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("total_cents"),
    )
