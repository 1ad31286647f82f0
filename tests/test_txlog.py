"""ACID table format (sources/txlog.py): commit protocol, snapshot
isolation, copy-on-write file granularity, optimistic concurrency,
vacuum, and schema evolution across commits."""

from __future__ import annotations

import json
import os
import tempfile
import threading

import pytest

from pyspark.sql import functions as F

from onechronos_etl_takehome_spark import session
from onechronos_etl_takehome_spark.sources import constraints as C
from onechronos_etl_takehome_spark.sources import txlog
from onechronos_etl_takehome_spark.streaming.txlog_stream import (
    process_txlog_batch,
)


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _reference_fold(table, version) -> dict[str, dict]:
    """Checkpoint-free fold of manifests 0..version, read straight from
    the log files — the oracle the checkpointed ``_fold_live`` must
    equal."""
    log = os.path.join(table, txlog._LOG_DIR)
    live: dict[str, dict] = {}
    for v in range(version + 1):
        with open(os.path.join(log, f"{v:08d}.json")) as f:
            manifest = json.load(f)
        for a in manifest["actions"]:
            if "add" in a:
                live[a["add"]] = {
                    "rows": a.get("rows", -1),
                    "stats": a.get("stats", {}),
                    "nulls": a.get("nulls", {}),
                    **{k: a[k] for k in ("partition", "dv") if k in a},
                }
            elif "remove" in a:
                live.pop(a["remove"], None)
    return live


class TestCommitProtocol:
    def test_create_append_versions(self, spark, table):
        assert txlog.create_table(_df(spark, 0, 10, "a"), table) == 0
        assert txlog.append(_df(spark, 10, 15, "b"), table) == 1
        assert txlog.committed_versions(table) == [0, 1]
        assert txlog.read_table(spark, table).count() == 15
        assert txlog.read_table(spark, table, version=0).count() == 10

    def test_create_twice_fails(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "a"), table)
        with pytest.raises(ValueError, match="already exists"):
            txlog.create_table(_df(spark, 0, 5, "a"), table)

    def test_same_version_commit_conflicts(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "a"), table)
        txlog._commit(table, 1, [])
        with pytest.raises(txlog.CommitConflict):
            txlog._commit(table, 1, [])

    def test_two_writer_append_race_both_land(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "seed"), table)
        errs: list[Exception] = []

        def writer(lo: int) -> None:
            try:
                txlog.append(_df(spark, lo, lo + 100, f"w{lo}"), table)
            except Exception as e:  # pragma: no cover - failure detail
                errs.append(e)

        ts = [threading.Thread(target=writer, args=(lo,)) for lo in (1000, 2000)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs
        # both commits landed at distinct versions and all rows read back
        assert txlog.committed_versions(table) == [0, 1, 2]
        got = {
            r["tag"]
            for r in txlog.read_table(spark, table).select("tag").distinct().collect()
        }
        assert got == {"seed", "w1000", "w2000"}


class TestCopyOnWrite:
    def test_delete_rewrites_only_touched_files(self, spark, table):
        # two appends with disjoint predicates → the delete must carry
        # the untouched append's files BY REFERENCE (same file names)
        txlog.create_table(_df(spark, 0, 50, "keep"), table)
        txlog.append(_df(spark, 100, 150, "drop"), table)
        before = set(txlog.live_files(table))
        keep_files = {
            f
            for f in before
            # provenance: which live files hold only 'keep' rows
            if spark.read.parquet(os.path.join(table, f))
            .filter(F.col("tag") == "drop")
            .count()
            == 0
        }
        assert keep_files, "fixture must produce at least one untouched file"
        txlog.delete_where(spark, table, F.col("tag") == "drop")
        after = set(txlog.live_files(table))
        assert keep_files <= after, "untouched files must carry by reference"
        assert txlog.read_table(spark, table).count() == 50
        assert (
            txlog.read_table(spark, table)
            .filter(F.col("tag") == "drop")
            .count()
            == 0
        )

    def test_snapshot_isolation_under_delete(self, spark, table):
        txlog.create_table(_df(spark, 0, 30, "a"), table)
        v1 = txlog.append(_df(spark, 30, 60, "b"), table)
        txlog.delete_where(spark, table, F.col("id") % 2 == 0)
        # the pre-delete snapshot still reads complete
        assert txlog.read_table(spark, table, version=v1).count() == 60
        assert txlog.read_table(spark, table).count() == 30

    def test_delete_null_predicate_rows_survive(self, spark, table):
        # SQL DELETE drops rows whose predicate IS TRUE; NULL-valued
        # predicates keep the row — including inside a rewritten file
        # (the 3VL trap: plain ~cond is NULL there and drops the row)
        df = spark.createDataFrame(
            [(1, "x"), (2, "y"), (3, None)], "id long, tag string"
        ).coalesce(1)  # force all rows into ONE rewritten file
        txlog.create_table(df, table)
        txlog.delete_where(spark, table, F.col("tag") == "x")
        rows = sorted(
            (r["id"], r["tag"])
            for r in txlog.read_table(spark, table).collect()
        )
        assert rows == [(2, "y"), (3, None)]

    def test_delete_no_matches_is_cheap_noop_commit(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        v = txlog.delete_where(spark, table, F.col("id") > 999)
        with open(
            os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")
        ) as f:
            manifest = json.load(f)
        assert manifest["actions"] == []
        assert txlog.read_table(spark, table).count() == 10


class TestMerge:
    def test_merge_semantics_update_insert_passthrough(self, spark, table):
        txlog.create_table(_df(spark, 0, 20, "old"), table)
        updates = spark.createDataFrame(
            [(5, "upd"), (15, "upd"), (100, "ins")], "id long, tag string"
        )
        txlog.merge_upsert(spark, table, updates, ["id"])
        rows = {r["id"]: r["tag"] for r in txlog.read_table(spark, table).collect()}
        assert len(rows) == 21
        assert rows[5] == "upd" and rows[15] == "upd" and rows[100] == "ins"
        assert rows[0] == "old" and rows[19] == "old"

    def test_merge_null_in_update_wins(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "old"), table)
        updates = spark.createDataFrame(
            [(2, None)], "id long, tag string"
        )
        txlog.merge_upsert(spark, table, updates, ["id"])
        rows = {r["id"]: r["tag"] for r in txlog.read_table(spark, table).collect()}
        assert rows[2] is None and rows[1] == "old"

    def test_merge_rewrites_only_files_with_matched_keys(self, spark, table):
        # key-range-split appends: updates touch only range B → range
        # A's files must carry by reference (exact same names)
        txlog.create_table(_df(spark, 0, 50, "A"), table)
        txlog.append(_df(spark, 1000, 1050, "B"), table)
        before = set(txlog.live_files(table))
        a_files = {
            f
            for f in before
            if spark.read.parquet(os.path.join(table, f))
            .filter(F.col("id") >= 1000)
            .count()
            == 0
        }
        assert a_files, "fixture must isolate range A in its own files"
        updates = spark.createDataFrame(
            [(1005, "upd"), (1010, "upd")], "id long, tag string"
        )
        txlog.merge_upsert(spark, table, updates, ["id"])
        after = set(txlog.live_files(table))
        assert a_files <= after, "untouched range A files must survive"
        rows = {r["id"]: r["tag"] for r in txlog.read_table(spark, table).collect()}
        assert rows[1005] == "upd" and rows[1010] == "upd"
        assert len(rows) == 100

    def test_merge_is_one_commit_and_time_travels(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "old"), table)
        base = txlog.committed_versions(table)[-1]
        updates = spark.createDataFrame([(3, "upd")], "id long, tag string")
        v = txlog.merge_upsert(spark, table, updates, ["id"])
        assert v == base + 1
        pre = {r["id"]: r["tag"] for r in
               txlog.read_table(spark, table, version=base).collect()}
        assert pre[3] == "old"  # snapshot isolation across the MERGE


class TestDataSkipping:
    def test_manifest_stats_cover_columns(self, spark, table):
        txlog.create_table(
            spark.range(0, 100).select(
                "id", (F.col("id") * 2).alias("v"), F.lit("t").alias("s")
            ),
            table,
        )
        infos = list(txlog.live_file_stats(table).values())
        assert all("id" in i["stats"] and "v" in i["stats"] for i in infos)
        # files partition the range; their stats union must cover it
        assert min(i["stats"]["id"][0] for i in infos) == 0
        assert max(i["stats"]["id"][1] for i in infos) == 99

    def test_clustered_table_prunes_and_matches_full_scan(self, spark, table):
        df = spark.range(0, 10_000).select(
            "id", (F.col("id") % 97).alias("grp")
        )
        txlog.create_table(df, table, cluster_by="id")
        n_files = len(txlog.live_files(table))
        assert n_files > 4, "range clustering must split into many files"
        kept, pruned = txlog.skipped_files(table, {"id": (2000, 2499)})
        assert pruned, "a narrow range must prune most files"
        assert len(kept) <= max(2, n_files // 4)
        # pruned scan + filter == full scan + filter, row for row
        bounds = (F.col("id") >= 2000) & (F.col("id") <= 2499)
        a = sorted(
            map(
                tuple,
                txlog.read_table(spark, table, skip_where={"id": (2000, 2499)})
                .filter(bounds)
                .collect(),
            )
        )
        b = sorted(
            map(tuple, txlog.read_table(spark, table).filter(bounds).collect())
        )
        assert a == b and len(a) == 500
        # provenance: the pruned read really opened only the kept files
        opened = {
            os.path.basename(r["f"])
            for r in txlog.read_table(
                spark, table, skip_where={"id": (2000, 2499)}
            )
            .select(
                F.element_at(
                    F.split(F.input_file_name(), "/"), -1
                ).alias("f")
            )
            .distinct()
            .collect()
        }
        assert opened <= set(kept)

    def test_unclustered_column_is_kept_conservatively(self, spark, table):
        # grp is uncorrelated with the id clustering → every file's
        # grp range spans [0, 96] and nothing can prune; correctness
        # must hold anyway (skipping is conservative, never lossy)
        df = spark.range(0, 5_000).select("id", (F.col("id") % 97).alias("grp"))
        txlog.create_table(df, table, cluster_by="id")
        kept, pruned = txlog.skipped_files(table, {"grp": (10, 11)})
        assert not pruned
        got = (
            txlog.read_table(spark, table, skip_where={"grp": (10, 11)})
            .filter((F.col("grp") >= 10) & (F.col("grp") <= 11))
            .count()
        )
        assert got == 104  # 52 ids per grp value x 2

    def test_all_files_pruned_yields_empty_with_schema(self, spark, table):
        txlog.create_table(
            spark.range(0, 100).select("id"), table, cluster_by="id"
        )
        out = txlog.read_table(spark, table, skip_where={"id": (10**9, None)})
        assert out.columns == ["id"] and out.count() == 0

    def test_timestamp_stats_present_and_prune(self, spark, table):
        # Spark's default INT96 parquet timestamps carry NO footer
        # stats — _stage_data must write TIMESTAMP_MICROS or date
        # ranges silently never prune (the x36 regression this round)
        df = spark.range(0, 1000).selectExpr(
            "id", "timestamp_seconds(800000000 + id * 3600) AS ts"
        )
        txlog.create_table(df, table, cluster_by="ts", cluster_files=8)
        infos = txlog.live_file_stats(table).values()
        assert all("ts" in i["stats"] for i in infos)
        kept, pruned = txlog.skipped_files(
            table, {"ts": ("1995-06-01", "1995-06-10")}
        )
        assert pruned and len(kept) <= 3

    def test_zorder_compact_prunes_on_both_dims(self, spark, table):
        # two anti-correlated dims: a linear sort on `a` would leave
        # every file spanning all of `b`; the Morton layout must give
        # nonzero pruning on BOTH from one rewrite
        df = spark.range(0, 20_000).select(
            F.col("id").alias("a"), (19_999 - F.col("id")).alias("b")
        )
        txlog.create_table(df, table)
        v = txlog.compact(
            spark, table, zorder_by=["a", "b"], zorder_files=16,
            target_bytes=1,
        )
        assert v is not None
        for col in ("a", "b"):
            kept, pruned = txlog.skipped_files(table, {col: (4000, 4999)})
            assert pruned, f"no pruning on {col}"
            got = (
                txlog.read_table(spark, table, skip_where={col: (4000, 4999)})
                .filter((F.col(col) >= 4000) & (F.col(col) <= 4999))
                .count()
            )
            assert got == 1000
        # the rewrite is one commit and CDF-invisible
        feed = txlog.change_feed(spark, table, from_version=v - 1)
        assert feed.count() == 0

    def test_skipping_survives_dml(self, spark, table):
        # stats must stay correct through append/delete rewrites
        txlog.create_table(
            spark.range(0, 1000).select("id"), table, cluster_by="id"
        )
        txlog.append(
            spark.range(5000, 6000).select("id"), table, cluster_by="id"
        )
        txlog.delete_where(spark, table, F.col("id") % 2 == 1)
        kept, pruned = txlog.skipped_files(table, {"id": (5000, 5099)})
        assert pruned, "old-range files must prune after DML"
        got = (
            txlog.read_table(spark, table, skip_where={"id": (5000, 5099)})
            .filter((F.col("id") >= 5000) & (F.col("id") <= 5099))
            .count()
        )
        assert got == 50  # evens only
        # the rewrite keeps each file's rows together: no file holds
        # ids of both ranges
        old, _ = txlog.skipped_files(table, {"id": (0, 999)})
        new, _ = txlog.skipped_files(table, {"id": (5000, 5999)})
        assert not set(old) & set(new)

    @pytest.mark.parametrize("op", ["merge_into", "merge_upsert"])
    def test_skipping_survives_merge(self, spark, table, op):
        # a merge touching files of both ranges rewrites each touched
        # file on its own, like a delete does
        def frame(lo, hi, step, v):
            return spark.range(lo, hi, step).select(
                "id", F.lit(v).cast("long").alias("v")
            )

        txlog.create_table(frame(0, 1000, 1, 0), table, cluster_by="id")
        txlog.append(frame(5000, 6000, 1, 0), table, cluster_by="id")
        # odd ids of both ranges; no source partition spans both
        src = frame(1, 1000, 2, 1).union(frame(5001, 6000, 2, 1))
        if op == "merge_into":
            txlog.merge_into(
                spark, table, src, ["id"],
                clauses=[
                    {"when": "matched", "action": "update",
                     "set": {"v": "s.v"}},
                ],
            )
        else:
            txlog.merge_upsert(spark, table, src, ["id"])
        got = txlog.read_table(spark, table).groupBy("v").count()
        assert sorted(map(tuple, got.collect())) == [(0, 1000), (1, 1000)]
        old, _ = txlog.skipped_files(table, {"id": (0, 999)})
        new, _ = txlog.skipped_files(table, {"id": (5000, 5999)})
        assert not set(old) & set(new)


class TestChangeFeed:
    def test_append_and_delete_changes_surface_exactly(self, spark, table):
        txlog.create_table(_df(spark, 0, 30, "a"), table)
        txlog.append(_df(spark, 30, 40, "b"), table)  # v1
        txlog.delete_where(spark, table, F.col("id") < 5)  # v2 (CoW)
        feed = txlog.change_feed(spark, table, from_version=0).collect()
        got = {(r["_version"], r["_change"], r["id"]) for r in feed}
        want = {(1, "insert", i) for i in range(30, 40)} | {
            (2, "delete", i) for i in range(5)
        }
        # the delete's carried-over survivors (ids 5..29 rewritten
        # into new files) must CANCEL, never appear as churn
        assert got == want

    def test_merge_shows_delete_plus_insert(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "old"), table)
        updates = spark.createDataFrame([(3, "upd")], "id long, tag string")
        txlog.merge_upsert(spark, table, updates, ["id"])
        feed = txlog.change_feed(spark, table, from_version=0).collect()
        got = {(r["_change"], r["id"], r["tag"]) for r in feed}
        assert got == {("delete", 3, "old"), ("insert", 3, "upd")}

    def test_upsert_of_an_equal_row_shows_delete_plus_insert(
        self, spark, table
    ):
        """A replaced row is a delete and its update row an insert,
        even when both are equal — the pair UPDATE and merge_into
        show too."""
        txlog.create_table(_df(spark, 0, 3, "old"), table)
        same = spark.createDataFrame([(1, "old")], "id long, tag string")
        txlog.merge_upsert(spark, table, same, ["id"])
        feed = txlog.change_feed(spark, table, from_version=0).collect()
        assert sorted((r["_change"], r["id"], r["tag"]) for r in feed) == [
            ("delete", 1, "old"), ("insert", 1, "old"),
        ]
        assert _rows(txlog.read_table(spark, table)) == [
            (0, "old"), (1, "old"), (2, "old"),
        ]

    def test_compaction_is_cdf_invisible(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        for v in range(1, 4):
            txlog.append(_df(spark, v * 10, v * 10 + 10, "a"), table)
        base = txlog.committed_versions(table)[-1]
        assert txlog.compact(spark, table, target_bytes=64 * 1024 * 1024)
        feed = txlog.change_feed(spark, table, from_version=base)
        assert feed.count() == 0  # a pure rewrite is not a change

    def test_incremental_consumer_sees_each_batch_once(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        seen: set[int] = set()
        last = 0
        for lo in (100, 200):
            txlog.append(_df(spark, lo, lo + 10, "inc"), table)
            newest = txlog.committed_versions(table)[-1]
            rows = txlog.change_feed(
                spark, table, from_version=last, to_version=newest
            ).collect()
            assert all(r["_change"] == "insert" for r in rows)
            ids = {r["id"] for r in rows}
            assert not (ids & seen)
            seen |= ids
            last = newest
        assert seen == set(range(100, 110)) | set(range(200, 210))


class TestMaintenance:
    def test_vacuum_drops_unreachable_keeps_retained(self, spark, table):
        txlog.create_table(_df(spark, 0, 40, "a"), table)
        txlog.append(_df(spark, 40, 80, "b"), table)
        txlog.delete_where(spark, table, F.col("tag") == "a")  # v2
        txlog.delete_where(spark, table, F.col("id") % 2 == 0)  # v3
        removed = txlog.vacuum(table, keep_versions=2, retention_seconds=0)
        # v0's files (all 'a') are unreachable from v2/v3 → removed
        assert removed
        for v in (2, 3):
            txlog.read_table(spark, table, version=v).count()  # still reads
        with pytest.raises(Exception):
            # v1 references vacuumed files — reading it now fails loudly
            txlog.read_table(spark, table, version=1).count()

    def test_schema_evolution_across_commits(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "a"), table)
        txlog.append(
            spark.range(5, 8).select(
                "id", F.lit("b").alias("tag"), F.lit(1.5).alias("score")
            ),
            table,
        )
        rows = {
            r["id"]: r for r in txlog.read_table(spark, table).collect()
        }
        assert rows[0]["score"] is None  # old files NULL-fill
        assert rows[6]["score"] == 1.5

    def test_manifest_rows_match_footers(self, spark, table):
        txlog.create_table(_df(spark, 0, 25, "a"), table)
        assert sum(txlog.live_files(table).values()) == 25

    def test_checkpoint_fold_equals_full_fold(self, spark, table, monkeypatch):
        # tight interval so the test crosses two checkpoint boundaries
        monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 3)
        txlog.create_table(_df(spark, 0, 5, "v0"), table)
        for v in range(1, 8):
            txlog.append(_df(spark, v * 10, v * 10 + 5, f"v{v}"), table)
        assert os.path.exists(txlog._checkpoint_path(table, 3))
        assert os.path.exists(txlog._checkpoint_path(table, 6))
        # checkpointed resolution must equal the raw manifest fold at
        # EVERY version (pre-, at-, and post-checkpoint)
        for v in range(8):
            assert txlog.live_file_stats(
                table, version=v
            ) == _reference_fold(table, v), v
        assert txlog.read_table(spark, table).count() == 40

    def test_checkpoint_loss_is_harmless(self, spark, table, monkeypatch):
        monkeypatch.setattr(txlog, "CHECKPOINT_INTERVAL", 2)
        txlog.create_table(_df(spark, 0, 5, "a"), table)
        for v in range(1, 5):
            txlog.append(_df(spark, v * 10, v * 10 + 5, f"v{v}"), table)
        before = txlog.live_files(table)
        for v in (2, 4):
            os.unlink(txlog._checkpoint_path(table, v))
        assert txlog.live_files(table) == before  # falls back to raw fold


class TestCompaction:
    def test_compact_merges_small_files_one_commit(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        for v in range(1, 6):
            txlog.append(_df(spark, v * 100, v * 100 + 10, f"v{v}"), table)
        base = txlog.committed_versions(table)[-1]
        n_before = len(txlog.live_files(table))
        rows_before = sorted(
            map(tuple, txlog.read_table(spark, table).collect())
        )
        v = txlog.compact(spark, table, target_bytes=64 * 1024 * 1024)
        assert v == base + 1  # exactly one commit
        assert len(txlog.live_files(table)) < n_before
        assert (
            sorted(map(tuple, txlog.read_table(spark, table).collect()))
            == rows_before
        )
        # time travel past the OPTIMIZE still sees the small files
        assert len(txlog.live_files(table, version=base)) == n_before

    def test_compact_noop_when_nothing_qualifies(self, spark, table):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        assert txlog.compact(spark, table, target_bytes=1) is None

    def test_compaction_repeats_byte_for_byte(self, spark, tmp_path):
        """Compaction bins and reads the live files in commit order, so
        a repeated history compacts to the same bytes: 16 five-row
        files, most of equal size, whose random names must not pick
        the row order of the rewrite."""
        import hashlib

        def history(path) -> tuple:
            def rows(lo):
                return spark.range(lo, lo + 40, numPartitions=8).select(
                    F.col("id").alias("k"),
                    F.when(F.floor(F.col("id") / 10) % 2 == 0, "even")
                    .otherwise("odd")
                    .alias("tag"),
                )

            txlog.create_table(rows(0), path)
            txlog.append(rows(40), path)
            txlog.delete_where(spark, path, F.col("k") == 3)
            txlog.compact(spark, path, target_bytes=64 * 1024 * 1024)
            digests = [
                hashlib.sha256(
                    open(os.path.join(path, f), "rb").read()
                ).hexdigest()
                for f in txlog.live_files(path)
            ]
            return txlog.describe_detail(path)["size_bytes"], digests

        first = history(str(tmp_path / "one"))
        assert len(first[1]) == 1
        assert history(str(tmp_path / "two")) == first


class TestRound8Hardening:
    """Round-8 advice fixes: schema-evolved DML, vacuum retention,
    decimal stat rounding, null-count skipping, DML metrics."""

    def _evolved(self, spark, table):
        txlog.create_table(_df(spark, 0, 5, "a"), table)  # (id, tag)
        txlog.append(
            spark.range(5, 8).select(
                "id", F.lit("b").alias("tag"), F.lit(1.5).alias("score")
            ),
            table,
        )

    def test_delete_on_evolved_table_keeps_evolved_columns(
        self, spark, table
    ):
        # the rewrite reads touched files of BOTH schemas: without
        # mergeSchema Spark picks one file's schema, and an old-schema
        # pick silently drops `score` from the rewritten files
        self._evolved(spark, table)
        txlog.delete_where(
            spark, table, F.col("id").isin(1, 6)
        )  # touches an old-schema AND a new-schema file
        rows = {r["id"]: r for r in txlog.read_table(spark, table).collect()}
        assert set(rows) == {0, 2, 3, 4, 5, 7}
        assert rows[7]["score"] == 1.5  # evolved column survived CoW
        assert rows[0]["score"] is None

    def test_delete_predicate_on_evolved_column(self, spark, table):
        # provenance scan must also schema-merge or the predicate
        # column may not even resolve
        self._evolved(spark, table)
        txlog.delete_where(spark, table, F.col("score") > 1.0)
        got = sorted(r["id"] for r in txlog.read_table(spark, table).collect())
        assert got == [0, 1, 2, 3, 4]

    def test_change_feed_mixed_schema_single_commit(self, spark, table):
        # one MERGE commit whose removes are old-schema files and whose
        # adds carry the evolved schema: the per-commit exceptAll must
        # align both sides to the union schema (typed null padding)
        self._evolved(spark, table)
        updates = spark.range(0, 2).select(
            "id", F.lit("upd").alias("tag"), F.lit(9.9).alias("score")
        )
        v = txlog.merge_upsert(spark, table, updates, ["id"])
        feed = txlog.change_feed(spark, table, from_version=v - 1).collect()
        ins = {r["id"]: r for r in feed if r["_change"] == "insert"}
        dels = {r["id"]: r for r in feed if r["_change"] == "delete"}
        assert ins[0]["score"] == 9.9 and ins[0]["tag"] == "upd"
        assert dels[0]["tag"] == "a" and dels[0]["score"] is None
        assert set(dels) == {0, 1}

    def test_append_non_table_raises_value_error(self, spark, table):
        with pytest.raises(ValueError, match="not a txlog table"):
            txlog.append(_df(spark, 0, 5, "a"), table)

    def test_vacuum_retention_protects_young_files(self, spark, table):
        txlog.create_table(_df(spark, 0, 40, "a"), table)
        txlog.delete_where(spark, table, F.col("id") < 100)  # all rows
        # the freshly-unreachable files are seconds old: the default
        # retention window must NOT touch them (an in-flight writer's
        # staged files look exactly like this)
        assert txlog.vacuum(table, keep_versions=1) == []
        removed = txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        assert removed  # explicit zero-retention removes them

    def test_vacuum_never_touches_staged_files_of_inflight_writer(
        self, spark, table
    ):
        txlog.create_table(_df(spark, 0, 10, "a"), table)
        txlog.append(_df(spark, 10, 20, "b"), table)
        # simulate a writer that staged data but has not committed yet
        staged = [f for f, *_ in txlog._stage_data(_df(spark, 50, 60, "w"), table)]
        txlog.vacuum(table, keep_versions=1)  # default retention
        for f in staged:
            assert os.path.exists(os.path.join(table, f))

    def test_decimal_stats_round_outward(self, spark, table):
        # float() on Decimal rounds to NEAREST: a stored max below the
        # true max would prune a file holding the boundary row; stats
        # must widen outward so [lo, hi] is a superset of the truth
        df = spark.range(0, 1).select(
            F.lit("1.00000000000000000001").cast("decimal(38,20)").alias("d")
        )
        txlog.create_table(df, table)
        ((_, info),) = txlog.live_file_stats(table).items()
        lo, hi = info["stats"]["d"]
        assert lo < 1.0 < hi  # strictly outward of the rounded value
        kept, pruned = txlog.skipped_files(table, {"d": (1.0, None)})
        assert kept and not pruned  # boundary file survives

    def test_null_count_skipping(self, spark, table):
        # v0: score all NULL; v1: score never NULL — IS NULL prunes the
        # v1 files, IS NOT NULL prunes the v0 files, from manifest
        # null counts alone (no file opened)
        txlog.create_table(
            spark.range(0, 10).select(
                "id", F.lit(None).cast("double").alias("score")
            ),
            table,
        )
        v0_files = set(txlog.live_files(table))
        txlog.append(
            spark.range(10, 20).select(
                "id", (F.col("id") * 1.0).alias("score")
            ),
            table,
        )
        all_files = set(txlog.live_files(table))
        v1_files = all_files - v0_files
        kept, pruned = txlog.skipped_files(table, {"score": "is_null"})
        assert set(kept) == v0_files and set(pruned) == v1_files
        kept, pruned = txlog.skipped_files(table, {"score": "is_not_null"})
        assert set(kept) == v1_files and set(pruned) == v0_files
        # skipping is an I/O optimization, never a semantic change
        full = sorted(
            r["id"]
            for r in txlog.read_table(spark, table)
            .filter(F.col("score").isNotNull())
            .collect()
        )
        skipped = sorted(
            r["id"]
            for r in txlog.read_table(
                spark, table, skip_where={"score": "is_not_null"}
            )
            .filter(F.col("score").isNotNull())
            .collect()
        )
        assert full == skipped == list(range(10, 20))

    def test_dml_commit_metrics(self, spark, table):
        txlog.create_table(
            spark.range(0, 100)
            .select("id", F.lit("a").alias("tag"))
            .repartition(4),
            table,
        )
        # round 9: create/append stamp metrics too (table_history
        # needs per-commit op + row counts without deriving them)
        m0 = txlog.commit_metrics(table, 0)
        assert m0["op"] == "create" and m0["rows_written"] == 100
        n_files = len(txlog.live_files(table))
        v = txlog.delete_where(spark, table, F.col("id") < 10)
        m = txlog.commit_metrics(table, v)
        assert m["op"] == "delete"
        assert m["rows_deleted"] == 10
        assert m["files_removed"] + m["files_carried"] == n_files
        # post-delete live rows = 90 = carried rows + rewritten rows
        carried_rows = sum(
            txlog.live_files(table, version=0).values()
        ) - (m["rows_deleted"] + m["rows_rewritten"])
        assert carried_rows + m["rows_rewritten"] == 90
        upd = spark.range(5, 15).select(
            "id", F.lit("upd").alias("tag")
        )
        v = txlog.merge_upsert(spark, table, upd, ["id"])
        m = txlog.commit_metrics(table, v)
        assert m["op"] == "merge"
        assert m["rows_upserted"] == 10
        assert m["rows_replaced"] == 5  # ids 10..14 existed
        v = txlog.compact(spark, table, target_bytes=64 * 1024 * 1024)
        m = txlog.commit_metrics(table, v)
        assert m["op"] == "compact"
        assert m["files_removed"] > m["files_added"]
        # only bins with >=2 files rewrite; singletons carry — rewritten
        # rows are bounded by the live total and nonzero here
        assert 0 < m["rows_rewritten"] <= 95
        # 100 created - 10 deleted - 5 replaced + 10 upserted = 95
        assert sum(txlog.live_files(table).values()) == 95

    def test_delete_everything_reads_typed_empty(self, spark, table):
        # empty part files are never staged, so a delete-all snapshot
        # has ZERO live files — the manifest-recorded schema is the
        # only carrier and the read must stay typed, not raise
        txlog.create_table(_df(spark, 0, 5, "a"), table)
        txlog.delete_where(spark, table, F.lit(True))
        out = txlog.read_table(spark, table)
        assert out.columns == ["id", "tag"] and out.count() == 0
        # and the table stays usable afterwards
        txlog.append(_df(spark, 10, 13, "b"), table)
        assert txlog.read_table(spark, table).count() == 3

    def test_create_from_empty_frame_reads_typed(self, spark, table):
        txlog.create_table(_df(spark, 0, 0, "a"), table)
        out = txlog.read_table(spark, table)
        assert out.columns == ["id", "tag"] and out.count() == 0


# ---------------------------------------------------------------------------
# The one commit loop (txlog._transact): every write after version 0
# plans against the newest version and re-plans on a lost race
# ---------------------------------------------------------------------------


def _kv(spark, lo, hi, parts=1):
    return spark.range(lo, hi, numPartitions=parts).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )


def _src(spark):
    return spark.createDataFrame([(1, 100), (20, 200)], "k long, v long")


_BASE_ROWS = [(k, k * 10) for k in range(10)]
_MERGED_ROWS = sorted(
    [(k, 100 if k == 1 else k * 10) for k in range(10)] + [(20, 200)]
)
_UPDATED_ROWS = [(k, -k * 10 if k < 3 else k * 10) for k in range(10)]
_UPSERT_CLAUSES = [
    {"when": "matched", "action": "update", "set": {"v": "s.v"}},
    {"when": "not_matched", "action": "insert"},
]

# op → (prepare, write, rows after the write); ``prepare`` runs before
# the commit patch goes in
_WRITES = {
    "append": (
        None,
        lambda s, t: txlog.append(_kv(s, 10, 12), t),
        _BASE_ROWS + [(10, 100), (11, 110)],
    ),
    "delete-cow": (
        None,
        lambda s, t: txlog.delete_where(s, t, F.col("k") < 3),
        _BASE_ROWS[3:],
    ),
    "delete-dv": (
        None,
        lambda s, t: txlog.delete_where(s, t, F.col("k") < 3, mode="dv"),
        _BASE_ROWS[3:],
    ),
    "update-cow": (
        None,
        lambda s, t: txlog.update_where(s, t, F.col("k") < 3, {"v": "-v"}),
        _UPDATED_ROWS,
    ),
    "update-dv": (
        None,
        lambda s, t: txlog.update_where(
            s, t, F.col("k") < 3, {"v": "-v"}, mode="dv"
        ),
        _UPDATED_ROWS,
    ),
    "merge-into-cow": (
        None,
        lambda s, t: txlog.merge_into(
            s, t, _src(s), ["k"], clauses=_UPSERT_CLAUSES
        ),
        _MERGED_ROWS,
    ),
    "merge-into-dv": (
        None,
        lambda s, t: txlog.merge_into(
            s, t, _src(s), ["k"], clauses=_UPSERT_CLAUSES, mode="dv"
        ),
        _MERGED_ROWS,
    ),
    "merge-upsert": (
        None,
        lambda s, t: txlog.merge_upsert(s, t, _src(s), ["k"]),
        _MERGED_ROWS,
    ),
    "restore": (
        lambda s, t: txlog.delete_where(s, t, F.col("k") < 3),
        lambda s, t: txlog.restore_table(s, t, version=0),
        _BASE_ROWS,
    ),
    "compact": (None, lambda s, t: txlog.compact(s, t), _BASE_ROWS),
    "rename-column": (
        None,
        lambda s, t: txlog.rename_column(s, t, "v", "w"),
        _BASE_ROWS,
    ),
    "drop-column": (
        None,
        lambda s, t: txlog.drop_column(s, t, "v"),
        [(k,) for k in range(10)],
    ),
    "add-constraint": (
        None,
        lambda s, t: C.add_constraint(s, t, "v_pos", "v >= 0"),
        _BASE_ROWS,
    ),
    "drop-constraint": (
        lambda s, t: C.add_constraint(s, t, "v_pos", "v >= 0"),
        lambda s, t: C.drop_constraint(s, t, "v_pos"),
        _BASE_ROWS,
    ),
    "stream-batch": (
        None,
        lambda s, t: process_txlog_batch(_kv(s, 10, 12), 7, t),
        _BASE_ROWS + [(10, 100), (11, 110)],
    ),
}


class TestCommitLoop:
    @pytest.mark.parametrize(
        "write",
        [
            lambda s, p: txlog.delete_where(s, p, F.col("k") < 3),
            lambda s, p: txlog.delete_where(s, p, F.col("k") < 3, mode="dv"),
            lambda s, p: txlog.update_where(s, p, F.col("k") < 3, {"v": "0"}),
            lambda s, p: txlog.restore_table(s, p, version=0),
            lambda s, p: txlog.compact(s, p),
            lambda s, p: txlog.rename_column(s, p, "v", "w"),
            lambda s, p: txlog.drop_column(s, p, "v"),
            lambda s, p: txlog.merge_upsert(s, p, _src(s), ["k"]),
            lambda s, p: txlog.merge_into(
                s, p, _src(s), ["k"], clauses=_UPSERT_CLAUSES
            ),
            lambda s, p: C.add_constraint(s, p, "c", "v > 0"),
            lambda s, p: C.drop_constraint(s, p, "c"),
        ],
        ids=[
            "delete-cow", "delete-dv", "update", "restore", "compact",
            "rename-column", "drop-column", "merge-upsert", "merge-into",
            "add-constraint", "drop-constraint",
        ],
    )
    def test_write_to_empty_directory_is_not_a_table(
        self, spark, tmp_path, write
    ):
        with pytest.raises(ValueError, match="not a txlog table"):
            write(spark, str(tmp_path))
        assert os.listdir(tmp_path) == []  # nothing staged or committed

    @pytest.mark.parametrize("op", sorted(_WRITES))
    def test_lost_race_replans_at_new_head(
        self, spark, table, monkeypatch, op
    ):
        prepare, write, expected = _WRITES[op]
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        if prepare is not None:
            prepare(spark, table)
        base = txlog.committed_versions(table)[-1]
        orig = txlog._commit
        attempts = []

        def lose_first(path, version, actions, extra=None):
            attempts.append(version)
            if len(attempts) == 1:
                # a real concurrent winner takes this version first
                orig(path, version, [])
                raise txlog.CommitConflict("simulated lost race")
            return orig(path, version, actions, extra=extra)

        monkeypatch.setattr(txlog, "_commit", lose_first)
        assert write(spark, table) == base + 2
        assert attempts == [base + 1, base + 2]
        got = sorted(
            tuple(r) for r in txlog.read_table(spark, table).collect()
        )
        assert got == sorted(expected)

    @pytest.mark.parametrize(
        "op, name",
        [
            ("append", "append"),
            ("delete-cow", "delete"),
            ("rename-column", "rename"),
            ("add-constraint", "add-constraint"),
            ("stream-batch", r"stream-append \(batch 7\)"),
        ],
    )
    def test_always_losing_gives_up_after_five_attempts(
        self, spark, table, monkeypatch, op, name
    ):
        write = _WRITES[op][1]
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        before = txlog.committed_versions(table)
        attempts = []

        def always_lose(path, version, actions, extra=None):
            attempts.append(version)
            raise txlog.CommitConflict("simulated lost race")

        monkeypatch.setattr(txlog, "_commit", always_lose)
        with pytest.raises(
            txlog.CommitConflict, match=f"lost 5 {name} races on {table}$"
        ):
            write(spark, table)
        assert attempts == [before[-1] + 1] * 5
        assert txlog.committed_versions(table) == before

    def test_commit_protocol_is_owned_by_txlog(self):
        """Only ``_transact`` and the two version-0 creates publish a
        manifest; no other module reaches the commit primitives."""
        import ast
        import pathlib

        import onechronos_etl_takehome_spark as pkg

        owners = {"_transact", "create_table", "shallow_clone"}
        primitives = {"_commit", "_maybe_checkpoint"}

        def uses(tree) -> bool:
            return any(
                (isinstance(n, ast.Attribute) and n.attr in primitives)
                or (isinstance(n, ast.Name) and n.id in primitives)
                or (isinstance(n, ast.alias) and n.name in primitives)
                for n in ast.walk(tree)
            )

        root = pathlib.Path(pkg.__file__).parent
        offenders = []
        for src in sorted(root.rglob("*.py")):
            rel = src.relative_to(root).as_posix()
            tree = ast.parse(src.read_text())
            if rel != "sources/txlog.py":
                offenders += [rel] if uses(tree) else []
                continue
            offenders += [
                f"{rel}::{fn.name}"
                for fn in tree.body
                if isinstance(fn, ast.FunctionDef)
                and fn.name not in owners | primitives
                and uses(fn)
            ]
        assert offenders == []

    def test_dml_steps_belong_to_the_one_planner(self):
        """``_touched_files``, ``_per_file_scan`` and
        ``_dv_mask_actions`` each have one caller, ``_dml_plan``: every
        DELETE, UPDATE and MERGE, in both modes, plans through it."""
        import ast
        import pathlib

        import onechronos_etl_takehome_spark as pkg

        steps = {"_touched_files", "_per_file_scan", "_dv_mask_actions"}
        root = pathlib.Path(pkg.__file__).parent
        callers: dict[str, set] = {name: set() for name in steps}
        for src in sorted(root.rglob("*.py")):
            rel = src.relative_to(root).as_posix()
            for top in ast.parse(src.read_text()).body:
                for n in ast.walk(top):
                    name = (
                        n.id if isinstance(n, ast.Name)
                        else n.attr if isinstance(n, ast.Attribute)
                        else None
                    )
                    if name in steps:
                        callers[name].add(
                            f"{rel}::{getattr(top, 'name', '<module>')}"
                        )
        assert callers == {
            name: {"sources/txlog.py::_dml_plan"} for name in steps
        }

    def test_log_layout_is_owned_by_txlog(self):
        """Only ``sources/txlog.py`` knows where manifests live: no
        other module names the log directory or its path helpers or
        formats a ``:08d`` version file name, and no function outside
        it ``json.load``s the files of a version walk — they go through
        ``_manifest``/``_manifests``/``_replace_manifest``."""
        import ast
        import pathlib

        import onechronos_etl_takehome_spark as pkg

        layout = {"_LOG_DIR", "_log_path", "_checkpoint_path"}

        def named(n, names) -> bool:
            return (
                (isinstance(n, ast.Attribute) and n.attr in names)
                or (isinstance(n, ast.Name) and n.id in names)
                or (isinstance(n, ast.alias) and n.name in names)
            )

        def knows_layout(n) -> bool:
            return (
                named(n, layout)
                or (isinstance(n, ast.Constant) and n.value == "_txlog")
                or (
                    isinstance(n, ast.FormattedValue)
                    and n.format_spec is not None
                    and "08d" in ast.unparse(n.format_spec)
                )
            )

        def json_load(n) -> bool:
            return isinstance(n, ast.Call) and ast.unparse(n.func) in (
                "json.load", "load",
            )

        root = pathlib.Path(pkg.__file__).parent
        offenders = []
        for src in sorted(root.rglob("*.py")):
            rel = src.relative_to(root).as_posix()
            if rel == "sources/txlog.py":
                continue
            tree = ast.parse(src.read_text())
            if any(map(knows_layout, ast.walk(tree))):
                offenders.append(rel)
            offenders += [
                f"{rel}::{fn.name}"
                for fn in ast.walk(tree)
                if isinstance(fn, ast.FunctionDef)
                and any(map(json_load, ast.walk(fn)))
                and any(named(n, {"committed_versions"}) for n in ast.walk(fn))
            ]
        assert offenders == []

    def test_repeat_constraint_lookup_reads_no_manifest(
        self, spark, table, monkeypatch
    ):
        """``table_constraints`` is the cached carry-forward fold: on an
        unchanged table a repeat lookup opens no manifest."""
        txlog.create_table(_kv(spark, 0, 10), table)
        C.add_constraint(spark, table, "k_nonneg", "k >= 0")
        for _ in range(28):  # commits that carry no constraints field
            txlog._transact(table, "no-op", lambda base: ([], None))
        assert len(txlog.committed_versions(table)) == 30
        assert C.table_constraints(table) == {"k_nonneg": "k >= 0"}
        reads = []
        manifest = txlog._manifest

        def counted(path, version):
            reads.append(version)
            return manifest(path, version)

        monkeypatch.setattr(txlog, "_manifest", counted)
        assert C.table_constraints(table) == {"k_nonneg": "k >= 0"}
        assert reads == []
        C.drop_constraint(spark, table, "k_nonneg")  # a new head: re-fold
        assert C.table_constraints(table) == {}
        assert C.table_constraints(table, version=29) == {"k_nonneg": "k >= 0"}


# ---------------------------------------------------------------------------
# Schemas from the log: reads take the manifest's physical schema instead
# of inferring one from parquet footers (one job per read)
# ---------------------------------------------------------------------------


def _jobs_started_by(spark, build) -> int:
    """Spark jobs started while ``build()`` runs, as the ids above the
    prior high-water mark (the status tracker evicts old ids, so list
    lengths are no measure). The listener bus is drained first so a
    job that ran is counted."""
    for q in spark.streams.active:
        q.stop()
    sc = spark.sparkContext._jsc.sc()
    tracker = spark.sparkContext.statusTracker()
    sc.listenerBus().waitUntilEmpty()
    ids = tracker.getJobIdsForGroup(None)
    high = max(ids) if ids else -1
    build()
    sc.listenerBus().waitUntilEmpty()
    return sum(1 for j in tracker.getJobIdsForGroup(None) if j > high)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _names_types(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


def _files_under(path):
    return sorted(
        os.path.relpath(os.path.join(d, f), path)
        for d, _, fs in os.walk(path)
        for f in fs
    )


class TestSchemaFromLog:
    def _dml_history(self, spark, table):
        """v0 two files, v1 merge (cow), v2 whole-file delete (a
        remove-only commit, read back through the derived diff), v3
        partial delete (cow, change files), v4 DV delete."""
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        txlog.merge_into(
            spark, table, _src(spark), ["k"], clauses=_UPSERT_CLAUSES
        )
        txlog.delete_where(spark, table, (F.col("k") >= 5) & (F.col("k") < 10))
        txlog.delete_where(spark, table, F.col("k") == 0)
        txlog.delete_where(spark, table, F.col("k") == 3, mode="dv")

    def test_table_history_starts_no_job(self, spark, table):
        """The history is a local relation: neither building it nor
        collecting it runs a job (a frame from a Python list is an RDD
        scan, one job per action)."""
        self._dml_history(spark, table)
        assert _jobs_started_by(
            spark, lambda: txlog.table_history(spark, table).collect()
        ) == 0
        hist = txlog.table_history(spark, table)
        assert _names_types(hist) == [
            ("version", "bigint"), ("ts", "timestamp"), ("op", "string"),
            ("files_added", "bigint"), ("files_removed", "bigint"),
            ("rows_written", "bigint"), ("rows_deleted", "bigint"),
            ("batch_id", "bigint"),
        ]
        import datetime

        epoch = datetime.datetime.fromtimestamp(0, datetime.timezone.utc)
        log = os.path.join(table, txlog._LOG_DIR)
        micros = {}
        for v in txlog.committed_versions(table):
            with open(os.path.join(log, f"{v:08d}.json")) as f:
                at = datetime.datetime.fromtimestamp(
                    json.load(f)["ts"], datetime.timezone.utc
                )
            micros[v] = (at - epoch) // datetime.timedelta(microseconds=1)
        got = hist.select("version", F.unix_micros("ts"), "op").collect()
        assert [tuple(r) for r in got] == [
            (v, micros[v], op)
            for v, op in [
                (4, "delete-dv"), (3, "delete"), (2, "delete"),
                (1, "merge-into"), (0, "create"),
            ]
        ]

    def test_building_reads_starts_no_job(self, spark, table):
        self._dml_history(spark, table)
        head = txlog.committed_versions(table)[-1]
        assert txlog.commit_metrics(table, 2)["files_added"] == 0
        # past 32 paths Spark would list the files with a job
        wide = table + "_wide"
        txlog.create_table(_kv(spark, 0, 80, parts=40), wide)
        txlog.append(_kv(spark, 80, 160, parts=40), wide)
        txlog.delete_where(spark, wide, F.col("k") % 2 == 0, mode="dv")
        assert len(txlog.live_files(wide)) == 80
        builders = {
            "read_table": lambda: txlog.read_table(spark, table),
            "read_table_where": lambda: txlog.read_table(
                spark, table, where="k > 2"
            ),
            "read_table_version": lambda: txlog.read_table(
                spark, table, version=1
            ),
            "change_feed": lambda: txlog.change_feed(
                spark, table, from_version=0
            ),
            "provenance_view": lambda: txlog._provenance_view(
                spark, table, txlog.live_files(table), head, with_pos=True
            ),
            "read_table_80_files": lambda: txlog.read_table(spark, wide),
            "change_feed_80_files": lambda: txlog.change_feed(
                spark, wide, from_version=0
            ),
            "provenance_view_80_files": lambda: txlog._provenance_view(
                spark, wide, txlog.live_files(wide), 2, with_pos=True
            ),
        }
        started = {
            name: _jobs_started_by(spark, build)
            for name, build in builders.items()
        }
        assert started == {name: 0 for name in builders}
        # and the frames are right
        assert _rows(txlog.read_table(spark, table)) == [
            (1, 100), (2, 20), (4, 40), (20, 200),
        ]
        feed = txlog.change_feed(spark, table, from_version=0)
        assert feed.columns == ["_version", "_change", "k", "v"]
        assert sorted(
            (r["_version"], r["_change"], r["k"]) for r in feed.collect()
        ) == sorted(
            [(1, "delete", 1), (1, "insert", 1), (1, "insert", 20)]
            + [(2, "delete", k) for k in range(5, 10)]
            + [(3, "delete", 0), (4, "delete", 3)]
        )

    def test_added_column_null_fills_old_files(self, spark, table):
        txlog.create_table(_kv(spark, 0, 3), table)
        txlog.append(
            spark.createDataFrame([(7, 70, "x")], "k long, v long, w string"),
            table,
        )
        df = txlog.read_table(spark, table)
        assert _names_types(df) == [
            ("k", "bigint"), ("v", "bigint"), ("w", "string"),
        ]
        assert _rows(df) == [
            (0, 0, None), (1, 10, None), (2, 20, None), (7, 70, "x"),
        ]
        # a where-pruned read keeps the same columns
        assert _rows(txlog.read_table(spark, table, where="k < 1")) == [
            (0, 0, None)
        ]
        # time travel reads the schema of its own version
        assert _names_types(txlog.read_table(spark, table, version=0)) == [
            ("k", "bigint"), ("v", "bigint"),
        ]

    def test_rename_then_drop_keeps_tombstone_hidden(self, spark, table):
        txlog.create_table(
            spark.createDataFrame(
                [(1, 10, "a"), (2, 20, "b")], "k long, v long, w string"
            ),
            table,
        )
        txlog.rename_column(spark, table, "v", "x")
        txlog.drop_column(spark, table, "w")
        txlog.append(
            spark.createDataFrame([(3, 30)], "k long, x long"), table
        )
        df = txlog.read_table(spark, table)
        assert _names_types(df) == [("k", "bigint"), ("x", "bigint")]
        assert _rows(df) == [(1, 10), (2, 20), (3, 30)]
        head = txlog.committed_versions(table)[-1]
        prov = txlog._provenance_view(
            spark, table, txlog.live_files(table), head
        )
        assert prov.columns == ["_txb", "k", "x"]
        # before the drop the column is still there, under its new name
        assert _rows(txlog.read_table(spark, table, version=1)) == [
            (1, 10, "a"), (2, 20, "b"),
        ]
        # a CoW rewrite after the DDL round-trips through the mapping
        txlog.delete_where(spark, table, F.col("x") == 20)
        assert _rows(txlog.read_table(spark, table)) == [(1, 10), (3, 30)]

    def test_partitioned_table_and_its_shallow_clone(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        frame = spark.createDataFrame(
            [(i, str(i % 3), i * 1.5) for i in range(9)],
            "k long, p string, x double",
        ).coalesce(1)  # one file per partition value
        expected = sorted((i, str(i % 3), i * 1.5) for i in range(9))
        txlog.create_table(frame, src, partition_by="p")
        df = txlog.read_table(spark, src)
        # digit-valued directory names stay the declared string type
        assert _names_types(df) == [
            ("k", "bigint"), ("p", "string"), ("x", "double"),
        ]
        assert _rows(df) == expected
        txlog.shallow_clone(spark, src, dst)
        assert _names_types(txlog.read_table(spark, dst)) == _names_types(df)
        assert _rows(txlog.read_table(spark, dst)) == expected
        # clone DML: its live set mixes absolute source references
        # with restaged clone-relative files
        txlog.delete_where(spark, dst, F.col("k") == 4)
        live = txlog.live_files(dst)
        assert any(os.path.isabs(f) for f in live)
        assert any(not os.path.isabs(f) for f in live)
        clone = txlog.read_table(spark, dst)
        assert _names_types(clone) == _names_types(df)
        assert _rows(clone) == [r for r in expected if r[0] != 4]
        assert _rows(txlog.read_table(spark, dst, where="p = '1'")) == [
            r for r in expected if r[1] == "1" and r[0] != 4
        ]

    def test_dv_masked_table(self, spark, table):
        txlog.create_table(_kv(spark, 0, 10), table)
        txlog.delete_where(spark, table, F.col("k") % 3 == 0, mode="dv")
        df = txlog.read_table(spark, table)
        assert _names_types(df) == [("k", "bigint"), ("v", "bigint")]
        assert _rows(df) == [(k, k * 10) for k in range(10) if k % 3]
        # a second DV delete carries the first vector forward
        txlog.delete_where(spark, table, F.col("k") == 1, mode="dv")
        assert _rows(txlog.read_table(spark, table)) == [
            (k, k * 10) for k in range(2, 10) if k % 3
        ]

    def test_change_feed_across_schema_evolution(self, spark, table):
        txlog.create_table(_kv(spark, 0, 4), table)
        txlog.delete_where(spark, table, F.col("k") == 1)
        txlog.append(
            spark.createDataFrame([(9, 90, "n")], "k long, v long, w string"),
            table,
        )
        txlog.merge_into(
            spark, table,
            spark.createDataFrame([(2, "u")], "k long, w string"), ["k"],
            clauses=[{"when": "matched", "action": "update",
                      "set": {"w": "s.w"}}],
        )
        feed = txlog.change_feed(spark, table, from_version=0)
        assert _names_types(feed) == [
            ("_version", "bigint"), ("_change", "string"),
            ("k", "bigint"), ("v", "bigint"), ("w", "string"),
        ]
        assert _rows(feed) == sorted([
            (1, "delete", 1, 10, None),
            (2, "insert", 9, 90, "n"),
            (3, "delete", 2, 20, None),
            (3, "insert", 2, 20, "u"),
        ])
        # bounded before the evolution: the narrower schema of that version
        assert txlog.change_feed(
            spark, table, from_version=0, to_version=1
        ).columns == ["_version", "_change", "k", "v"]

    def test_pre_schema_table_reads_through_inference(self, spark, table):
        txlog.create_table(_kv(spark, 0, 4), table)
        txlog.append(
            spark.createDataFrame([(9, 90, "n")], "k long, v long, w string"),
            table,
        )
        for v in txlog.committed_versions(table):
            mp = os.path.join(txlog._log_path(table), f"{v:08d}.json")
            with open(mp) as f:
                m = json.load(f)
            m.pop("schema")
            with open(mp, "w") as f:
                json.dump(m, f)
        assert txlog._physical_schema(table, 1) is None
        df = txlog.read_table(spark, table)
        assert sorted(df.columns) == ["k", "v", "w"]
        assert sorted(
            (r["k"], r["v"], r["w"]) for r in df.collect()
        ) == [(0, 0, None), (1, 10, None), (2, 20, None), (3, 30, None),
              (9, 90, "n")]
        txlog.delete_where(spark, table, F.col("k") == 2)
        assert txlog.table_count(table) == 4
        assert sorted(
            r["k"] for r in txlog.read_table(spark, table).collect()
        ) == [0, 1, 3, 9]


# ---------------------------------------------------------------------------
# Independent writes side by side: ordering guarantees
# ---------------------------------------------------------------------------


class TestOverlappedWrites:
    def test_side_by_side_waits_for_every_thunk(self):
        import time

        from onechronos_etl_takehome_spark.operators.util import side_by_side

        finished = []

        def slow(tag):
            time.sleep(0.3)
            finished.append(tag)
            return tag

        def fail(msg):
            raise RuntimeError(msg)

        assert side_by_side(lambda: slow("a"), lambda: "b") == ["a", "b"]
        with pytest.raises(RuntimeError, match="first"):
            side_by_side(
                lambda: fail("first"),
                lambda: slow("late"),
                lambda: fail("second"),
            )
        # the slow sibling finished before the error surfaced
        assert finished == ["a", "late"]

    def test_duplicate_merge_keys_raise_before_staging(self, spark, table):
        txlog.create_table(_kv(spark, 0, 10), table)
        before = _files_under(table)
        dup = spark.createDataFrame([(1, 1), (1, 2)], "k long, v long")
        with pytest.raises(ValueError, match="multiple rows per key"):
            txlog.merge_into(
                spark, table, dup, ["k"], clauses=_UPSERT_CLAUSES
            )
        assert _files_under(table) == before  # no file, no manifest

    def test_check_violation_in_overlapped_merge_commits_nothing(
        self, spark, table
    ):
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        C.add_constraint(spark, table, "v_nonneg", "v >= 0")
        head = txlog.committed_versions(table)[-1]
        src = spark.createDataFrame([(1, -5), (30, 300)], "k long, v long")
        with pytest.raises(C.ConstraintViolation, match="v_nonneg"):
            txlog.merge_into(
                spark, table, src, ["k"], clauses=_UPSERT_CLAUSES
            )
        assert txlog.committed_versions(table)[-1] == head
        # every write had finished: no staging directory is left, and
        # the violating data files are unlinked
        assert not [d for d in os.listdir(table) if d.startswith("_stage-")]
        assert not [f for f in _files_under(table) if f.startswith("part-")
                    and f not in txlog.live_files(table)]
        assert _rows(txlog.read_table(spark, table)) == _BASE_ROWS

    def _manifest(self, table, v):
        with open(os.path.join(txlog._log_path(table), f"{v:08d}.json")) as f:
            return json.load(f)

    def test_delete_emptying_every_touched_file_is_remove_only(
        self, spark, table
    ):
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        v = txlog.delete_where(spark, table, F.col("k") < 5)
        m = self._manifest(table, v)
        assert "cdf" not in m
        assert [a for a in m["actions"] if "add" in a] == []
        assert len(m["actions"]) == 1
        assert not [f for f in _files_under(table) if f.startswith("change-")]
        assert _rows(
            txlog.change_feed(spark, table, from_version=0).select(
                "_change", "k"
            )
        ) == [("delete", k) for k in range(5)]

    def test_partial_and_dv_file_deletes_stage_change_files(
        self, spark, table
    ):
        txlog.create_table(_kv(spark, 0, 10, parts=2), table)
        # partial: survivors restage, the deleted rows are change files
        v1 = txlog.delete_where(spark, table, F.col("k") == 2)
        m1 = self._manifest(table, v1)
        assert sum(e["rows"] for e in m1["cdf"]["files"]) == 1
        # a DV-masked file whose every remaining row now dies: nothing
        # survives, yet change files are staged (a per-file delete scan
        # would resurrect the DV-dead row)
        txlog.delete_where(spark, table, F.col("k") == 7, mode="dv")
        v3 = txlog.delete_where(spark, table, F.col("k") >= 5)
        m3 = self._manifest(table, v3)
        assert [a for a in m3["actions"] if "add" in a] == []
        assert sum(e["rows"] for e in m3["cdf"]["files"]) == 4
        assert _rows(
            txlog.change_feed(spark, table, from_version=0).select(
                "_version", "_change", "k"
            )
        ) == sorted(
            [(1, "delete", 2), (2, "delete", 7)]
            + [(3, "delete", k) for k in (5, 6, 8, 9)]
        )
        assert _rows(txlog.read_table(spark, table)) == [
            (k, k * 10) for k in (0, 1, 3, 4)
        ]


class TestTimestampConfPerSession:
    def test_sessions_hold_and_restore_their_own_conf(self, spark, tmp_path):
        import pyarrow.parquet as pq

        key = "spark.sql.parquet.outputTimestampType"
        a, b = spark.newSession(), spark.newSession()
        a.conf.set(key, "TIMESTAMP_MILLIS")
        b.conf.set(key, "INT96")
        # built by SQL, not createDataFrame: createDataFrame makes ``b``
        # this thread's active session, where Spark later looks up
        # Python data sources (format("txlog")) that ``spark`` registered
        frame = b.sql("SELECT 1L AS k, TIMESTAMP'2024-01-02 03:04:05' AS t")
        with txlog._ts_conf_micros(a):
            staged = txlog._stage_data(frame, str(tmp_path))
            assert a.conf.get(key) == "TIMESTAMP_MICROS"
        (name, _rows_n, stats, *_), = staged
        assert "t" in stats  # INT96 would carry no min/max
        meta = pq.ParquetFile(os.path.join(tmp_path, name)).metadata
        assert meta.schema.column(1).physical_type == "INT64"
        assert a.conf.get(key) == "TIMESTAMP_MILLIS"
        assert b.conf.get(key) == "INT96"

    def test_holds_under_fast_thread_switching(self, spark):
        import sys

        key = "spark.sql.parquet.outputTimestampType"
        sessions = [spark.newSession(), spark.newSession()]
        for sess, prior in zip(sessions, ("INT96", "TIMESTAMP_MILLIS")):
            sess.conf.set(key, prior)
        seen_outside_hold: list[str] = []

        def worker(sess) -> None:
            for _ in range(20):
                with txlog._ts_conf_micros(sess):
                    got = sess.conf.get(key)
                    if got != "TIMESTAMP_MICROS":
                        seen_outside_hold.append(got)

        prev = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            threads = [
                threading.Thread(target=worker, args=(sessions[i % 2],))
                for i in range(8)
            ]
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(prev)
        assert not any(t.is_alive() for t in threads)
        assert seen_outside_hold == []
        assert session._CONF_HOLDS == {}
        assert sessions[0].conf.get(key) == "INT96"
        assert sessions[1].conf.get(key) == "TIMESTAMP_MILLIS"


# ---------------------------------------------------------------------------
# The one DML planner (txlog._dml_plan): a scripted sequence of every
# statement in both modes, pinned commit by commit
# ---------------------------------------------------------------------------


def _dml_script(spark, root):
    """(table, statement) steps over an unpartitioned table ``a``
    (NULL-valued predicate columns, DV-masked files, an evolved
    schema, a pure-remove delete, a no-match delete, an all-rows-die
    delete across DV-masked files) and a table ``b`` partitioned by
    ``p``. Every frame is built with a fixed partition count."""
    a, b = os.path.join(root, "a"), os.path.join(root, "b")
    txlog.create_table(
        spark.range(0, 12, numPartitions=3).select(
            F.col("id").alias("k"),
            F.when(F.col("id") % 5 != 4, F.col("id") * 10).alias("v"),
            F.when(F.col("id") % 3 == 0, "a")
            .when(F.col("id") % 3 == 1, "b")
            .alias("tag"),
        ),
        a,
    )
    txlog.create_table(
        spark.range(0, 10, numPartitions=2).select(
            F.col("id").alias("k"),
            F.when(F.col("id") < 5, "x").otherwise("y").alias("p"),
            (F.col("id") * 10).alias("v"),
        ),
        b,
        partition_by="p",
    )

    def src(rows, schema):
        return spark.createDataFrame(rows, schema).coalesce(1)

    def merge(path, rows, schema, clauses, mode="cow"):
        return lambda: txlog.merge_into(
            spark, path, src(rows, schema), ["k"], clauses=clauses,
            mode=mode,
        )

    a_clauses = [
        {"when": "matched", "action": "delete", "condition": "s.op = 'D'"},
        {"when": "matched", "action": "update", "set": {"v": "s.v"}},
    ]
    return [
        (a, lambda: txlog.delete_where(
            spark, a, (F.col("tag") == "a") & (F.col("k") < 4))),
        (a, lambda: txlog.delete_where(
            spark, a, (F.col("tag") == "b") & (F.col("k") >= 4), mode="dv")),
        (a, lambda: txlog.update_where(
            spark, a, F.col("k") == 5, {"v": "v + 100"}, mode="dv")),
        (a, lambda: txlog.update_where(
            spark, a, F.col("v") >= 60, {"tag": "'u'"})),
        (a, lambda: txlog.merge_upsert(
            spark, a,
            src([(1, 11, "m", "w1"), (20, 200, "n", "w2")],
                "k long, v long, tag string, w string"),
            ["k"])),
        (a, merge(
            a, [(2, "U", 22), (6, "D", 0), (30, "I", 300)],
            "k long, op string, v long",
            [a_clauses[0],
             {**a_clauses[1], "set": {"v": "s.v", "w": "'mi'"}},
             {"when": "not_matched", "action": "insert",
              "values": {"k": "s.k", "v": "s.v", "tag": "s.op"}}])),
        (a, merge(
            a, [(8, "U", 88), (11, "D", 0), (31, "I", 310)],
            "k long, op string, v long",
            a_clauses + [
                {"when": "not_matched", "action": "insert", "values": None}
            ],
            mode="dv")),
        (a, lambda: txlog.append(
            spark.range(100, 104, numPartitions=1).select(
                F.col("id").alias("k"), F.col("id").alias("v"),
                F.lit("x").alias("tag"),
                F.lit(None).cast("string").alias("w"),
            ),
            a)),
        (a, lambda: txlog.delete_where(spark, a, F.col("k") >= 100)),
        (a, lambda: txlog.delete_where(spark, a, F.col("k") == 999)),
        (a, lambda: txlog.delete_where(spark, a, F.lit(True))),
        (b, lambda: txlog.delete_where(spark, b, F.col("k") == 1)),
        (b, lambda: txlog.delete_where(spark, b, F.col("k") == 7, mode="dv")),
        (b, lambda: txlog.update_where(spark, b, F.col("k") == 2, {"p": "'y'"})),
        (b, lambda: txlog.update_where(
            spark, b, F.col("k") == 8, {"v": "-v"}, mode="dv")),
        (b, lambda: txlog.merge_upsert(
            spark, b,
            src([(4, "x", 44), (12, "y", 120)], "k long, p string, v long"),
            ["k"])),
        (b, merge(
            b, [(3, 33), (6, 66), (13, 130)], "k long, v long",
            [{"when": "matched", "action": "update", "condition": "s.k = 3",
              "set": {"v": "s.v"}},
             {"when": "matched", "action": "delete"},
             {"when": "not_matched", "action": "insert",
              "values": {"k": "s.k", "p": "'x'", "v": "s.v"}}])),
        (b, merge(
            b, [(0, 1), (9, 99), (14, 140)], "k long, v long",
            [{"when": "matched", "action": "update",
              "set": {"v": "s.v + t.v"}},
             {"when": "not_matched", "action": "insert",
              "values": {"k": "s.k", "p": "'y'", "v": "s.v"}},
             {"when": "not_matched_by_source", "action": "delete",
              "condition": "t.k = 5"}],
            mode="dv")),
    ]


# per commit: metrics, (remove actions, add actions, live files kept
# from the previous version), and the change rows (_change, *columns)
_DML_SCRIPT_COMMITS = [
    ({"op": "delete", "files_removed": 1, "files_added": 1,
      "files_carried": 2, "rows_deleted": 2, "rows_rewritten": 2},
     (1, 1, 2), [("delete", 0, 0, "a"), ("delete", 3, 30, "a")]),
    ({"op": "delete-dv", "files_masked": 2, "files_carried": 1,
      "rows_deleted": 3, "files_added": 0, "files_removed": 0},
     (2, 2, 3),
     [("delete", 10, 100, "b"), ("delete", 4, None, "b"),
      ("delete", 7, 70, "b")]),
    ({"op": "update-dv", "files_masked": 1, "files_carried": 2,
      "rows_updated": 1, "files_added": 1, "files_removed": 0},
     (1, 2, 3), [("delete", 5, 50, None), ("insert", 5, 150, None)]),
    ({"op": "update", "files_removed": 3, "files_added": 3,
      "files_carried": 1, "rows_updated": 4},
     (3, 3, 1),
     [("delete", 11, 110, None), ("delete", 5, 150, None),
      ("delete", 6, 60, "a"), ("delete", 8, 80, None),
      ("insert", 11, 110, "u"), ("insert", 5, 150, "u"),
      ("insert", 6, 60, "u"), ("insert", 8, 80, "u")]),
    ({"op": "merge", "files_removed": 1, "files_added": 2,
      "files_carried": 3, "rows_replaced": 1, "rows_rewritten": 1,
      "rows_upserted": 2},
     (1, 2, 3),
     [("delete", 1, 10, "b", None), ("insert", 1, 11, "m", "w1"),
      ("insert", 20, 200, "n", "w2")]),
    ({"op": "merge-into", "files_removed": 2, "files_masked": 0,
      "files_added": 2, "files_carried": 3, "rows_updated": 1,
      "rows_deleted": 1, "rows_inserted": 1},
     (2, 2, 3),
     [("delete", 2, 20, None, None), ("delete", 6, 60, "u", None),
      ("insert", 2, 22, None, "mi"), ("insert", 30, 300, "I", None)]),
    # the postimage and the insert stage from separate partitions
    ({"op": "merge-into-dv", "files_removed": 0, "files_masked": 1,
      "files_added": 2, "files_carried": 4, "rows_updated": 1,
      "rows_deleted": 1, "rows_inserted": 1},
     (1, 3, 5),
     [("delete", 11, 110, "u", None), ("delete", 8, 80, "u", None),
      ("insert", 31, 310, None, None), ("insert", 8, 88, "u", None)]),
    ({"op": "append", "files_added": 1, "rows_written": 4},
     (0, 1, 7),
     [("insert", k, k, "x", None) for k in range(100, 104)]),
    # a pure remove: its change rows are the removed file's rows
    ({"op": "delete", "files_removed": 1, "files_added": 0,
      "files_carried": 7, "rows_deleted": 4, "rows_rewritten": 0},
     (1, 0, 7),
     [("delete", k, k, "x", None) for k in range(100, 104)]),
    ({"op": "delete", "files_removed": 0, "files_added": 0,
      "files_carried": 7, "rows_deleted": 0, "rows_rewritten": 0},
     (0, 0, 7), []),
    ({"op": "delete", "files_removed": 7, "files_added": 0,
      "files_carried": 0, "rows_deleted": 8, "rows_rewritten": 0},
     (7, 0, 0),
     [("delete", 1, 11, "m", "w1"), ("delete", 2, 22, None, "mi"),
      ("delete", 20, 200, "n", "w2"), ("delete", 30, 300, "I", None),
      ("delete", 31, 310, None, None), ("delete", 5, 150, "u", None),
      ("delete", 8, 88, "u", None), ("delete", 9, None, "a", None)]),
    ({"op": "delete", "files_removed": 1, "files_added": 1,
      "files_carried": 1, "rows_deleted": 1, "rows_rewritten": 4},
     (1, 1, 1), [("delete", 1, "x", 10)]),
    ({"op": "delete-dv", "files_masked": 1, "files_carried": 1,
      "rows_deleted": 1, "files_added": 0, "files_removed": 0},
     (1, 1, 2), [("delete", 7, "y", 70)]),
    ({"op": "update", "files_removed": 1, "files_added": 2,
      "files_carried": 1, "rows_updated": 1},
     (1, 2, 1), [("delete", 2, "x", 20), ("insert", 2, "y", 20)]),
    ({"op": "update-dv", "files_masked": 1, "files_carried": 2,
      "rows_updated": 1, "files_added": 1, "files_removed": 0},
     (1, 2, 3), [("delete", 8, "y", 80), ("insert", 8, "y", -80)]),
    ({"op": "merge", "files_removed": 1, "files_added": 3,
      "files_carried": 3, "rows_replaced": 1, "rows_rewritten": 2,
      "rows_upserted": 2},
     (1, 3, 3),
     [("delete", 4, "x", 40), ("insert", 12, "y", 120),
      ("insert", 4, "x", 44)]),
    ({"op": "merge-into", "files_removed": 2, "files_masked": 0,
      "files_added": 3, "files_carried": 4, "rows_updated": 1,
      "rows_deleted": 1, "rows_inserted": 1},
     (2, 3, 4),
     [("delete", 3, "x", 30), ("delete", 6, "y", 60),
      ("insert", 13, "x", 130), ("insert", 3, "x", 33)]),
    ({"op": "merge-into-dv", "files_removed": 0, "files_masked": 2,
      "files_added": 3, "files_carried": 5, "rows_updated": 2,
      "rows_deleted": 1, "rows_inserted": 1},
     (2, 4, 6),
     [("delete", 0, "x", 0), ("delete", 5, "y", 50),
      ("delete", 9, "y", 90), ("insert", 0, "x", 1),
      ("insert", 14, "y", 140), ("insert", 9, "y", 189)]),
]


class TestDmlPlanner:
    def test_scripted_sequence(self, spark, tmp_path):
        """Per commit of the script: op and metrics, removed / added /
        carried files, the change-row multiset, and the read-back rows,
        which must equal the previous read-back with the change rows
        applied."""
        steps = _dml_script(spark, str(tmp_path))
        assert len(steps) == len(_DML_SCRIPT_COMMITS)
        state = {
            path: _rows(txlog.read_table(spark, path))
            for path in {p for p, _ in steps}
        }
        for (path, step), (metrics, files, changes) in zip(
            steps, _DML_SCRIPT_COMMITS
        ):
            v = step()
            acts = txlog._manifest(path, v)["actions"]
            before = set(txlog.live_files(path, version=v - 1))
            got_files = (
                sum("remove" in a for a in acts),
                sum("add" in a for a in acts),
                len(before & set(txlog.live_files(path, version=v))),
            )
            feed = txlog.change_feed(
                spark, path, from_version=v - 1, to_version=v
            ).collect()
            got_changes = sorted((tuple(r)[1:] for r in feed), key=repr)
            assert (txlog.commit_metrics(path, v), got_files, got_changes) == (
                metrics, files, sorted(changes, key=repr)
            ), (path, v)
            # an evolved column reads NULL in older rows
            width = len(txlog.read_table(spark, path).columns)
            rows = [r + (None,) * (width - len(r)) for r in state[path]]
            for change, *row in changes:
                if change == "delete":
                    rows.remove(tuple(row))
                else:
                    rows.append(tuple(row))
            state[path] = _rows(txlog.read_table(spark, path))
            assert state[path] == sorted(rows), (path, v)
