"""Round-11 fixes and operators: backtick-quoted constraint detection
on rename/drop, Delta-inclusive startingVersion, plan-time rejection of
non-flat CDF diffs, the immutable-manifest fold cache, commit-time CDF
change files, txlog partition columns, and deletion vectors."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from pyspark.sql import functions as F

from onechronos_etl_takehome_spark.sources import txlog


@pytest.fixture()
def table(tmp_path):
    return str(tmp_path / "tbl")


def _register_source(spark):
    from onechronos_etl_takehome_spark.streaming.txlog_source import (
        TxlogStreamSource,
    )

    spark.dataSource.register(TxlogStreamSource)


# ---------------------------------------------------------------------------
# Advice fix (medium): backtick-quoted CHECK expressions must block
# rename/drop of the referenced column
# ---------------------------------------------------------------------------


class TestQuotedConstraintReference:
    def _mk(self, spark, table):
        from onechronos_etl_takehome_spark.sources.constraints import (
            add_constraint,
        )

        txlog.create_table(
            spark.range(5).select(
                F.col("id").alias("k"),
                (F.col("id") + 1.0).alias("price"),
            ),
            table,
        )
        add_constraint(spark, table, "price_pos", "`price` > 0")

    def test_rename_refuses_backtick_quoted_reference(self, spark, table):
        self._mk(spark, table)
        with pytest.raises(ValueError, match="price_pos"):
            txlog.rename_column(spark, table, "price", "cents")
        # the table is NOT write-bricked: appends still validate fine
        txlog.append(
            spark.createDataFrame([(9, 2.0)], "k long, price double"), table
        )
        assert txlog.read_table(spark, table).count() == 6

    def test_drop_refuses_backtick_quoted_reference(self, spark, table):
        self._mk(spark, table)
        with pytest.raises(ValueError, match="price_pos"):
            txlog.drop_column(spark, table, "price")

    def test_unrelated_longer_name_still_allowed(self, spark, table):
        """`price` > 0 must not pin down a column named price_usd."""
        from onechronos_etl_takehome_spark.sources.constraints import (
            add_constraint,
        )

        txlog.create_table(
            spark.range(3).select(
                F.col("id").alias("price_usd"),
                (F.col("id") + 1.0).alias("price"),
            ),
            table,
        )
        add_constraint(spark, table, "price_pos", "`price` > 0")
        v = txlog.rename_column(spark, table, "price_usd", "usd")
        assert "usd" in txlog.read_table(spark, table).columns
        assert v == 2


# ---------------------------------------------------------------------------
# Advice fix (low): startingVersion is INCLUSIVE (Delta's semantics)
# ---------------------------------------------------------------------------


class TestStartingVersionInclusive:
    def _lifecycle(self, spark, table):
        txlog.create_table(spark.range(10).select(F.col("id").alias("k")),
                           table)
        txlog.append(spark.range(10, 15).select(F.col("id").alias("k")),
                     table)
        txlog.append(spark.range(15, 18).select(F.col("id").alias("k")),
                     table)

    def _cdf(self, spark, table, **opts):
        r = (
            spark.read.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
        )
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load()

    def test_batch_inclusive_bounds(self, spark, table):
        _register_source(spark)
        self._lifecycle(spark, table)
        # startingVersion=1 delivers versions 1 and 2 — NOT 2 and 3
        got = self._cdf(spark, table, startingVersion="1")
        assert sorted(
            r["_version"] for r in got.select("_version").distinct().collect()
        ) == [1, 2]
        assert got.count() == 8
        # 0 = full history (Delta's semantics for a table created at v0)
        assert self._cdf(spark, table, startingVersion="0").count() == 18

    def test_batch_negative_rejected(self, spark, table):
        _register_source(spark)
        self._lifecycle(spark, table)
        with pytest.raises(Exception, match="INCLUSIVE"):
            self._cdf(spark, table, startingVersion="-1").count()

    def test_stream_inclusive(self, spark, table, tmp_path):
        _register_source(spark)
        self._lifecycle(spark, table)
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("startingVersion", "2")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
        got = spark.read.parquet(str(tmp_path / "out"))
        # version 2 itself is delivered (15..17), version 1 is not
        assert sorted(r.k for r in got.collect()) == [15, 16, 17]


# ---------------------------------------------------------------------------
# Advice fix (low): non-flat tables reject the read-time CDF diff at
# PLAN time with a clear error (Counter keys must be hashable)
# ---------------------------------------------------------------------------


class TestNonFlatCdfDiffRejected:
    def test_plan_time_error_names_the_column(self, spark, table):
        _register_source(spark)
        txlog.create_table(
            spark.range(4).select(
                F.col("id").alias("k"), F.array(F.col("id")).alias("tags")
            ).coalesce(1),  # one file → the delete leaves survivors
            table,
        )
        # force a LEGACY diff commit (no change files) by stripping the
        # cdf field a modern delete stamps
        txlog.delete_where(spark, table, F.col("k") < 2)
        v = txlog.committed_versions(table)[-1]
        mf = os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")
        with open(mf) as f:
            manifest = json.load(f)
        if "cdf" in manifest:
            del manifest["cdf"]
            os.unlink(mf)
            with open(mf, "w") as f:
                json.dump(manifest, f)
        with pytest.raises(Exception, match="tags"):
            (
                spark.read.format("txlog")
                .option("path", table)
                .option("readChangeFeed", "true")
                .load()
                .count()
            )


# ---------------------------------------------------------------------------
# Advice fix (low): the manifest-field fold cache — correct across
# delete-and-recreate at the same path (inode-keyed)
# ---------------------------------------------------------------------------


class TestFoldCache:
    def test_recreated_table_never_serves_stale_state(self, spark, table):
        txlog.create_table(spark.range(3).select(F.col("id").alias("a")),
                           table)
        txlog.rename_column(spark, table, "a", "b")
        assert txlog.table_mapping(table) == {"b": "a"}
        proto = txlog.table_protocol(table)
        assert proto["min_reader_version"] == 2
        # recreate an UNMAPPED table at the same path and versions
        shutil.rmtree(table)
        txlog.create_table(spark.range(3).select(F.col("id").alias("a")),
                           table)
        txlog.append(spark.range(3, 5).select(F.col("id").alias("a")),
                     table)
        assert txlog.table_mapping(table) == {}
        assert txlog.table_protocol(table) == {
            "min_reader_version": 1,
            "min_writer_version": 1,
        }

    def test_legacy_fold_answers_once_then_cached(self, spark, table):
        """A pre-feature table (no manifest ever carries protocol)
        folds the whole log once, then answers from the cache."""
        txlog.create_table(spark.range(2).select(F.col("id").alias("a")),
                           table)
        for i in range(3):
            txlog.append(
                spark.range(2 + i, 3 + i).select(F.col("id").alias("a")),
                table,
            )
        # strip every stamped protocol/mapping field → legacy shape
        for v in txlog.committed_versions(table):
            mf = os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")
            with open(mf) as f:
                manifest = json.load(f)
            manifest.pop("protocol", None)
            manifest.pop("column_mapping", None)
            os.unlink(mf)
            with open(mf, "w") as f:
                json.dump(manifest, f)
        txlog._FOLD_CACHE.clear()
        assert txlog.table_protocol(table) == {
            "min_reader_version": 1,
            "min_writer_version": 1,
        }
        latest = txlog.committed_versions(table)[-1]
        key_hits = [
            k for k in txlog._FOLD_CACHE
            if k[1] == latest and k[2] == "protocol"
        ]
        assert key_hits, "legacy fold result must be cached"


# ---------------------------------------------------------------------------
# Commit-time CDF change files (round-10 verdict item 3)
# ---------------------------------------------------------------------------


def _manifest(table, v):
    with open(os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")) as f:
        return json.load(f)


class TestCommitTimeChangeFiles:
    def _lifecycle(self, spark, table):
        # two multi-row files per commit so the delete leaves
        # survivors in every touched file (a mixed add+remove commit)
        txlog.create_table(
            spark.range(20).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("tag")
            ).coalesce(2),
            table,
        )
        txlog.append(
            spark.range(20, 30).select(
                F.col("id").alias("k"), (F.col("id") % 3).alias("tag")
            ).coalesce(2),
            table,
        )
        txlog.delete_where(spark, table, F.col("tag") == 1)
        txlog.merge_upsert(
            spark,
            table,
            spark.range(0, 30, 7).select(
                F.col("id").alias("k"), F.lit(9).cast("long").alias("tag")
            ),
            ["k"],
        )

    def test_dml_commits_stamp_change_files(self, spark, table):
        self._lifecycle(spark, table)
        ops = {}
        for v in txlog.committed_versions(table):
            m = _manifest(table, v)
            ops[m.get("metrics", {}).get("op")] = m.get("cdf")
        assert ops["create"] is None and ops["append"] is None
        assert ops["delete"]["files"] and ops["merge"]["files"]
        # the files exist on disk under the change- prefix
        for e in ops["delete"]["files"] + ops["merge"]["files"]:
            assert e["name"].startswith("change-")
            assert os.path.exists(os.path.join(table, e["name"]))

    def test_planner_scans_change_files_not_diff(self, spark, table):
        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            _cdf_partitions,
            _CdcFilePartition,
            _CdfDiffPartition,
        )

        self._lifecycle(spark, table)
        schema = txlog.read_table(spark, table).schema.json()
        parts = _cdf_partitions(
            table, -1, txlog.committed_versions(table)[-1], schema, {}
        )
        kinds = {type(p).__name__ for p in parts}
        assert "_CdcFilePartition" in kinds
        assert "_CdfDiffPartition" not in kinds

    def test_feed_matches_relational_recomputation(self, spark, table):
        """The change-file path must produce EXACTLY the multiset the
        legacy diff-at-read path does (same lifecycle, cdf stamps
        stripped)."""
        self._lifecycle(spark, table)
        modern = txlog.change_feed(spark, table, from_version=0)
        rows_modern = sorted(map(tuple, modern.collect()))
        for v in txlog.committed_versions(table):
            mf = os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")
            m = _manifest(table, v)
            if "cdf" in m:
                del m["cdf"]
                os.unlink(mf)
                with open(mf, "w") as f:
                    json.dump(m, f)
        txlog._FOLD_CACHE.clear()
        legacy = txlog.change_feed(spark, table, from_version=0)
        assert sorted(map(tuple, legacy.collect())) == rows_modern

    def test_streamed_equals_batch_through_change_files(
        self, spark, table, tmp_path
    ):
        _register_source(spark)
        self._lifecycle(spark, table)
        txlog.compact(spark, table, target_bytes=10**9)
        batch = (
            spark.read.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
        )
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        streamed = spark.read.parquet(str(tmp_path / "out"))
        assert streamed.exceptAll(batch).count() == 0
        assert batch.exceptAll(streamed).count() == 0
        # the OPTIMIZE commit stamped a KNOWN-EMPTY change set and is
        # invisible without any diff work
        last = txlog.committed_versions(table)[-1]
        assert _manifest(table, last)["cdf"] == {"files": []}
        assert streamed.filter(F.col("_version") == last).count() == 0

    def test_full_file_delete_skips_change_files(self, spark, table):
        """A delete that kills every touched row commits pure removes:
        no change files written (they would duplicate whole files),
        and the feed still reports every deleted row."""
        txlog.create_table(
            spark.createDataFrame(
                [(0, 0), (2, 0), (4, 0)], "k long, tag long"
            ).coalesce(1),
            table,
        )
        txlog.append(
            spark.createDataFrame(
                [(1, 1), (3, 1)], "k long, tag long"
            ).coalesce(1),
            table,
        )
        v = txlog.delete_where(spark, table, F.col("tag") == 0)
        m = _manifest(table, v)
        assert "cdf" not in m
        assert all("remove" in a or "add" not in a for a in m["actions"])
        feed = txlog.change_feed(spark, table, from_version=0)
        got = sorted(
            r["k"] for r in feed.filter("_change = 'delete'").collect()
        )
        assert got == [0, 2, 4]

    def test_nonflat_table_dml_streams_cdf(self, spark, table, tmp_path):
        """Array columns are undiffable at read time, but change-file
        commits carry them fine — the capability the plan-time
        rejection points users at."""
        _register_source(spark)
        txlog.create_table(
            spark.range(8).select(
                F.col("id").alias("k"),
                F.array(F.col("id"), F.col("id") * 2).alias("tags"),
            ).coalesce(1),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") < 3)
        q = (
            spark.readStream.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / "out"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)
        got = spark.read.parquet(str(tmp_path / "out"))
        dels = got.filter("_change = 'delete'").select("k", "tags").collect()
        assert sorted((r["k"], tuple(r["tags"])) for r in dels) == [
            (0, (0, 0)), (1, (1, 2)), (2, (2, 4)),
        ]

    def test_vacuum_sweeps_unretained_change_files(self, spark, table):
        self._lifecycle(spark, table)
        delete_v = next(
            v for v in txlog.committed_versions(table)
            if (_manifest(table, v).get("metrics") or {}).get("op")
            == "delete"
        )
        delete_cdf = [
            e["name"] for e in _manifest(table, delete_v)["cdf"]["files"]
        ]
        # retain only the last commit (the merge): the delete's change
        # files are out of window and must go
        removed = txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        assert set(delete_cdf) <= set(removed)
        merge_v = txlog.committed_versions(table)[-1]
        for e in _manifest(table, merge_v)["cdf"]["files"]:
            assert os.path.exists(os.path.join(table, e["name"]))


# ---------------------------------------------------------------------------
# Partition columns inside the ACID log (round-10 verdict item 5)
# ---------------------------------------------------------------------------


class TestTxlogPartitionColumns:
    def _mk(self, spark, table):
        df = spark.range(120).select(
            (F.col("id") % 3).cast("string").alias("region"),
            F.col("id").alias("k"),
            (F.col("id") * 2).alias("v"),
        )
        txlog.create_table(df, table, partition_by="region")

    def test_layout_and_protocol(self, spark, table):
        self._mk(spark, table)
        assert txlog.table_partitioning(table) == ["region"]
        proto = txlog.table_protocol(table)
        assert proto["min_reader_version"] >= 3
        assert proto["min_writer_version"] >= 4
        live = sorted(txlog.live_files(table))
        assert live and all(f.split("/")[0].startswith("region=")
                            for f in live)
        # files do NOT carry the partition column in their bytes
        import pyarrow.parquet as pq

        cols = pq.read_table(os.path.join(table, live[0])).column_names
        assert "region" not in cols
        # ...but reads restore it, typed per the declared schema
        rt = txlog.read_table(spark, table)
        assert rt.columns == ["region", "k", "v"]
        assert dict(rt.dtypes)["region"] == "string"
        assert rt.count() == 120

    def test_partition_pruning_with_poisoned_files(self, spark, table):
        self._mk(spark, table)
        kept, pruned = txlog.pruned_files(spark, table, "region = '1'")
        assert kept and pruned
        assert all(f.startswith("region=1/") for f in kept)
        want = (
            txlog.read_table(spark, table)
            .filter("region = '1'")
            .agg(F.sum("v").alias("s"))
            .collect()[0]["s"]
        )
        for f in pruned:
            with open(os.path.join(table, f), "wb") as fh:
                fh.write(b"poison")
        got = (
            txlog.read_table(spark, table, where="region = '1'")
            .agg(F.sum("v").alias("s"))
            .collect()[0]["s"]
        )
        assert got == want
        # the registered format reader prunes the same way (pyarrow
        # path restores the partition value from the directory name)
        _register_source(spark)
        fmt = (
            spark.read.format("txlog")
            .option("path", table)
            .load()
            .filter("region = '1'")
            .agg(F.sum("v").alias("s"))
            .collect()[0]["s"]
        )
        assert fmt == want

    def test_pruning_composes_with_cluster_stats(self, spark, table):
        df = spark.range(400).select(
            (F.col("id") % 4).cast("string").alias("region"),
            F.col("id").alias("k"),
            (F.col("id") * 3).alias("v"),
        )
        txlog.create_table(
            df, table, partition_by="region", cluster_by="v",
            cluster_files=4,
        )
        kept, pruned = txlog.pruned_files(
            spark, table, "region = '2' AND v >= 900"
        )
        # both levers bite: only region=2 dirs AND only upper v ranges
        assert all(f.startswith("region=2/") for f in kept)
        assert len(kept) < sum(
            1 for f in txlog.live_files(table) if f.startswith("region=2/")
        )

    def test_dml_preserves_layout_and_results(self, spark, table):
        self._mk(spark, table)
        txlog.append(
            spark.range(120, 160).select(
                (F.col("id") % 3).cast("string").alias("region"),
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
            ),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") % 10 == 0)
        txlog.merge_upsert(
            spark,
            table,
            spark.range(0, 160, 13).select(
                (F.col("id") % 3).cast("string").alias("region"),
                F.col("id").alias("k"),
                F.lit(-1).cast("long").alias("v"),
            ),
            ["k"],
        )
        rt = txlog.read_table(spark, table)
        # oracle: recompute relationally
        ids = [i for i in range(160) if i % 10]
        merged = {i for i in range(0, 160, 13)}
        expect_n = len(set(ids) | merged)
        assert rt.count() == expect_n
        assert rt.filter("v = -1").count() == len(merged)
        assert all(
            f.split("/")[0].startswith("region=")
            for f in txlog.live_files(table)
        )
        # time travel unaffected
        assert txlog.read_table(spark, table, version=0).count() == 120
        # metadata-only count agrees
        assert txlog.table_count(table) == expect_n

    def test_cdf_carries_partition_column(self, spark, table):
        self._mk(spark, table)
        txlog.delete_where(spark, table, F.col("k") < 30)
        feed = txlog.change_feed(spark, table, from_version=0)
        dels = feed.filter("_change = 'delete'")
        assert dels.count() == 30
        assert dels.filter(F.col("region").isNull()).count() == 0

    def test_partition_guards(self, spark, table):
        self._mk(spark, table)
        # rename/drop of a partition column refuse
        with pytest.raises(ValueError, match="partition column"):
            txlog.rename_column(spark, table, "region", "zone")
        with pytest.raises(ValueError, match="partition column"):
            txlog.drop_column(spark, table, "region")
        # appends must carry the partition column
        with pytest.raises(ValueError, match="partition column"):
            txlog.append(
                spark.range(3).select(F.col("id").alias("k"),
                                      F.col("id").alias("v")),
                table,
            )
        # the flat format writer refuses partitioned tables
        _register_source(spark)
        with pytest.raises(Exception, match="PARTITIONED"):
            (
                spark.range(3)
                .select(
                    F.lit("1").alias("region"),
                    F.col("id").alias("k"),
                    F.col("id").alias("v"),
                )
                .write.format("txlog")
                .option("path", table)
                .mode("append")
                .save()
            )
        # null partition values refused loudly
        with pytest.raises(Exception, match="non-null"):
            txlog.append(
                spark.createDataFrame(
                    [(None, 1, 2)], "region string, k long, v long"
                ),
                table,
            )

    def test_create_validation(self, spark, table):
        df = spark.range(5).select(
            F.col("id").alias("k"), (F.col("id") + 0.5).alias("x")
        )
        with pytest.raises(ValueError, match="not in frame"):
            txlog.create_table(df, table, partition_by="zone")
        with pytest.raises(ValueError, match="unpartitionable"):
            txlog.create_table(df, table, partition_by="x")

    def test_old_reader_refuses_partitioned_table(
        self, spark, table, monkeypatch
    ):
        self._mk(spark, table)
        monkeypatch.setattr(txlog, "SUPPORTED_READER_VERSION", 2)
        txlog._FOLD_CACHE.clear()
        with pytest.raises(txlog.ProtocolError, match="min_reader_version"):
            txlog.read_table(spark, table)

    def test_vacuum_partitioned(self, spark, table):
        self._mk(spark, table)
        txlog.delete_where(spark, table, F.col("k") % 2 == 0)
        removed = txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        assert removed and all("/" in f for f in removed if
                               f.startswith("region="))
        assert txlog.read_table(spark, table).count() == 60


# ---------------------------------------------------------------------------
# Deletion vectors — merge-on-read DELETE (round-10 verdict item 4)
# ---------------------------------------------------------------------------


class TestDeletionVectors:
    def _mk(self, spark, table, n=50000, files=4):
        txlog.create_table(
            spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") * 3).alias("v"),
                (F.col("id") % 7).alias("tag"),
            ).coalesce(files),
            table,
        )

    def test_dv_read_hash_matches_cow_oracle(self, spark, tmp_path):
        cow_t, dv_t = str(tmp_path / "cow"), str(tmp_path / "dv")
        self._mk(spark, cow_t, n=20000)
        self._mk(spark, dv_t, n=20000)
        cond = F.col("k") % 997 == 0
        txlog.delete_where(spark, cow_t, cond)
        v = txlog.delete_where(spark, dv_t, cond, mode="dv")
        cow = txlog.read_table(spark, cow_t)
        dv = txlog.read_table(spark, dv_t)
        assert dv.exceptAll(cow).count() == 0
        assert cow.exceptAll(dv).count() == 0
        # CDF emits the same delete rows in both modes
        fc = txlog.change_feed(spark, cow_t, from_version=0)
        fd = txlog.change_feed(spark, dv_t, from_version=0)
        assert fc.exceptAll(fd).count() == 0
        assert fd.exceptAll(fc).count() == 0
        # the DV commit masked files without rewriting any
        m = txlog.commit_metrics(dv_t, v)
        assert m["op"] == "delete-dv" and m["files_added"] == 0
        assert m["files_masked"] > 0
        # protocol bumped so DV-unaware engines refuse
        proto = txlog.table_protocol(dv_t)
        assert proto["min_reader_version"] >= 4
        assert proto["min_writer_version"] >= 5

    def test_bytes_written_drop_at_low_selectivity(self, spark, tmp_path):
        """The verdict's probe: a ~0.1%-selectivity delete writes
        >= 10x fewer bytes in DV mode than in CoW mode."""
        cow_t, dv_t = str(tmp_path / "cow"), str(tmp_path / "dv")
        self._mk(spark, cow_t)
        self._mk(spark, dv_t)
        cond = F.col("k") % 1000 == 0  # 50 of 50k rows

        def commit_new_bytes(table, v):
            m = _manifest(table, v)
            total, seen = 0, set()
            for a in m["actions"]:
                if "add" not in a:
                    continue
                if a.get("dv"):
                    for n in a["dv"]["files"]:
                        if n not in seen:
                            seen.add(n)
                            total += os.path.getsize(
                                os.path.join(table, n)
                            )
                else:
                    total += os.path.getsize(os.path.join(table, a["add"]))
            for e in (m.get("cdf") or {}).get("files", []):
                total += os.path.getsize(os.path.join(table, e["name"]))
            return total

        v_cow = txlog.delete_where(spark, cow_t, cond)
        v_dv = txlog.delete_where(spark, dv_t, cond, mode="dv")
        bc = commit_new_bytes(cow_t, v_cow)
        bd = commit_new_bytes(dv_t, v_dv)
        assert bc >= 10 * bd, f"cow={bc} dv={bd} ratio={bc / bd:.1f}"

    def test_stacked_dvs_and_format_reader(self, spark, table):
        _register_source(spark)
        self._mk(spark, table, n=10000)
        txlog.delete_where(spark, table, F.col("k") % 1000 == 0, mode="dv")
        txlog.delete_where(spark, table, F.col("k") % 500 == 0, mode="dv")
        expect = [i for i in range(10000) if i % 500 and i % 1000]
        assert txlog.read_table(spark, table).count() == len(expect)
        # metadata-only COUNT stays exact through stacked masks
        assert txlog.table_count(table) == len(expect)
        # exactly ONE descriptor generation is live per file
        fold = txlog.live_file_stats(table)
        for info in fold.values():
            if "dv" in info:
                assert info["dv"]["n"] > 0
        # the pyarrow format-reader path masks identically
        fmt = (
            spark.read.format("txlog").option("path", table).load()
        )
        assert fmt.count() == len(expect)
        got = sorted(r["k"] for r in fmt.filter("v < 60").collect())
        assert got == [i for i in expect if i * 3 < 60]

    def test_optimize_materializes_and_time_travel(self, spark, table):
        self._mk(spark, table, n=10000)
        txlog.delete_where(spark, table, F.col("k") % 100 == 0, mode="dv")
        expect = 10000 - 100
        assert txlog.compact(spark, table, target_bytes=10**9) is not None
        fold = txlog.live_file_stats(table)
        assert all("dv" not in info for info in fold.values())
        assert txlog.read_table(spark, table).count() == expect
        # pre-delete snapshot unaffected by the mask
        assert txlog.read_table(spark, table, version=0).count() == 10000
        # OPTIMIZE stayed CDF-invisible
        feed = txlog.change_feed(spark, table, from_version=0)
        assert feed.filter("_change = 'delete'").count() == 100

    def test_dv_then_cow_and_merge_read_through_mask(self, spark, table):
        self._mk(spark, table, n=5000)
        txlog.delete_where(spark, table, F.col("k") % 50 == 0, mode="dv")
        # a CoW delete on the masked table must not resurrect rows
        txlog.delete_where(spark, table, F.col("tag") == 3)
        expect = [i for i in range(5000) if i % 50 and i % 7 != 3]
        assert txlog.read_table(spark, table).count() == len(expect)
        # merge reads through the mask too
        txlog.merge_upsert(
            spark,
            table,
            spark.range(0, 5000, 777).select(
                F.col("id").alias("k"),
                F.lit(-1).cast("long").alias("v"),
                F.lit(0).cast("long").alias("tag"),
            ),
            ["k"],
        )
        rt = txlog.read_table(spark, table)
        merged = set(range(0, 5000, 777))
        assert rt.filter("v = -1").count() == len(merged)
        assert rt.count() == len(set(expect) | merged)

    def test_dv_on_partitioned_table(self, spark, table):
        txlog.create_table(
            spark.range(6000).select(
                (F.col("id") % 3).cast("string").alias("region"),
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
            ),
            table,
            partition_by="region",
        )
        txlog.delete_where(spark, table, F.col("k") % 100 == 0, mode="dv")
        expect = [i for i in range(6000) if i % 100]
        rt = txlog.read_table(spark, table)
        assert rt.count() == len(expect)
        # partition values survive the masked read and still prune
        kept, pruned = txlog.pruned_files(spark, table, "region = '1'")
        assert pruned and all(f.startswith("region=1/") for f in kept)
        assert rt.filter("region = '1'").count() == sum(
            1 for i in expect if i % 3 == 1
        )

    def test_old_reader_refuses_dv_table(self, spark, table, monkeypatch):
        self._mk(spark, table, n=1000)
        txlog.delete_where(spark, table, F.col("k") == 7, mode="dv")
        monkeypatch.setattr(txlog, "SUPPORTED_READER_VERSION", 3)
        txlog._FOLD_CACHE.clear()
        with pytest.raises(txlog.ProtocolError, match="min_reader_version"):
            txlog.read_table(spark, table)

    def test_vacuum_keeps_live_dv_files(self, spark, table):
        self._mk(spark, table, n=2000)
        txlog.delete_where(spark, table, F.col("k") % 10 == 0, mode="dv")
        removed = txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        # the mask is still needed by the retained snapshot
        fold = txlog.live_file_stats(table)
        dv_files = {
            n for i in fold.values() for n in i.get("dv", {}).get("files", [])
        }
        assert dv_files and not (dv_files & set(removed))
        assert txlog.read_table(spark, table).count() == 1800
        # after materialization the vector becomes unreachable and goes
        txlog.compact(spark, table, target_bytes=10**9)
        removed2 = txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        assert dv_files & set(removed2) == dv_files
        assert txlog.read_table(spark, table).count() == 1800


# ---------------------------------------------------------------------------
# Reuse-safe pruning guard (round-10 verdict stretch item 8)
# ---------------------------------------------------------------------------


class TestPruningGuard:
    def _mk(self, spark, table):
        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            table,
            cluster_by="k",
            cluster_files=4,
        )

    def test_upstream_hazard_minimal_repro(self, spark, table):
        """Pins the Spark 4.1 behavior the guard defends against: on a
        RAW pruned load, an unfiltered planning reuses the previous
        filtered planning's readInfo (stale pruned partitions) because
        it carries no pushable filter. If this test ever FAILS with
        1000 == 1000, upstream fixed getOrCreateReadInfo and the guard
        can retire."""
        _register_source(spark)
        self._mk(spark, table)
        df = spark.read.format("txlog").option("path", table).load()
        assert df.filter("k >= 750").count() == 250
        stale = df.count()
        assert stale == 250, (
            f"upstream reuse behavior changed (got {stale}); "
            "re-evaluate the pruningGuard workaround"
        )

    def test_guarded_view_prunes_and_survives_reuse(self, spark, table):
        """The stretch's done-criterion: ONE view serves a filtered
        query (with real file skipping — poisoned pruned files are
        never opened) and then an unfiltered one with correct
        results."""
        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            register_view,
        )

        self._mk(spark, table)
        register_view(spark, table, "guard_v", prune=True)
        assert (
            spark.sql("SELECT COUNT(*) c FROM guard_v WHERE k >= 750")
            .first()["c"]
            == 250
        )
        # the hazard case: unfiltered right after filtered, same view
        assert spark.sql("SELECT COUNT(*) c FROM guard_v").first()["c"] \
            == 1000
        # and again with a different filter
        assert (
            spark.sql("SELECT COUNT(*) c FROM guard_v WHERE k >= 500")
            .first()["c"]
            == 500
        )
        # the guard column never leaks into results
        assert spark.sql("SELECT * FROM guard_v LIMIT 1").columns == [
            "k", "v",
        ]
        # file skipping is REAL on the same reused view: poison the
        # out-of-range files; filtered answers, full scan raises
        _, pruned = txlog.pruned_files(spark, table, "k >= 750")
        assert pruned
        for f in pruned:
            with open(os.path.join(table, f), "wb") as fh:
                fh.write(b"poison")
        assert (
            spark.sql(
                "SELECT COUNT(*) c, SUM(v) s FROM guard_v WHERE k >= 750"
            ).first()["c"]
            == 250
        )
        with pytest.raises(Exception):
            spark.sql("SELECT COUNT(*) FROM guard_v").collect()

    def test_guard_rejects_colliding_column(self, spark, table):
        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            register_view,
        )

        _register_source(spark)
        txlog.create_table(
            spark.range(5).select(
                F.col("id").alias("k"), F.lit(True).alias("_tx_alive")
            ),
            table,
        )
        with pytest.raises(Exception, match="_tx_alive"):
            register_view(spark, table, "bad_guard", prune=True)
            spark.sql("SELECT COUNT(*) FROM bad_guard").collect()


# ---------------------------------------------------------------------------
# UPDATE (x52) and RESTORE (x53) — completing the DML surface
# ---------------------------------------------------------------------------


class TestUpdateWhere:
    def _mk(self, spark, table, n=2000):
        txlog.create_table(
            spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
                (F.col("id") % 5).alias("tag"),
            ).coalesce(4),
            table,
        )

    def test_cow_update_semantics_and_3vl(self, spark, table):
        txlog.create_table(
            spark.createDataFrame(
                [(1, 10, "a"), (2, 20, None), (3, 30, "b")],
                "k long, v long, s string",
            ).coalesce(1),
            table,
        )
        # NULL predicate rows are untouched (SQL UPDATE semantics)
        v = txlog.update_where(
            spark, table, F.col("s") == "a", {"v": F.col("v") + 100}
        )
        rows = {
            r["k"]: r["v"] for r in txlog.read_table(spark, table).collect()
        }
        assert rows == {1: 110, 2: 20, 3: 30}
        m = txlog.commit_metrics(table, v)
        assert m["op"] == "update" and m["rows_updated"] == 1
        # time travel shows the preimage
        assert {
            r["k"]: r["v"]
            for r in txlog.read_table(spark, table, version=0).collect()
        } == {1: 10, 2: 20, 3: 30}

    def test_dv_update_matches_cow_and_cdf(self, spark, tmp_path):
        cow_t, dv_t = str(tmp_path / "cow"), str(tmp_path / "dv")
        self._mk(spark, cow_t)
        self._mk(spark, dv_t)
        cond = F.col("k") % 97 == 0
        assign = {"v": F.col("v") + 1000}
        v_cow = txlog.update_where(spark, cow_t, cond, assign)
        v_dv = txlog.update_where(spark, dv_t, cond, assign, mode="dv")
        a = txlog.read_table(spark, cow_t)
        b = txlog.read_table(spark, dv_t)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        fa = txlog.change_feed(spark, cow_t, from_version=0)
        fb = txlog.change_feed(spark, dv_t, from_version=0)
        assert fa.exceptAll(fb).count() == 0
        assert fb.exceptAll(fa).count() == 0
        # the DV commit wrote only postimage adds
        m = txlog.commit_metrics(dv_t, v_dv)
        assert m["op"] == "update-dv" and m["rows_updated"] == 21
        assert txlog.commit_metrics(cow_t, v_cow)["op"] == "update"

    def test_update_refuses_unknown_column(self, spark, table):
        self._mk(spark, table, n=10)
        with pytest.raises(ValueError, match="unknown column"):
            txlog.update_where(
                spark, table, F.col("k") == 1, {"nope": F.lit(1)}
            )

    def test_update_enforces_check_constraints(self, spark, table):
        from onechronos_etl_takehome_spark.sources.constraints import (
            ConstraintViolation,
            add_constraint,
        )

        self._mk(spark, table, n=100)
        add_constraint(spark, table, "v_nonneg", "v >= 0")
        before = sorted(map(tuple, txlog.read_table(spark, table).collect()))
        with pytest.raises(ConstraintViolation):
            txlog.update_where(
                spark, table, F.col("k") < 5, {"v": F.lit(-1).cast("long")}
            )
        after = sorted(map(tuple, txlog.read_table(spark, table).collect()))
        assert after == before  # nothing committed

    def test_update_moves_rows_across_partitions(self, spark, table):
        txlog.create_table(
            spark.range(300).select(
                (F.col("id") % 3).cast("string").alias("region"),
                F.col("id").alias("k"),
            ),
            table,
            partition_by="region",
        )
        txlog.update_where(
            spark,
            table,
            F.col("region") == "2",
            {"region": F.lit("1")},
        )
        rt = txlog.read_table(spark, table)
        assert rt.filter("region = '2'").count() == 0
        assert rt.filter("region = '1'").count() == 200
        # layout still honors directories, and pruning follows
        assert all(
            f.split("/")[0].startswith("region=")
            for f in txlog.live_files(table)
        )
        kept, _ = txlog.pruned_files(spark, table, "region = '2'")
        assert kept == []


class TestRestoreTable:
    def _mk(self, spark, table):
        txlog.create_table(
            spark.range(100).select(F.col("id").alias("k")).coalesce(2),
            table,
        )
        txlog.append(
            spark.range(100, 150).select(F.col("id").alias("k")).coalesce(1),
            table,
        )
        return txlog.delete_where(spark, table, F.col("k") % 10 == 0)

    def test_restore_resets_live_set_metadata_only(self, spark, table):
        v_del = self._mk(spark, table)
        files_before = set(txlog.live_files(table, version=v_del - 1))
        v_r = txlog.restore_table(spark, table, version=v_del - 1)
        assert set(txlog.live_files(table)) == files_before
        assert txlog.read_table(spark, table).count() == 150
        # history intact: the deleted state still reads AT its version
        assert txlog.read_table(spark, table, version=v_del).count() == 135
        m = txlog.commit_metrics(table, v_r)
        assert m["op"] == "restore" and m["restored_to"] == v_del - 1

    def test_restore_cdf_shows_resurrected_rows(self, spark, table):
        v_del = self._mk(spark, table)
        v_r = txlog.restore_table(spark, table, version=v_del - 1)
        feed = txlog.change_feed(
            spark, table, from_version=v_r - 1, to_version=v_r
        )
        ins = sorted(
            r["k"] for r in feed.filter("_change = 'insert'").collect()
        )
        assert ins == [i for i in range(150) if i % 10 == 0]
        assert feed.filter("_change = 'delete'").count() == 0

    def test_restore_refuses_vacuumed_target(self, spark, table):
        v_del = self._mk(spark, table)
        txlog.compact(spark, table, target_bytes=10**9)
        txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        with pytest.raises(ValueError, match="vacuum"):
            txlog.restore_table(spark, table, version=v_del - 1)

    def test_restore_of_dv_snapshot_carries_descriptors(
        self, spark, table
    ):
        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(2),
            table,
        )
        v_dv = txlog.delete_where(
            spark, table, F.col("k") % 100 == 0, mode="dv"
        )
        txlog.delete_where(spark, table, F.col("k") < 500)  # CoW on top
        txlog.restore_table(spark, table, version=v_dv)
        rt = txlog.read_table(spark, table)
        assert rt.count() == 990  # masks restored with the files
        fold = txlog.live_file_stats(table)
        assert any("dv" in i for i in fold.values())


# ---------------------------------------------------------------------------
# SHALLOW CLONE (x54)
# ---------------------------------------------------------------------------


class TestShallowClone:
    def _mk_src(self, spark, src):
        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(4),
            src,
        )
        txlog.delete_where(spark, src, F.col("k") % 100 == 0, mode="dv")

    def test_clone_reads_and_diverges_independently(
        self, spark, tmp_path
    ):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        v = txlog.shallow_clone(spark, src, dst)
        assert v == 0
        # zero bytes moved: no data files under the clone root yet
        assert not [
            f for f in os.listdir(dst) if f.endswith(".parquet")
        ]
        a = txlog.read_table(spark, src)
        b = txlog.read_table(spark, dst)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        assert txlog.table_count(dst) == 990
        m = txlog.commit_metrics(dst, 0)
        assert m["op"] == "clone" and m["source_version"] == 1
        # diverge the clone: source must not move
        txlog.delete_where(spark, dst, F.col("k") < 500)
        txlog.update_where(
            spark, dst, F.col("k") == 777, {"v": F.lit(-1).cast("long")}
        )
        assert txlog.read_table(spark, src).count() == 990
        expect = [i for i in range(500, 1000) if i % 100]
        rt = txlog.read_table(spark, dst)
        assert rt.count() == len(expect)
        assert rt.filter("v = -1").count() == 1
        # the clone's v0 still time-travels to the cloned snapshot
        assert txlog.read_table(spark, dst, version=0).count() == 990

    def test_dv_on_clone_and_format_reader(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        _register_source(spark)
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        # a DV delete ON THE CLONE must merge with the cloned vector
        txlog.delete_where(spark, dst, F.col("k") % 7 == 0, mode="dv")
        expect = [i for i in range(1000) if i % 100 and i % 7]
        assert txlog.read_table(spark, dst).count() == len(expect)
        fmt = spark.read.format("txlog").option("path", dst).load()
        assert fmt.count() == len(expect)
        # pruning through absolute references
        got = txlog.read_table(spark, dst, where="k >= 900").count()
        assert got == sum(1 for i in expect if i >= 900)

    def test_clone_vacuum_never_touches_source(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        txlog.delete_where(spark, dst, F.col("k") < 900)  # retire refs
        removed = txlog.vacuum(dst, keep_versions=1, retention_seconds=0)
        assert all(not os.path.isabs(f) for f in removed)
        assert txlog.read_table(spark, src).count() == 990
        assert txlog.read_table(spark, dst).count() == sum(
            1 for i in range(900, 1000) if i % 100
        )

    def test_clone_guards(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        txlog.create_table(
            spark.range(10).select(
                (F.col("id") % 2).cast("string").alias("p"),
                F.col("id").alias("k"),
            ),
            src,
            partition_by="p",
        )
        # round 12: partitioned sources CLONE now (values restored
        # from the log; tests/test_round12_ops.py carries the battery)
        txlog.shallow_clone(spark, src, dst)
        assert txlog.table_partitioning(dst) == ["p"]
        assert txlog.read_table(spark, dst).count() == 10
        plain = str(tmp_path / "plain")
        txlog.create_table(
            spark.range(5).select(F.col("id").alias("k")), plain
        )
        txlog.shallow_clone(spark, plain, str(tmp_path / "c1"))
        with pytest.raises(ValueError, match="already exists"):
            txlog.shallow_clone(spark, plain, str(tmp_path / "c1"))

    def test_clone_constraints_and_protocol_carry(self, spark, tmp_path):
        from onechronos_etl_takehome_spark.sources.constraints import (
            ConstraintViolation,
            add_constraint,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        txlog.create_table(
            spark.range(10).select(
                F.col("id").alias("k"), (F.col("id") + 1.0).alias("p")
            ),
            src,
        )
        add_constraint(spark, src, "p_pos", "p > 0")
        txlog.shallow_clone(spark, src, dst)
        with pytest.raises(ConstraintViolation):
            txlog.append(
                spark.createDataFrame([(99, -1.0)], "k long, p double"),
                dst,
            )
        assert txlog.table_protocol(dst)["min_writer_version"] >= 2


# ---------------------------------------------------------------------------
# OPTIMIZE ... WHERE (scoped maintenance) and DESCRIBE DETAIL
# ---------------------------------------------------------------------------


class TestScopedOptimizeAndDetail:
    def test_compact_where_touches_only_matching_partition(
        self, spark, table
    ):
        txlog.create_table(
            spark.range(600).select(
                (F.col("id") % 3).cast("string").alias("region"),
                F.col("id").alias("k"),
            ).repartition(4),
            table,
            partition_by="region",
        )
        before = set(txlog.live_files(table))
        v = txlog.compact(
            spark, table, target_bytes=10**9, where="region = '1'"
        )
        assert v is not None
        after = set(txlog.live_files(table))
        # only region=1 files were removed/rewritten
        assert all(
            f.startswith("region=1/") for f in before - after
        )
        assert all(
            f.startswith("region=1/") for f in after - before
        )
        assert (before - after) and len(after) < len(before)
        assert txlog.read_table(spark, table).count() == 600
        # out-of-scope predicate: nothing to do
        assert (
            txlog.compact(
                spark, table, target_bytes=10**9, where="region = 'zz'"
            )
            is None
        )

    def test_zorder_where_scopes_rewrite(self, spark, table):
        txlog.create_table(
            spark.range(400).select(
                (F.col("id") % 2).cast("string").alias("p"),
                F.col("id").alias("k"),
                (F.col("id") * 7 % 100).alias("a"),
            ).repartition(4),
            table,
            partition_by="p",
        )
        before = set(txlog.live_files(table))
        txlog.compact(
            spark, table, target_bytes=10**9, zorder_by=["a"],
            where="p = '0'",
        )
        after = set(txlog.live_files(table))
        assert all(f.startswith("p=0/") for f in before - after)
        assert txlog.read_table(spark, table).count() == 400
        m = txlog.commit_metrics(table)
        assert m["op"] == "zorder" and m["files_carried"] > 0

    def test_describe_detail(self, spark, tmp_path):
        from onechronos_etl_takehome_spark.sources.constraints import (
            add_constraint,
        )

        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        txlog.create_table(
            spark.range(100).select(
                F.col("id").alias("k"), (F.col("id") + 1.0).alias("p")
            ).coalesce(2),
            src,
        )
        add_constraint(spark, src, "p_pos", "p > 0")
        txlog.delete_where(spark, src, F.col("k") % 10 == 0, mode="dv")
        d = txlog.describe_detail(src)
        assert d["num_rows"] == 90 and d["num_files"] == 2
        assert d["num_masked_files"] == 2 and d["num_dv_files"] >= 1
        assert d["constraints"] == ["p_pos"]
        assert d["cloned_from"] is None
        assert d["size_bytes"] > 0
        assert d["protocol"]["min_reader_version"] >= 4
        # as-of detail: the pre-delete state had no masks
        d0 = txlog.describe_detail(src, version=0)
        assert d0["num_rows"] == 100 and d0["num_masked_files"] == 0
        # clone provenance surfaces
        txlog.shallow_clone(spark, src, dst)
        dc = txlog.describe_detail(dst)
        assert dc["cloned_from"] == os.path.realpath(src)
        assert dc["num_rows"] == 90


# ---------------------------------------------------------------------------
# Concurrency: the new DML paths under commit races
# ---------------------------------------------------------------------------


class TestRound11Races:
    def test_dv_delete_racing_append_both_land(self, spark, table):
        """A DV delete losing the version race to a concurrent append
        must re-resolve and land; the final state reflects BOTH."""
        import threading

        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(2),
            table,
        )
        errs = []

        def do_append():
            try:
                txlog.append(
                    spark.range(1000, 1200).select(
                        F.col("id").alias("k"),
                        (F.col("id") * 2).alias("v"),
                    ).coalesce(1),
                    table,
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        def do_delete():
            try:
                txlog.delete_where(
                    spark, table, F.col("k") % 100 == 0, mode="dv"
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        ts = [
            threading.Thread(target=do_append),
            threading.Thread(target=do_delete),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        got = sorted(
            r["k"] for r in txlog.read_table(spark, table).collect()
        )
        # the delete's snapshot may or may not include the appended
        # rows (it re-plans on conflict) — both serializable outcomes
        # are exact: every pre-append key %100!=0 survives, appended
        # keys present, and appended %100 keys either masked or not
        pre = [i for i in range(1000) if i % 100]
        appended = set(got) - set(pre)
        assert [k for k in got if k < 1000] == pre
        assert appended <= set(range(1000, 1200))
        assert {k for k in range(1000, 1200) if k % 100} <= appended
        # the log replays cleanly end-to-end
        assert txlog.table_count(table) == len(got)

    def test_restore_racing_append_is_serializable(self, spark, table):
        """restore_table losing the race re-resolves against the new
        head; whichever serialization wins, the result equals a clean
        sequential application."""
        import threading

        txlog.create_table(
            spark.range(100).select(F.col("id").alias("k")).coalesce(1),
            table,
        )
        v_del = txlog.delete_where(spark, table, F.col("k") < 50)
        errs = []

        def do_append():
            try:
                txlog.append(
                    spark.range(200, 220).select(
                        F.col("id").alias("k")
                    ).coalesce(1),
                    table,
                )
            except Exception as e:  # pragma: no cover
                errs.append(e)

        def do_restore():
            try:
                txlog.restore_table(spark, table, version=v_del - 1)
            except Exception as e:  # pragma: no cover
                errs.append(e)

        ts = [
            threading.Thread(target=do_append),
            threading.Thread(target=do_restore),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        got = sorted(
            r["k"] for r in txlog.read_table(spark, table).collect()
        )
        # restore-first-then-append → 0..99 + 200..219;
        # append-first-then-restore → the restore target predates the
        # append, so the appended file is NOT part of the target live
        # set and is retired: 0..99 exactly
        assert got in (
            list(range(100)),
            list(range(100)) + list(range(200, 220)),
        )
        assert txlog.table_count(table) == len(got)
