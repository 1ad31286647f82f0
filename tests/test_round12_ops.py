"""Round-12 fixes and operators: DV-mask basename matching (mixed
path spellings in one vector), RESTORE across empty snapshots, the
live_file_stats copy-out boundary, conditional MERGE, partitioned
shallow clone, and legacy change-file backfill."""

from __future__ import annotations

import os

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
# Advice fix (high): _dv_mask must match by basename whenever the read
# name is not a bare basename — one dv file can carry BOTH spellings of
# one data file (clone DV delete: new absolute-path positions unioned
# with carried source-relative rows), and the old exact-pass-first
# gating skipped the carried rows whenever the exact pass found any.
# ---------------------------------------------------------------------------


class TestDvMaskMixedSpellings:
    def test_both_spellings_in_one_vector_mask(self, tmp_path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            _dv_mask,
        )

        root = str(tmp_path)
        absf = "/abs/elsewhere/src/part-deadbeef.parquet"
        rel = "part-deadbeef.parquet"
        pq.write_table(
            pa.table({"file": [absf, rel], "pos": [3, 1]}),
            os.path.join(root, "dv-1.parquet"),
        )
        dv = {"files": ["dv-1.parquet"]}
        # reading via the ABSOLUTE spelling (clone read): both the new
        # absolute row (pos 3) and the carried relative row (pos 1)
        # are dead — the regression masked only pos 3
        mask = _dv_mask(root, absf, dv, 5).to_pylist()
        assert mask == [True, False, True, False, True]
        # dir-qualified relative spelling (partitioned non-clone
        # table): the DV writer stores the manifest-relative name
        # (txlog._dv_commit maps basename → manifest path), so the
        # exact-name pushdown is complete — round-12 advice restored
        # it after the base==fname gate regressed these reads to full
        # vector scans
        part = "p=1/part-0000cafe.parquet"
        pq.write_table(
            pa.table({"file": [part], "pos": [2]}),
            os.path.join(root, "dv-3.parquet"),
        )
        mask = _dv_mask(root, part, {"files": ["dv-3.parquet"]}, 4)
        assert mask.to_pylist() == [True, True, False, True]
        # bare-basename read (unpartitioned non-clone): exact pushdown
        # path — clone-local files are only ever named by basename, so
        # a single spelling exists and it must still mask
        pq.write_table(
            pa.table({"file": [rel], "pos": [0]}),
            os.path.join(root, "dv-2.parquet"),
        )
        mask = _dv_mask(root, rel, {"files": ["dv-2.parquet"]}, 3)
        assert mask.to_pylist() == [False, True, True]

    def test_clone_dv_delete_format_reader_value_exact(
        self, spark, tmp_path
    ):
        """End-to-end: DV delete on a clone of a DV'd source, then the
        Python-datasource read must equal the JVM read VALUE-exactly
        (the resurrection was silent — counts could even collide)."""
        _register_source(spark)
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(2),
            src,
        )
        txlog.delete_where(spark, src, F.col("k") % 10 == 0, mode="dv")
        txlog.shallow_clone(spark, src, dst)
        txlog.delete_where(spark, dst, F.col("k") % 7 == 0, mode="dv")
        jvm = txlog.read_table(spark, dst)
        fmt = spark.read.format("txlog").option("path", dst).load()
        assert fmt.exceptAll(jvm).count() == 0
        assert jvm.exceptAll(fmt).count() == 0
        expect = [i for i in range(1000) if i % 10 and i % 7]
        assert fmt.count() == len(expect)


# ---------------------------------------------------------------------------
# Advice fix (medium): RESTORE across EMPTY snapshots — undoing a
# delete-everything (current live set empty), and restoring TO an
# empty snapshot — both legitimate states read_table already handles.
# ---------------------------------------------------------------------------


class TestRestoreEmptySnapshots:
    def test_restore_past_delete_everything(self, spark, table):
        txlog.create_table(
            spark.range(100).select(F.col("id").alias("k")), table
        )
        txlog.delete_where(spark, table, F.lit(True))
        assert txlog.read_table(spark, table).count() == 0
        v = txlog.restore_table(spark, table, version=0)
        assert txlog.read_table(spark, table).count() == 100
        # the restore's change files carry exactly the resurrected rows
        feed = txlog.change_feed(spark, table, from_version=v - 1)
        ins = feed.filter("_change = 'insert'")
        assert ins.count() == 100 and feed.count() == 100

    def test_restore_to_empty_snapshot(self, spark, table):
        txlog.create_table(
            spark.range(50).select(F.col("id").alias("k")), table
        )
        txlog.delete_where(spark, table, F.lit(True))  # v1: empty
        txlog.append(
            spark.range(7).select(F.col("id").alias("k")), table
        )  # v2
        v = txlog.restore_table(spark, table, version=1)
        assert txlog.read_table(spark, table).count() == 0
        feed = txlog.change_feed(spark, table, from_version=v - 1)
        assert feed.filter("_change = 'delete'").count() == 7
        assert feed.count() == 7


# ---------------------------------------------------------------------------
# Advice fix (low): live_file_stats hands out a copy — mutating the
# result must not poison the shared fold cache.
# ---------------------------------------------------------------------------


class TestLiveFileStatsCopy:
    def test_caller_mutation_does_not_poison_cache(self, spark, table):
        txlog.create_table(
            spark.range(10).select(F.col("id").alias("k")), table
        )
        stats = txlog.live_file_stats(table)
        fname = next(iter(stats))
        import copy

        before = copy.deepcopy(stats)
        # hostile caller: clobber rows and the nested stats dict
        stats[fname]["rows"] = -999
        stats[fname]["stats"].clear()
        again = txlog.live_file_stats(table)
        assert again[fname]["rows"] == before[fname]["rows"]
        assert again[fname]["stats"] == before[fname]["stats"]
        # and the metadata-only count still agrees
        assert txlog.table_count(table) == 10


# ---------------------------------------------------------------------------
# generate_change_files (round-11 verdict item 5): backfill commit-time
# change files for legacy commits, retiring the read-time diff
# ---------------------------------------------------------------------------


def _strip_cdf_stamps(table):
    """Simulate a legacy (pre-writer-3) table: remove every manifest's
    commit-time change-file stamp and its change files."""
    import json

    for v in txlog.committed_versions(table):
        mf = os.path.join(table, txlog._LOG_DIR, f"{v:08d}.json")
        m = _manifest(table, v)
        if "cdf" in m:
            for e in m["cdf"]["files"]:
                os.unlink(os.path.join(table, e["name"]))
            del m["cdf"]
            os.unlink(mf)
            with open(mf, "w") as f:
                json.dump(m, f)
    txlog._FOLD_CACHE.clear()


class TestGenerateChangeFiles:
    def _lifecycle(self, spark, table):
        txlog.create_table(
            spark.range(1000).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
            ).coalesce(2),
            table,
        )
        txlog.append(
            spark.range(1000, 1200).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(1),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") % 100 == 0)
        txlog.merge_upsert(
            spark, table,
            spark.range(0, 1200, 333).select(
                F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
            ),
            ["k"],
        )

    def test_backfill_matches_derived_and_retires_diff_plan(
        self, spark, table
    ):
        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            _cdf_partitions,
        )

        self._lifecycle(spark, table)
        modern = sorted(
            map(tuple, txlog.change_feed(spark, table, from_version=0)
                .collect())
        )
        _strip_cdf_stamps(table)
        # derived (read-time diff) path still agrees
        derived = sorted(
            map(tuple, txlog.change_feed(spark, table, from_version=0)
                .collect())
        )
        assert derived == modern
        stamped = txlog.generate_change_files(spark, table)
        # exactly the two-sided commits get stamps (delete + merge)
        two_sided = [
            v for v in txlog.committed_versions(table)
            if any("add" in a for a in _manifest(table, v)["actions"])
            and any("remove" in a for a in _manifest(table, v)["actions"])
        ]
        assert stamped == two_sided and len(stamped) == 2
        after = sorted(
            map(tuple, txlog.change_feed(spark, table, from_version=0)
                .collect())
        )
        assert after == modern
        # the streaming planner emits NO diff partition anymore
        schema = txlog.read_table(spark, table).schema.json()
        parts = _cdf_partitions(
            table, -1, txlog.committed_versions(table)[-1], schema, {}
        )
        assert "_CdfDiffPartition" not in {
            type(p).__name__ for p in parts
        }
        # idempotent: a second run stamps nothing
        assert txlog.generate_change_files(spark, table) == []

    def test_nonflat_legacy_table_becomes_streamable(self, spark, table):
        """Non-flat columns refuse the read-time diff at plan time;
        after backfill the same table streams CDF fine."""
        _register_source(spark)
        txlog.create_table(
            spark.range(100).select(
                F.col("id").alias("k"),
                F.array(F.col("id"), F.col("id") * 2).alias("arr"),
            ).coalesce(1),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") % 10 == 0)
        modern = sorted(
            map(tuple, txlog.change_feed(spark, table, from_version=0)
                .collect())
        )
        _strip_cdf_stamps(table)

        def read_cdf():
            return (
                spark.read.format("txlog")
                .option("path", table)
                .option("readChangeFeed", "true")
                .option("startingVersion", 1)
                .load()
            )

        with pytest.raises(Exception, match="non-flat"):
            read_cdf().collect()
        txlog.generate_change_files(spark, table)
        got = sorted(map(tuple, read_cdf().collect()))
        assert got == modern

    def test_backfill_refuses_vacuumed_commits(self, spark, table):
        self._lifecycle(spark, table)
        _strip_cdf_stamps(table)
        txlog.vacuum(table, keep_versions=1, retention_seconds=0)
        with pytest.raises(ValueError, match="no longer reconstructible"):
            txlog.generate_change_files(spark, table)


# ---------------------------------------------------------------------------
# Partitioned shallow clone (round-11 verdict item 4): partition
# values restored from the LOG, clone DML restages under the clone's
# own value directories, vacuum independence intact
# ---------------------------------------------------------------------------


class TestPartitionedClone:
    def _mk_src(self, spark, src, n=1000):
        txlog.create_table(
            spark.range(n).select(
                (F.col("id") % 5).cast("string").alias("p"),
                F.col("id").alias("k"),
                (F.col("id") * 2).alias("v"),
            ),
            src,
            partition_by="p",
        )

    def test_clone_reads_value_exact_and_prunes(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        assert txlog.table_partitioning(dst) == ["p"]
        a = txlog.read_table(spark, src)
        b = txlog.read_table(spark, dst)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        # partition predicate prunes via manifest values: poison a
        # pruned file IN THE SOURCE and prove the clone's filtered
        # read never opens it
        fold = txlog.live_file_stats(dst)
        victim = os.path.join(
            dst,
            next(
                f for f, i in fold.items()
                if i.get("partition", {}).get("p") == "3"
            ),
        )
        good = open(victim, "rb").read()
        try:
            with open(victim, "wb") as fh:
                fh.write(b"poison")
            got = txlog.read_table(
                spark, dst, where="p = '1' AND v >= 100"
            ).count()
            assert got == sum(
                1 for i in range(1000) if i % 5 == 1 and i * 2 >= 100
            )
        finally:
            with open(victim, "wb") as fh:
                fh.write(good)

    def test_clone_dml_restages_under_own_dirs(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        # CoW delete + update with a cross-partition move
        txlog.delete_where(spark, dst, F.col("k") % 100 == 0)
        txlog.update_where(
            spark, dst, F.col("k") == 7, {"p": F.lit("9")}
        )
        exp = {
            (str(9 if i == 7 else i % 5), i, i * 2)
            for i in range(1000)
            if i % 100
        }
        got = {
            (r["p"], r["k"], r["v"])
            for r in txlog.read_table(spark, dst).collect()
        }
        assert got == exp
        # restaged files live under the CLONE's value directories
        for f in txlog.live_files(dst):
            if not os.path.isabs(f):
                assert f.split(os.sep)[0].startswith("p=")
        # source untouched
        assert txlog.read_table(spark, src).count() == 1000
        # clone vacuum never crosses into the source root
        removed = txlog.vacuum(dst, keep_versions=1, retention_seconds=0)
        assert all(not os.path.isabs(f) for f in removed)
        assert txlog.read_table(spark, src).count() == 1000

    def test_partitioned_clone_dv_delete_and_format_reader(
        self, spark, tmp_path
    ):
        _register_source(spark)
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        txlog.delete_where(spark, dst, F.col("k") % 7 == 0, mode="dv")
        expect = [i for i in range(1000) if i % 7]
        jvm = txlog.read_table(spark, dst)
        assert jvm.count() == len(expect)
        fmt = spark.read.format("txlog").option("path", dst).load()
        assert fmt.exceptAll(jvm).count() == 0
        assert jvm.exceptAll(fmt).count() == 0

    def test_optimize_localizes_clone(self, spark, tmp_path):
        """OPTIMIZE on a clone materializes the absolute source
        references under the CLONE's root — after it, the standing
        source-vacuum caveat no longer applies to this clone (every
        live byte is clone-local). Works for partitioned clones too:
        rewrites restage through the partition spec."""
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src)
        txlog.shallow_clone(spark, src, dst)
        assert txlog.compact(spark, dst, target_bytes=10**9) is not None
        live = txlog.live_files(dst)
        assert live and all(not os.path.isabs(f) for f in live)
        assert all(
            f.split(os.sep)[0].startswith("p=") for f in live
        )
        # a hostile source vacuum can no longer hurt the clone
        txlog.vacuum(src, keep_versions=1, retention_seconds=0)
        assert txlog.read_table(spark, dst).count() == 1000
        got = {
            (r["p"], r["k"]) for r in
            txlog.read_table(spark, dst).select("p", "k").collect()
        }
        assert got == {(str(i % 5), i) for i in range(1000)}

    def test_partitioned_clone_merge_into(self, spark, tmp_path):
        src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
        self._mk_src(spark, src, n=500)
        txlog.shallow_clone(spark, src, dst)
        cdc = spark.createDataFrame(
            [(3, "D", None), (4, "U", 999)],
            "k long, op string, nv long",
        )
        txlog.merge_into(
            spark, dst, cdc, ["k"],
            clauses=[
                {"when": "matched", "condition": "s.op = 'D'",
                 "action": "delete"},
                {"when": "matched", "condition": "s.op = 'U'",
                 "action": "update", "set": {"v": "s.nv"}},
            ],
        )
        got = {
            r["k"]: (r["p"], r["v"])
            for r in txlog.read_table(spark, dst).collect()
        }
        assert 3 not in got and got[4] == ("4", 999)
        assert len(got) == 499
        assert txlog.read_table(spark, src).count() == 500


# ---------------------------------------------------------------------------
# Conditional MERGE INTO (round-11 verdict items 2+3): multi-clause
# semantics, DV mode, constraints, 3VL, races
# ---------------------------------------------------------------------------


def _manifest(table, v):
    import json

    with open(
        os.path.join(table, "_txlog", f"{v:08d}.json")
    ) as f:
        return json.load(f)


_CDC_CLAUSES = [
    {"when": "matched", "condition": "s.op = 'D'", "action": "delete"},
    {"when": "matched", "condition": "s.op = 'U'", "action": "update",
     "set": {"v": "s.nv"}},
    {"when": "not_matched", "condition": "s.op <> 'D'",
     "action": "insert",
     "values": {"k": "s.k", "v": "s.nv", "tag": "-1"}},
]


class TestCdfTimestampOptions:
    def test_batch_cdf_timestamp_bounds(self, spark, table):
        """Delta's startingTimestamp/endingTimestamp on the BATCH CDF
        reader: commits resolve by manifest ts with the same rules the
        stream reader and timestampAsOf use."""
        _register_source(spark)
        txlog.create_table(
            spark.range(10).select(F.col("id").alias("k")).coalesce(1),
            table,
        )
        txlog.append(
            spark.range(10, 20).select(F.col("id").alias("k")).coalesce(1),
            table,
        )  # v1
        txlog.append(
            spark.range(20, 30).select(F.col("id").alias("k")).coalesce(1),
            table,
        )  # v2
        t1 = txlog._manifest_ts(table, 1)
        t2 = txlog._manifest_ts(table, 2)

        def cdf(**opts):
            r = (
                spark.read.format("txlog")
                .option("path", table)
                .option("readChangeFeed", "true")
            )
            for k, v in opts.items():
                r = r.option(k, str(v))
            return r.load()

        # startingTimestamp at v1's ts delivers v1 and v2
        got = cdf(startingTimestamp=t1)
        assert sorted(
            r["_version"] for r in got.select("_version").distinct()
            .collect()
        ) == [1, 2]
        # endingTimestamp at v1's ts stops there (newest at-or-before)
        got = cdf(endingTimestamp=t1)
        assert sorted(
            r["_version"] for r in got.select("_version").distinct()
            .collect()
        ) == [0, 1]
        # both bounds: exactly v1..v2
        got = cdf(startingTimestamp=t1, endingTimestamp=t2)
        assert got.count() == 20
        # mutual exclusion
        with pytest.raises(Exception, match="not both"):
            cdf(startingVersion=1, startingTimestamp=t1).collect()
        with pytest.raises(Exception, match="not both"):
            cdf(endingVersion=1, endingTimestamp=t1).collect()
        # a pre-history endingTimestamp refuses loudly
        with pytest.raises(Exception, match="predates"):
            cdf(endingTimestamp=t1 - 10_000).collect()


class TestVacuumDryRun:
    def test_dry_run_reports_without_deleting(self, spark, table):
        txlog.create_table(
            spark.range(100).select(F.col("id").alias("k")).coalesce(1),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") < 50)
        would = txlog.vacuum(
            table, keep_versions=1, retention_seconds=0, dry_run=True
        )
        assert would  # the retired v0 file qualifies
        # nothing was deleted: every reported file still exists and
        # the pre-delete snapshot still reads
        for f in would:
            assert os.path.exists(os.path.join(table, f))
        assert txlog.read_table(spark, table, version=0).count() == 100
        # the real run removes exactly the dry run's report
        removed = txlog.vacuum(
            table, keep_versions=1, retention_seconds=0
        )
        assert removed == would
        for f in would:
            assert not os.path.exists(os.path.join(table, f))


class TestIsolatedView:
    def test_concurrent_pruned_sql_exact(self, spark, table):
        """Each caller's isolated_view owns a fresh relation, so
        concurrent pruned SQL queries can't interleave on a shared
        planned-partition slot — every thread's answers stay exact."""
        import threading

        from onechronos_etl_takehome_spark.streaming.txlog_source import (
            isolated_view,
        )

        txlog.create_table(
            spark.range(10000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ),
            table,
            cluster_by="k",
            cluster_files=8,
        )
        errs = []

        def worker(lo: int, hi: int):
            try:
                with isolated_view(spark, table, prune=True) as v:
                    for _ in range(3):
                        got = spark.sql(
                            f"SELECT COUNT(*) AS n FROM {v} "
                            f"WHERE k >= {lo} AND k < {hi}"
                        ).collect()[0]["n"]
                        assert got == hi - lo, (lo, hi, got)
                        full = spark.sql(
                            f"SELECT COUNT(*) AS n FROM {v}"
                        ).collect()[0]["n"]
                        assert full == 10000, full
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        ts = [
            threading.Thread(target=worker, args=(i * 1000, i * 1000 + 500))
            for i in range(4)
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        # views were dropped on exit
        leftover = [
            t.name for t in spark.catalog.listTables()
            if t.name.startswith("txlog_view_")
        ]
        assert leftover == []


class TestDvBroadcastPin:
    def test_small_dv_read_plans_broadcast_anti_join(self, spark, table):
        """The manifest's exact dead-row counts pin the DV anti-join
        build side as a broadcast — no reliance on AQE runtime stats
        (round-11 verdict, What's wrong #3)."""
        txlog.create_table(
            spark.range(20000).select(
                F.col("id").alias("k"), (F.col("id") * 2).alias("v")
            ).coalesce(2),
            table,
        )
        txlog.delete_where(spark, table, F.col("k") % 500 == 0, mode="dv")
        plan = txlog.read_table(spark, table)._jdf.queryExecution(
        ).executedPlan().toString()
        assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
        assert txlog.read_table(spark, table).count() == 20000 - 40


class TestMergeInto:
    def _mk(self, spark, table, n=10000, files=4):
        txlog.create_table(
            spark.range(n).select(
                F.col("id").alias("k"),
                (F.col("id") * 3).alias("v"),
                (F.col("id") % 7).alias("tag"),
            ).coalesce(files),
            table,
        )

    def _cdc(self, spark, n=10000):
        """op='D' for k%100==0, op='U' (v -> -k) for k%33==0 not
        %100, op='I' new keys n..n+9."""
        base = spark.range(n).select(F.col("id").alias("k"))
        d = base.filter(F.col("k") % 100 == 0).select(
            "k", F.lit("D").alias("op"),
            F.lit(None).cast("long").alias("nv"),
        )
        u = base.filter(
            (F.col("k") % 33 == 0) & (F.col("k") % 100 != 0)
        ).select("k", F.lit("U").alias("op"), (-F.col("k")).alias("nv"))
        i = spark.range(n, n + 10).select(
            F.col("id").alias("k"), F.lit("I").alias("op"),
            F.lit(0).cast("long").alias("nv"),
        )
        return d.unionByName(u).unionByName(i)

    def _expected(self, n=10000):
        out = {}
        for k in range(n):
            if k % 100 == 0:
                continue
            v = -k if k % 33 == 0 else k * 3
            out[k] = (v, k % 7)
        for k in range(n, n + 10):
            out[k] = (0, -1)
        return out

    def test_cow_semantics_exact(self, spark, table):
        self._mk(spark, table)
        v = txlog.merge_into(
            spark, table, self._cdc(spark), ["k"], clauses=_CDC_CLAUSES
        )
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in txlog.read_table(spark, table).collect()
        }
        assert got == self._expected()
        m = txlog.commit_metrics(table, v)
        assert m["op"] == "merge-into"
        assert m["rows_deleted"] == 100
        assert m["rows_updated"] == sum(
            1 for k in range(10000) if k % 33 == 0 and k % 100
        )
        assert m["rows_inserted"] == 10
        # untouched snapshot still time-travels
        assert txlog.read_table(spark, table, version=0).count() == 10000

    def test_dv_equals_cow_and_cdf_identical(self, spark, tmp_path):
        cow_t, dv_t = str(tmp_path / "cow"), str(tmp_path / "dv")
        self._mk(spark, cow_t)
        self._mk(spark, dv_t)
        src = self._cdc(spark)
        txlog.merge_into(spark, cow_t, src, ["k"], clauses=_CDC_CLAUSES)
        v = txlog.merge_into(
            spark, dv_t, src, ["k"], clauses=_CDC_CLAUSES, mode="dv"
        )
        a = txlog.read_table(spark, cow_t)
        b = txlog.read_table(spark, dv_t)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
        fa = txlog.change_feed(spark, cow_t, from_version=0)
        fb = txlog.change_feed(spark, dv_t, from_version=0)
        assert fa.exceptAll(fb).count() == 0
        assert fb.exceptAll(fa).count() == 0
        m = txlog.commit_metrics(dv_t, v)
        assert m["op"] == "merge-into-dv" and m["files_masked"] > 0
        proto = txlog.table_protocol(dv_t)
        assert proto["min_reader_version"] >= 4
        assert proto["min_writer_version"] >= 5

    def test_matched_sparse_bytes_written_drop(self, spark, tmp_path):
        """A CDC batch touching ~0.1% of rows writes far fewer bytes
        in DV mode: postimages + positions, never touched-file
        rewrites (the verdict's MERGE analogue of the x51 probe)."""
        cow_t, dv_t = str(tmp_path / "cow"), str(tmp_path / "dv")
        self._mk(spark, cow_t, n=50000)
        self._mk(spark, dv_t, n=50000)
        src = spark.range(0, 50000, 1000).select(
            F.col("id").alias("k"), F.lit("U").alias("op"),
            F.lit(-1).cast("long").alias("nv"),
        )
        clauses = [
            {"when": "matched", "action": "update", "set": {"v": "s.nv"}}
        ]
        v_cow = txlog.merge_into(
            spark, cow_t, src, ["k"], clauses=clauses
        )
        v_dv = txlog.merge_into(
            spark, dv_t, src, ["k"], clauses=clauses, mode="dv"
        )

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
                    total += os.path.getsize(
                        os.path.join(table, a["add"])
                    )
            for e in (m.get("cdf") or {}).get("files", []):
                total += os.path.getsize(os.path.join(table, e["name"]))
            return total

        bc = commit_new_bytes(cow_t, v_cow)
        bd = commit_new_bytes(dv_t, v_dv)
        assert bc >= 5 * bd, f"cow={bc} dv={bd} ratio={bc / bd:.1f}"
        a = txlog.read_table(spark, cow_t)
        b = txlog.read_table(spark, dv_t)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    def test_3vl_null_condition_falls_through(self, spark, table):
        """A row whose clause condition evaluates NULL must fall
        through to later clauses (and to 'keep'), never match."""
        txlog.create_table(
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "k long, v long"
            ),
            table,
        )
        src = spark.createDataFrame(
            [(1, None), (2, 5), (3, None)],
            "k long, flag long",
        )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[
                # flag > 3 is NULL for k=1,3 → falls through
                {"when": "matched", "condition": "s.flag > 3",
                 "action": "delete"},
                # second clause catches k=3 only
                {"when": "matched", "condition": "t.k = 3",
                 "action": "update", "set": {"v": "t.v + 100"}},
            ],
        )
        got = {
            r["k"]: r["v"]
            for r in txlog.read_table(spark, table).collect()
        }
        assert got == {1: 10, 3: 130}  # k=2 deleted, k=1 untouched

    def test_clause_order_first_true_wins(self, spark, table):
        txlog.create_table(
            spark.createDataFrame([(1, 1)], "k long, v long"), table
        )
        src = spark.createDataFrame([(1, 9)], "k long, nv long")
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[
                {"when": "matched", "action": "update",
                 "set": {"v": "s.nv"}},
                {"when": "matched", "action": "delete"},  # unreachable
            ],
        )
        got = [
            (r["k"], r["v"])
            for r in txlog.read_table(spark, table).collect()
        ]
        assert got == [(1, 9)]

    def test_insert_star_defaults(self, spark, table):
        """values=None is INSERT *: same-name source columns land,
        missing target columns NULL-fill, extra source columns drop."""
        txlog.create_table(
            spark.createDataFrame([(1, 1, 1)], "k long, v long, w long"),
            table,
        )
        src = spark.createDataFrame(
            [(2, 22, "x")], "k long, v long, extra string"
        )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[{"when": "not_matched", "action": "insert"}],
        )
        got = sorted(
            (r["k"], r["v"], r["w"])
            for r in txlog.read_table(spark, table).collect()
        )
        assert got == [(1, 1, 1), (2, 22, None)]

    def test_check_constraints_enforced_on_postimages(self, spark, table):
        from onechronos_etl_takehome_spark.sources.constraints import (
            ConstraintViolation,
            add_constraint,
        )

        self._mk(spark, table, n=100)
        add_constraint(spark, table, "v_nonneg", "v >= 0")
        before = txlog.committed_versions(table)[-1]
        src = spark.createDataFrame([(5, -1)], "k long, nv long")
        for mode in ("cow", "dv"):
            with pytest.raises(ConstraintViolation):
                txlog.merge_into(
                    spark, table, src, ["k"],
                    clauses=[{"when": "matched", "action": "update",
                              "set": {"v": "s.nv"}}],
                    mode=mode,
                )
        # nothing committed
        assert txlog.committed_versions(table)[-1] == before
        assert txlog.read_table(spark, table).filter("v < 0").count() == 0

    def test_guards(self, spark, table):
        self._mk(spark, table, n=10)
        src = spark.createDataFrame([(1, 1)], "k long, nv long")
        with pytest.raises(ValueError, match="clause"):
            txlog.merge_into(spark, table, src, ["k"], clauses=[])
        with pytest.raises(ValueError, match="supported"):
            txlog.merge_into(
                spark, table, src, ["k"],
                clauses=[{"when": "matched", "action": "insert"}],
            )
        with pytest.raises(ValueError, match="unknown column"):
            txlog.merge_into(
                spark, table, src, ["k"],
                clauses=[{"when": "matched", "action": "update",
                          "set": {"nope": "1"}}],
            )
        dup = spark.createDataFrame(
            [(1, 1), (1, 2)], "k long, nv long"
        )
        with pytest.raises(ValueError, match="multiple rows per key"):
            txlog.merge_into(
                spark, table, dup, ["k"],
                clauses=[{"when": "matched", "action": "update",
                          "set": {"v": "s.nv"}}],
            )
        bad = spark.createDataFrame([(1, 1)], "k long, s long")
        with pytest.raises(ValueError, match="alias structs"):
            txlog.merge_into(
                spark, table, bad, ["k"],
                clauses=[{"when": "matched", "action": "delete"}],
            )

    def test_null_source_keys_never_match(self, spark, table):
        txlog.create_table(
            spark.createDataFrame([(1, 1)], "k long, v long"), table
        )
        src = spark.createDataFrame(
            [(None, 7), (None, 8)], "k long, nv long"
        )
        # duplicate NULL keys are fine (they can only insert)
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[
                {"when": "matched", "action": "delete"},
                {"when": "not_matched", "action": "insert",
                 "values": {"k": "s.nv", "v": "s.nv"}},
            ],
        )
        got = sorted(
            r["k"] for r in txlog.read_table(spark, table).collect()
        )
        assert got == [1, 7, 8]

    def test_empty_table_all_inserts(self, spark, table):
        txlog.create_table(
            spark.createDataFrame([], "k long, v long"), table
        )
        src = spark.createDataFrame(
            [(1, 10), (2, 20)], "k long, v long"
        )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[{"when": "not_matched", "action": "insert"}],
        )
        got = sorted(
            (r["k"], r["v"])
            for r in txlog.read_table(spark, table).collect()
        )
        assert got == [(1, 10), (2, 20)]

    def test_partitioned_merge_preserves_layout(self, spark, table):
        txlog.create_table(
            spark.range(100).select(
                (F.col("id") % 4).cast("string").alias("p"),
                F.col("id").alias("k"),
                F.col("id").alias("v"),
            ),
            table,
            partition_by="p",
        )
        src = spark.createDataFrame(
            [(5, 500), (200, 2000)], "k long, nv long"
        )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[
                {"when": "matched", "action": "update",
                 "set": {"v": "s.nv"}},
                {"when": "not_matched", "action": "insert",
                 "values": {"p": "'9'", "k": "s.k", "v": "s.nv"}},
            ],
        )
        got = {
            r["k"]: (r["p"], r["v"])
            for r in txlog.read_table(spark, table).collect()
        }
        assert got[5] == ("1", 500) and got[200] == ("9", 2000)
        assert len(got) == 101
        # every live file sits in its partition-value directory
        for f in txlog.live_files(table):
            assert f.split(os.sep)[0].startswith("p=")

    def test_evolve_schema_insert_star_and_set(self, spark, table):
        """Delta's autoMerge: new source columns extend the table —
        existing rows null-fill, INSERT * lands the values, SET may
        target the new column; default mode still refuses."""
        txlog.create_table(
            spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
            table,
        )
        src = spark.createDataFrame(
            [(2, 99, "beta"), (3, 30, "gamma")],
            "k long, v long, label string",
        )
        # default: targeting the unknown column refuses with a hint
        with pytest.raises(ValueError, match="evolve_schema"):
            txlog.merge_into(
                spark, table, src, ["k"],
                clauses=[{"when": "matched", "action": "update",
                          "set": {"label": "s.label"}}],
            )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[
                {"when": "matched", "action": "update",
                 "set": {"v": "s.v", "label": "s.label"}},
                {"when": "not_matched", "action": "insert"},
            ],
            evolve_schema=True,
        )
        got = {
            r["k"]: (r["v"], r["label"])
            for r in txlog.read_table(spark, table).collect()
        }
        # k=1 untouched (carried file null-fills), k=2 updated,
        # k=3 inserted with the evolved column
        assert got == {1: (10, None), 2: (99, "beta"), 3: (30, "gamma")}
        # the manifest schema evolved
        assert "label" in txlog.read_table(spark, table).columns
        # a later plain append without the column still works
        txlog.append(
            spark.createDataFrame([(4, 40)], "k long, v long"), table
        )
        assert txlog.read_table(spark, table).filter(
            "label IS NULL"
        ).count() == 2

    def test_evolve_schema_dv_mode(self, spark, table):
        txlog.create_table(
            spark.createDataFrame(
                [(1, 10), (2, 20), (3, 30)], "k long, v long"
            ).coalesce(1),
            table,
        )
        src = spark.createDataFrame(
            [(2, "hot")], "k long, tag string"
        )
        txlog.merge_into(
            spark, table, src, ["k"],
            clauses=[{"when": "matched", "action": "update",
                      "set": {"tag": "s.tag"}}],
            mode="dv", evolve_schema=True,
        )
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in txlog.read_table(spark, table).collect()
        }
        assert got == {1: (10, None), 2: (20, "hot"), 3: (30, None)}

    def test_cdf_stream_reads_merge_commit(self, spark, table):
        """The streaming CDF path consumes a merge-into commit's
        change files exactly like the batch feed."""
        _register_source(spark)
        self._mk(spark, table, n=2000)
        txlog.merge_into(
            spark, table, self._cdc(spark, n=2000), ["k"],
            clauses=_CDC_CLAUSES,
        )
        batch = txlog.change_feed(spark, table, from_version=0)
        fmt = (
            spark.read.format("txlog")
            .option("path", table)
            .option("readChangeFeed", "true")
            .option("startingVersion", 1)
            .load()
        )
        assert fmt.exceptAll(batch).count() == 0
        assert batch.exceptAll(fmt).count() == 0

    def test_merge_racing_append_is_serializable(self, spark, table):
        import threading

        self._mk(spark, table, n=1000, files=2)
        errs = []

        def do_append():
            try:
                txlog.append(
                    spark.range(2000, 2100).select(
                        F.col("id").alias("k"),
                        (F.col("id") * 3).alias("v"),
                        (F.col("id") % 7).alias("tag"),
                    ).coalesce(1),
                    table,
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        def do_merge():
            try:
                txlog.merge_into(
                    spark, table,
                    self._cdc(spark, n=1000), ["k"],
                    clauses=_CDC_CLAUSES,
                )
            except Exception as e:  # pragma: no cover - surfaced below
                errs.append(e)

        ts = [
            threading.Thread(target=do_append),
            threading.Thread(target=do_merge),
        ]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        assert not errs, errs
        got = {
            r["k"]: (r["v"], r["tag"])
            for r in txlog.read_table(spark, table).collect()
        }
        exp = self._expected(n=1000)
        # appended keys 2000..2099 are outside every clause population
        # except not_matched_by_source (none here): present unmodified
        # under either serialization
        for k in range(2000, 2100):
            assert got.pop(k) == (k * 3, k % 7)
        assert got == exp
        assert txlog.table_count(table) == len(exp) + 100
