"""Scale-posture assertions: the physical plans must show the
properties the 100-TB design claims — pushdown, pruning, broadcasts.
These are plan-shape tests, so they run in milliseconds and fail the
moment a refactor silently loses an optimization."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from onechronos_etl_takehome_spark.operators.skew import salted_join
from onechronos_etl_takehome_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = QUERIES[name](spark, SF)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_q01_pushdown_and_pruning(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "LessThanOrEqual(l_shipdate" in plan  # filter reached the scan
    # projection pruned: the scan must not read join keys it doesn't need
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q02_broadcasts_dimensions(spark):
    plan = _plan(spark, "q02_revenue_by_nation")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan  # dims never sort-merge


def test_q06_selective_filters_pushed(spark):
    plan = _plan(spark, "q06_promo_revenue")
    assert "GreaterThanOrEqual(l_shipdate" in plan
    assert "PushedFilters: []" not in plan.split("Scan parquet")[1]


def test_q17_range_join_is_hash_not_nested_loop(spark):
    plan = _plan(spark, "q17_shipments_within_60d")
    assert "NestedLoop" not in plan  # equi-key carries the join
    assert "Join" in plan


def test_asof_join_single_shuffle(spark):
    plan = _plan(spark, "q19_purchase_last_view_asof")
    # union+window as-of: exactly one Exchange for the window partition
    # (plus AQE-inserted reads) — no join at all.
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    assert plan.count("Exchange") <= 2


def test_no_cartesian_products_anywhere(spark):
    for name in QUERIES:
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name


def test_fills_broadcast_is_size_aware(spark, recon_inputs):
    """The enrichment join must broadcast fills only below the size
    threshold — fills are fact-shaped and OOM executors at scale."""
    from onechronos_etl_takehome_spark.pipeline.etl import (
        ReconciliationPipeline,
        default_config,
    )

    def plan_for(cfg):
        pipe = ReconciliationPipeline(spark, cfg, input_dir=recon_inputs[0])
        validated = pipe.transform(*pipe.extract())
        # simple mode: each operator appears exactly once, so counts
        # below are join counts (formatted mode lists each twice)
        return validated._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "simple"
            )
        )

    # disable size-based auto-broadcast so the hint is the only signal
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = plan_for(default_config())
        assert small.count("BroadcastHashJoin") == 2  # fills + symbols

        big_cfg = default_config()
        big_cfg["tuning"] = {"broadcast_threshold_bytes": 1}
        big = plan_for(big_cfg)
        assert big.count("BroadcastHashJoin") == 1  # symbols only
        assert "SortMergeJoin" in big or "ShuffledHashJoin" in big
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_t08_builds_without_driver_actions(spark):
    """n_docs is computed in-plan: constructing the t08 DataFrame must
    launch zero Spark jobs beyond what any plan construction costs
    (parquet schema inference fires one per fresh read). Calibrate
    against t01 — same table, known action-free — so a reintroduced
    docs.count() shows up as an extra job."""
    # a streaming query leaked by an earlier test would emit async jobs
    # that race these counters — drain them first
    for q in spark.streams.active:
        q.stop()
    tracker = spark.sparkContext._jsc.sc().statusTracker()

    def jobs_to_build(name):
        # min of two measurements: an async job leaked by an earlier
        # test (checkpoint cleanup, listener flush) can land between
        # the counters and inflate a single reading — construction
        # itself is deterministic, so the min is the true count.
        # Count ids ABOVE the prior high-water mark, not list-length
        # deltas: the status tracker evicts old ids past
        # spark.ui.retainedJobs, so in a long suite the length can
        # SHRINK across a measurement (observed -95) while job ids
        # themselves stay monotonic.
        counts = []
        for _ in range(2):
            ids = tracker.getJobIdsForGroup(None)
            high = max(ids) if ids else -1
            QUERIES[name](spark, SF)
            after = tracker.getJobIdsForGroup(None)
            counts.append(sum(1 for j in after if j > high))
        return min(counts)

    baseline = jobs_to_build("t01_text_quality")
    assert jobs_to_build("t08_salient_terms") == baseline


@pytest.mark.parametrize("how", ["inner", "left"])
def test_salted_join_matches_plain_join(spark, how):
    left = spark.createDataFrame(
        [("hot", i) for i in range(50)] + [("cold", 99), ("miss", 1)],
        ["k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", "H"), ("cold", "C"), ("other", "O")], ["k", "tag"]
    )
    plain = left.join(right, ["k"], how).orderBy("k", "v").collect()
    salted = salted_join(left, right, ["k"], how=how, salt_buckets=4)
    assert salted.orderBy("k", "v").collect() == plain


def test_x05_bloom_prefilter_reaches_probe_scan_stage(spark):
    # The bitmap membership test must sit in the orders scan stage
    # (a Filter on xxhash64 bit tests before any Exchange), so the
    # shuffle only carries probable matches.
    plan = _plan(spark, "x05_bloom_semi_join")
    # membership test (seeded xxhash64 + packed-bitmap element_at) present
    assert "xxhash64" in plan and "element_at" in plan
    # and it's evaluated scan-side: the probe branch of the semi join is
    # Filter directly over the parquet scan (no exchange in between).
    assert ":- Filter" in plan  # probe-side filter feeding the join
    bloom_filter_block = next(
        block
        for block in plan.split("\n\n")
        if block.lstrip().startswith("(")
        and "Filter" in block.splitlines()[0]
        and "xxhash64" in block
    )
    # the filter's input is the raw scan output (incl. payload columns),
    # proving it runs before the join/exchange, not after.
    assert "o_totalprice" in bloom_filter_block
    # the semi join itself stays a broadcast join (small build side)
    assert "BroadcastHashJoin LeftSemi" in plan


def test_driver_window_outputs_are_canonicalizer_safe(spark):
    """The correctness driver canonicalizes oracled results with pandas
    (sort_values over every column, then a value hash). Columns pandas
    can't sort — arrays/maps/structs — or whose dtype differs between
    Spark and DuckDB's fetchdf (NTZ timestamps) broke q23 in round 1.
    Pin the contract: every oracled query inside the driver's 50-slot
    evidence window emits only flat, hashable, dtype-stable columns."""
    from onechronos_etl_takehome_spark.plans.catalog import (
        DRIVER_WINDOW,
        ORACLES,
        QUERIES,
    )

    assert list(QUERIES)[: len(DRIVER_WINDOW)] == DRIVER_WINDOW
    bad: dict[str, list] = {}
    for name in DRIVER_WINDOW:
        if name not in ORACLES:
            continue  # rows-only check — schema never reaches pandas
        schema = QUERIES[name](spark, SF).schema
        offenders = [
            f"{f.name}:{f.dataType.simpleString()}"
            for f in schema.fields
            if f.dataType.typeName()
            in ("array", "map", "struct", "timestamp_ntz")
        ]
        if offenders:
            bad[name] = offenders
    assert not bad, f"driver-hash-unsafe output columns: {bad}"


def test_t13_quality_gate_is_scan_stage_only(spark):
    # the Gopher gate is pure Column expressions: any Exchange means a
    # shuffle crept into what must stay embarrassingly parallel
    plan = _plan(spark, "t13_gopher_quality")
    assert "Exchange" not in plan


def test_d12_gram_join_never_broadcasts(spark):
    # both join sides are Generate-amplified (positional n-grams);
    # Catalyst size estimates ignore explosion, so a compile-time
    # broadcast here would ship the whole gram set to every task at
    # scale — the merge hints must hold
    plan = _plan(spark, "d12_duplicate_ngram_spans")
    assert "BroadcastHashJoin" not in plan
    assert "SortMergeJoin" in plan


def test_x07_step_filters_reach_event_scans(spark):
    # the round-7 rewrite collapsed the funnel to ONE events scan and
    # ONE exchange; the OR of the step predicates must still be pushed
    # to that scan so row groups with no step event are skipped — at
    # scale the alternative is reading every event type
    plan = _plan(spark, "x07_window_funnel")
    # formatted explain prints each scan twice (tree node + detail
    # header), so one scan == one "Location:" line
    assert plan.count("Location:") == 1
    assert plan.count("Exchange") <= 2  # one exchange, tree + detail
    assert "EqualTo(event_type,view)" in plan
    assert "EqualTo(event_type,click)" in plan
    assert "EqualTo(event_type,purchase)" in plan
    # pushed as one disjunction, not three separate scans
    assert "Or(" in plan
