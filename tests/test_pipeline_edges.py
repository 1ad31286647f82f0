"""Edge cases the reference leaves untested (FIXTURES.md): fill
fan-out on duplicate our_trade_id, the partitioned output mode, and the
two-action run's sink-side metrics (empty sinks, a failing sink)."""

from __future__ import annotations

import sys

import pytest

from pyspark.sql import functions as F

from onechronos_etl_takehome_spark.pipeline import (
    ReconciliationPipeline,
    default_config,
)


@pytest.fixture()
def tiny_inputs(tmp_path):
    (tmp_path / "trades.csv").write_text(
        "trade_id,timestamp,symbol,quantity,price,buyer_id,seller_id,trade_status\n"
        "T1,2024-01-15T10:00:00.000Z,AAPL,10,100.5,B1,S1,EXECUTED\n"
        "T2,2024-01-15T11:00:00.000Z,AAPL,20,200.5,B2,S2,EXECUTED\n"
    )
    # T1 has TWO fills — the fan-out case
    (tmp_path / "counterparty_fills.csv").write_text(
        "external_ref_id,our_trade_id,timestamp,symbol,quantity,price,counterparty_id\n"
        "E1,T1,2024-01-15T10:01:00.000Z,AAPL,10,100.5,CP1\n"
        "E2,T1,2024-01-15T10:02:00.000Z,AAPL,11,100.5,CP1\n"
    )
    (tmp_path / "symbols_reference.csv").write_text(
        "symbol,company_name,sector,is_active\nAAPL,Apple,Tech,true\n"
    )
    return str(tmp_path)


def test_fill_fanout_reference_behavior(spark, tiny_inputs, tmp_path):
    # default (reference semantics): duplicate fills fan the trade out
    out = tmp_path / "out_ref"
    out.mkdir()
    pipe = ReconciliationPipeline(spark, input_dir=tiny_inputs)
    m = pipe.run(str(out))
    assert m["successful_trades"] == 3  # T1 twice + T2


def test_fill_fanout_guard(spark, tiny_inputs, tmp_path):
    cfg = default_config()
    cfg["data_quality"]["dedupe_fills"] = True
    out = tmp_path / "out_guarded"
    out.mkdir()
    pipe = ReconciliationPipeline(spark, cfg, input_dir=tiny_inputs)
    m = pipe.run(str(out))
    assert m["successful_trades"] == 2  # one row per trade, fill E1 kept


def test_partitioned_output_mode(spark, tiny_inputs, tmp_path):
    cfg = default_config()
    cfg["output"]["single_file"] = False
    out = tmp_path / "out_part"
    out.mkdir()
    pipe = ReconciliationPipeline(spark, cfg, input_dir=tiny_inputs)
    m = pipe.run(str(out))
    back = spark.read.json(str(out / "cleaned_trades.json"))
    assert back.count() == m["successful_trades"]
    assert back.filter(F.col("trade_id") == "T2").count() == 1


# -- two-action run: coalesced cache, sink-side metrics, overlapped sinks --


def _write_inputs(directory, n, invalid):
    """Reference-shaped inputs over ``n`` trades whose metrics follow
    from the construction: every 10th trade is duplicated, every 5th
    (offset 1) cancelled, ``invalid(i)`` ones carry an unknown symbol,
    and fills alternate discrepant / exact / missing."""
    trades = [
        "trade_id,timestamp,symbol,quantity,price,buyer_id,seller_id,trade_status"
    ]
    fills = [
        "external_ref_id,our_trade_id,timestamp,symbol,quantity,price,counterparty_id"
    ]
    expected = dict.fromkeys(
        [
            "processed_trades",
            "duplicate_trades",
            "cancelled_trades",
            "successful_trades",
            "invalid_trades",
            "discrepancy_trades",
        ],
        0,
    )
    for i in range(n):
        tid = f"T{i:05d}"
        symbol = "INVALID_SYM" if invalid(i) else "AAPL"
        status = "CANCELLED" if i % 5 == 1 else "EXECUTED"
        row = f"{tid},2024-01-15T10:00:00.000Z,{symbol},10,100.5,B{i},S{i},{status}"
        copies = 2 if i % 10 == 0 else 1
        trades += [row] * copies
        expected["processed_trades"] += copies
        expected["duplicate_trades"] += copies - 1
        if i % 3 < 2:
            price = "101.5" if i % 3 == 0 else "100.5"
            fills.append(f"E{i},{tid},2024-01-15T10:01:00.000Z,AAPL,10,{price},CP1")
        if status == "CANCELLED":
            expected["cancelled_trades"] += 1
        elif invalid(i):
            expected["invalid_trades"] += 1
        else:
            expected["successful_trades"] += 1
            expected["discrepancy_trades"] += i % 3 == 0
    (directory / "trades.csv").write_text("\n".join(trades) + "\n")
    (directory / "counterparty_fills.csv").write_text("\n".join(fills) + "\n")
    (directory / "symbols_reference.csv").write_text(
        "symbol,company_name,sector,is_active\nAAPL,Apple,Tech,true\n"
    )
    return expected


def _run(spark, inputs, out, *, single_file, **output):
    cfg = default_config()
    cfg["output"]["single_file"] = single_file
    cfg["output"].update(output)
    out.mkdir(exist_ok=True)
    return ReconciliationPipeline(spark, cfg, input_dir=str(inputs)).run(str(out))


def test_partitioned_sinks_follow_the_data(spark, tmp_path):
    """The cached frame coalesces to the data's size, so a small run
    writes fewer part files than there are shuffle partitions, and both
    sink modes report the same metrics."""
    inputs = tmp_path / "in"
    inputs.mkdir()
    expected = _write_inputs(inputs, 400, lambda i: i % 7 == 2)
    partitioned = _run(spark, inputs, tmp_path / "part", single_file=False)
    single = _run(spark, inputs, tmp_path / "single", single_file=True)
    assert partitioned == single == expected
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for sink in ("cleaned_trades.json", "exceptions_report.json"):
        parts = list((tmp_path / "part" / sink).glob("part-*"))
        assert 0 < len(parts) < shuffle, sink


@pytest.mark.parametrize("single_file", [True, False])
def test_every_trade_invalid(spark, tmp_path, single_file):
    inputs = tmp_path / "in"
    inputs.mkdir()
    expected = _write_inputs(inputs, 60, lambda i: True)
    m = _run(spark, inputs, tmp_path / "out", single_file=single_file)
    # the cleaned sink is empty: its count is 0 and its sum is NULL
    assert m["successful_trades"] == m["discrepancy_trades"] == 0
    assert m == expected


@pytest.mark.parametrize("single_file", [True, False])
def test_every_trade_valid(spark, tmp_path, single_file):
    inputs = tmp_path / "in"
    inputs.mkdir()
    expected = _write_inputs(inputs, 60, lambda i: False)
    m = _run(spark, inputs, tmp_path / "out", single_file=single_file)
    assert m["invalid_trades"] == 0
    assert m == expected


@pytest.mark.parametrize("single_file", [True, False])
def test_unwritable_sink_raises_and_session_recovers(spark, tmp_path, single_file):
    inputs = tmp_path / "in"
    inputs.mkdir()
    expected = _write_inputs(inputs, 60, lambda i: i % 7 == 2)
    out = tmp_path / "out"
    out.mkdir()
    (out / "blocker").write_text("a file, not a directory\n")
    persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
    with pytest.raises(Exception):
        _run(
            spark,
            inputs,
            out,
            single_file=single_file,
            exceptions_report_path="blocker/exceptions_report.json",
        )
    # the cache is dropped on the failure path too
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == persisted
    assert _run(spark, inputs, out, single_file=single_file) == expected


def test_overlapped_sinks_under_fast_thread_switching(spark, tmp_path):
    """The sinks run on two threads and the metrics come from the
    Observations they fire; repeated runs under a short switch interval
    all report the construction's metrics."""
    inputs = tmp_path / "in"
    inputs.mkdir()
    expected = _write_inputs(inputs, 200, lambda i: i % 7 == 2)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for k in range(4):
            out = tmp_path / f"out{k}"
            assert _run(spark, inputs, out, single_file=False) == expected
    finally:
        sys.setswitchinterval(interval)


def test_overlapping_runs_restore_the_split(spark, recon_inputs, tmp_path, monkeypatch):
    """Two runs on one session with different input-split sizes,
    interleaved A-starts, B-starts, A-ends, B-ends: the session's
    ``maxPartitionBytes`` is back at its original value afterwards.
    The split sizing measures every CSV in the input directory, so a
    sparse pad file lifts each run above the 4 MB floor without
    writing megabytes."""
    import shutil
    import threading

    inputs, truth = recon_inputs
    key = "spark.sql.files.maxPartitionBytes"
    before = spark.conf.get(key)
    par = spark.sparkContext.defaultParallelism
    dirs = {}
    for name, per_core_mb in (("a", 6), ("b", 10)):
        d = tmp_path / name
        shutil.copytree(inputs, d)
        with open(d / "pad.csv", "wb") as f:
            f.truncate(per_core_mb * par << 20)
        (tmp_path / f"out_{name}").mkdir()
        dirs[name] = str(d)
    splits = {
        n: ReconciliationPipeline(spark, input_dir=d)._adaptive_split_bytes()
        for n, d in dirs.items()
    }
    assert len({*splits.values(), None}) == 3

    a_in, b_in, a_done = threading.Event(), threading.Event(), threading.Event()
    extract = ReconciliationPipeline.extract

    def interleaved(self):
        if self.input_dir == dirs["a"]:
            a_in.set()
            assert b_in.wait(120)
        else:
            b_in.set()
            assert a_done.wait(300)
        return extract(self)

    monkeypatch.setattr(ReconciliationPipeline, "extract", interleaved)

    def run_a():
        try:
            return ReconciliationPipeline(spark, input_dir=dirs["a"]).run(
                str(tmp_path / "out_a")
            )
        finally:
            a_done.set()

    def run_b():
        assert a_in.wait(120)
        return ReconciliationPipeline(spark, input_dir=dirs["b"]).run(
            str(tmp_path / "out_b")
        )

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(2) as pool:
        fa, fb = pool.submit(run_a), pool.submit(run_b)
        assert fa.result(timeout=600) == truth
        assert fb.result(timeout=600) == truth
    assert spark.conf.get(key) == before
