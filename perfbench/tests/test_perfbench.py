"""Self-tests for the benchmark: seeded generators, ground truth, the
percentile rule, and the parsing of Spark's metric strings.

Run from the root of a checkout: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from stats import tail_percentile  # noqa: E402
from tracing import parse_metric  # noqa: E402


def test_trades_are_deterministic_per_seed():
    a, b = gen.make_trades(5, 3_000, n_slices=4), gen.make_trades(5, 3_000, n_slices=4)
    assert a.trades == b.trades and a.fills == b.fills and a.truth == b.truth
    assert all(np.array_equal(a.stream_truth[k], b.stream_truth[k]) for k in a.stream_truth)
    assert gen.make_trades(6, 3_000).trades != a.trades


def test_ledger_and_vectors_are_deterministic_per_seed():
    x, y = gen.ledger_batch(3, 2, 500), gen.ledger_batch(3, 2, 500)
    assert all(np.array_equal(x.rows[k], y.rows[k]) for k in x.rows)
    assert (x.cents_delta, x.cancelled, x.live_aapl) == (y.cents_delta, y.cancelled, y.live_aapl)
    assert not np.array_equal(gen.ledger_batch(4, 2, 500).rows["quantity"], x.rows["quantity"])
    c1, q1 = gen.make_embeddings(3, 1_000, 8, 4)
    c2, q2 = gen.make_embeddings(3, 1_000, 8, 4)
    assert np.array_equal(c1, c2) and np.array_equal(q1, q2)


def test_trades_follow_the_fixture_shape():
    ts = gen.make_trades(9, 20_000)
    t = ts.truth
    assert 0.08 < t["duplicate_trades"] / t["processed_trades"] < 0.10
    assert 0.18 < t["cancelled_trades"] / (t["processed_trades"] - t["duplicate_trades"]) < 0.23
    symbols = [r[2] for r in ts.trades]
    assert gen.INACTIVE in symbols and 0.09 < symbols.count(gen.UNKNOWN) / len(symbols) < 0.12
    assert t["discrepancy_trades"] > 0 and t["invalid_trades"] > 0


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "1g")
    from onechronos_etl_takehome_spark.session import get_spark

    session = get_spark("perfbench-tests", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield session
    session.stop()


def test_truth_matches_the_pipeline_on_a_tiny_seed(spark, tmp_path):
    from onechronos_etl_takehome_spark.pipeline.etl import ReconciliationPipeline

    ts = gen.make_trades(7, 2_000)
    gen.write_recon_inputs(ts, str(tmp_path / "in"))
    got = ReconciliationPipeline(spark, input_dir=str(tmp_path / "in")).run(str(tmp_path))
    assert got == ts.truth


def test_topk_reference_orders_by_score_then_id():
    corpus = np.array([[1, 0], [1, 0], [0, 1], [1, 1]], dtype=np.float32)
    ids, scores = gen.topk_reference(corpus, np.array([[1, 0]], dtype=np.float32), 3)
    assert ids.tolist() == [[0, 1, 3]]
    assert scores[0, 0] == pytest.approx(1.0) and scores[0, 2] == pytest.approx(2 ** -0.5)


@pytest.mark.parametrize(
    "n, expected",
    [(5, None), (19, None), (20, 50.0), (99, 50.0), (100, 90.0), (999, 90.0),
     (1_000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    got = tail_percentile([float(i) for i in range(n)])
    assert (got and got[0]) == expected
    if got:
        assert sum(1 for i in range(n) if i > got[1]) >= 10


@pytest.mark.parametrize(
    "text, expected",
    [("1,000", 1000.0), ("16.1 MiB", 16.1 * (1 << 20)), ("0.0 B", 0.0), ("2.1 s", 2100.0),
     ("265 ms", 265.0), ("1.5 m", 90_000.0),
     ("total (min, med, max (stageId: taskId))\n816 ms (182 ms, 215 ms, 222 ms (stage 0.0: task 2))", 816.0)],
)
def test_parse_metric_reads_spark_formatted_values(text, expected):
    assert parse_metric(text) == pytest.approx(expected)

