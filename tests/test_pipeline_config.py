"""Config-driven behavior of the reconciliation pipeline: each
data_quality toggle changes exactly what it claims and the metrics
stay self-consistent (reconcile-by-subtraction invariants). Inputs and
their expected counts come from the benchmark's seeded generator
(``recon_inputs`` in conftest.py)."""

from __future__ import annotations

import pytest

from onechronos_etl_takehome_spark.pipeline import (
    ReconciliationPipeline,
    default_config,
)


def _run(spark, inputs, tmp_path, **dq_overrides):
    cfg = default_config()
    cfg["data_quality"].update(dq_overrides)
    pipe = ReconciliationPipeline(spark, cfg, input_dir=inputs)
    return pipe.run(str(tmp_path))


def test_no_dedup_keeps_duplicates(spark, recon_inputs, tmp_path):
    inputs, truth = recon_inputs
    m = _run(spark, inputs, tmp_path, filter_duplicates=False)
    # duplicates are not measured (0) nor removed; cancelled filter
    # then drops more rows (duplicated cancelled rows counted too)
    assert m["duplicate_trades"] == 0
    assert m["processed_trades"] == truth["processed_trades"]
    assert m["cancelled_trades"] > truth["cancelled_trades"]
    assert (
        m["successful_trades"] + m["invalid_trades"]
        == m["processed_trades"] - m["cancelled_trades"]
    )


def test_no_cancel_filter_keeps_cancelled(spark, recon_inputs, tmp_path):
    inputs, truth = recon_inputs
    m = _run(spark, inputs, tmp_path, filter_cancelled_trades=False)
    assert m["cancelled_trades"] == 0
    assert m["duplicate_trades"] == truth["duplicate_trades"]
    assert (
        m["successful_trades"] + m["invalid_trades"]
        == m["processed_trades"] - m["duplicate_trades"]
    )


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_metrics_are_tz_invariant(spark, recon_inputs, tmp_path, tz):
    inputs, truth = recon_inputs
    cfg = default_config()
    pipe = ReconciliationPipeline(spark, cfg, input_dir=inputs, session_tz=tz)
    m = pipe.run(str(tmp_path))
    assert m == truth
