"""The row-count instrument (observability.py): identity outside a
capture, a sink private to the context that opened it, nested
captures, and the one place in the package that builds observations."""

from __future__ import annotations

import ast
import pathlib
from concurrent.futures import ThreadPoolExecutor
from threading import Event

import onechronos_etl_takehome_spark as pkg
from onechronos_etl_takehome_spark.observability import (
    capture_counts,
    drain,
    observe_count,
)
from onechronos_etl_takehome_spark.pipeline import ReconciliationPipeline


def _plan(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


def test_identity_outside_a_capture(spark):
    df = spark.range(5)
    plan = _plan(df)
    assert observe_count("x", df) is df
    assert _plan(df) == plan
    assert "CollectMetrics" not in plan


def test_capture_is_private_to_its_thread(spark):
    """Thread A opens a capture; thread B opens and closes its own;
    A's next observation still lands in A's sink."""
    a_open, b_done = Event(), Event()
    df = spark.range(3)

    def a() -> dict:
        with capture_counts() as sink:
            a1 = observe_count("a1", df)
            a_open.set()
            assert b_done.wait(120)
            a2 = observe_count("a2", df)
            assert a2 is not df
            a1.collect()
            a2.collect()
        return drain(sink)

    def b() -> dict:
        assert a_open.wait(120)
        try:
            with capture_counts() as sink:
                observe_count("b1", spark.range(5)).collect()
            return drain(sink)
        finally:
            b_done.set()

    with ThreadPoolExecutor(2) as pool:
        fa, fb = pool.submit(a), pool.submit(b)
        got_a, got_b = fa.result(timeout=300), fb.result(timeout=300)
    assert got_a == {"a1": {"n": 3}, "a2": {"n": 3}}
    assert got_b == {"b1": {"n": 5}}


def test_nested_capture_restores_the_outer_one(spark):
    df = spark.range(4)
    with capture_counts() as outer:
        with capture_counts() as inner:
            observe_count("inner", df).collect()
        observe_count("outer", df.filter("id > 0")).collect()
    assert drain(inner) == {"inner": {"n": 4}}
    assert drain(outer) == {"outer": {"n": 3}}
    assert observe_count("after", df) is df


def test_extra_aggregates_ride_the_count(spark):
    from pyspark.sql import functions as F

    with capture_counts() as sink:
        observe_count("t", spark.range(6), F.sum("id").alias("s")).collect()
    assert drain(sink) == {"t": {"n": 6, "s": 15}}


def test_transform_outside_run_is_unobserved(spark, recon_inputs, tmp_path):
    inputs, truth = recon_inputs
    pipe = ReconciliationPipeline(spark, input_dir=inputs)
    assert "CollectMetrics" not in _plan(pipe.transform(*pipe.extract()))
    got = ReconciliationPipeline(spark, input_dir=inputs).run(str(tmp_path))
    assert got == truth


def test_observations_are_built_only_by_observability():
    """Within the package only observability.py constructs an
    ``Observation`` or calls ``DataFrame.observe``."""

    def builds(node) -> bool:
        if not isinstance(node, ast.Call):
            return False
        f = node.func
        return (isinstance(f, ast.Name) and f.id == "Observation") or (
            isinstance(f, ast.Attribute) and f.attr in ("Observation", "observe")
        )

    root = pathlib.Path(pkg.__file__).parent
    offenders = sorted(
        src.relative_to(root).as_posix()
        for src in root.rglob("*.py")
        if src != root / "observability.py"
        if any(builds(n) for n in ast.walk(ast.parse(src.read_text())))
    )
    assert offenders == []
