"""Zero-cost-by-default row-count observability: the package's one
row-count instrument.

A count rides an action the caller runs anyway: ``observe_count``
attaches a named ``Observation`` (``count AS n`` plus any extra
aggregates) to a frame, Spark computes it inside the same job as the
query — no second scan, no extra shuffle — and :func:`drain` reads it
after the action. Who counts through it:

- the reconciliation pipeline (``pipeline/etl.py``): raw, post_dedup
  and post_cancel on the cached lineage, valid (with the discrepancy
  sum) and invalid on the two sink projections;
- corpus preparation (``pipeline/corpus.py``): docs in and quality
  survivors;
- ``sources/upsert.py::upsert``: the rows of the version it writes;
- the fuzzy-dedup operators (LSH buckets, prefix filters, deletion /
  pigeonhole signatures): each candidate stage, so a harness sees
  candidate-pair growth before it is a wall-time blowup.

Scope: ``capture_counts()`` holds its sink in a ``ContextVar``, so a
capture is private to the thread (or context) that opened it, and a
nested capture restores the outer one when it closes. Outside a
capture every hook returns its frame itself, so the plan is the
uninstrumented one.
"""

from __future__ import annotations

from contextlib import contextmanager
from contextvars import ContextVar
from typing import Any, Iterator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.observation import Observation

_SINK: ContextVar[dict[str, Observation] | None] = ContextVar(
    "observability_sink", default=None
)


def observe_count(tag: str, df: DataFrame, *extra: Column) -> DataFrame:
    """Attach a row-count observation (``n``, plus the ``extra``
    aggregate columns) to ``df`` when a capture is active; identity
    otherwise. Calling twice with the same tag (e.g. bench reps
    re-building the query) keeps the latest observation."""
    sink = _SINK.get()
    if sink is None:
        return df
    obs = Observation()
    sink[tag] = obs
    return df.observe(obs, F.count(F.lit(1)).alias("n"), *extra)


@contextmanager
def capture_counts() -> Iterator[dict[str, Observation]]:
    """Activate the hooks in this context for the block; yields the
    tag→Observation sink. Read it with :func:`drain` AFTER the query's
    action has completed (``Observation.get`` blocks until the
    observed plan's first action finishes)."""
    sink: dict[str, Observation] = {}
    token = _SINK.set(sink)
    try:
        yield sink
    finally:
        _SINK.reset(token)


def drain(sink: dict[str, Observation]) -> dict[str, dict[str, Any]]:
    """Every observed field per tag, e.g. ``{"valid": {"n": 9, "d":
    2}}`` (call after the action)."""
    return {tag: obs.get for tag, obs in sink.items()}
