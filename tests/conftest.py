from __future__ import annotations

import importlib.util
import os
import sys

import pytest

from onechronos_etl_takehome_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def recon_inputs(tmp_path_factory):
    """(input directory, metrics the pipeline must report) for 2,000
    trades from the benchmark's seeded generator: FIXTURES.md's mix of
    duplicates, cancels, invalid symbols and discrepant fills."""
    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "perfbench", "gen.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen", path)
    gen = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = gen  # dataclasses look their module up
    spec.loader.exec_module(gen)
    trades = gen.make_trades(7, 2_000)
    inputs = str(tmp_path_factory.mktemp("recon_inputs"))
    gen.write_recon_inputs(trades, inputs)
    return inputs, trades.truth


def py_levenshtein(a: str, b: str) -> int:
    """Pure-python DP model shared by the string-join test suites."""
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]
