"""Every oracled query must hash-match DuckDB — the t2 gate, locally.

Runs every query at sf0.001 and, unless the environment sets
``ORACLE_SF001=0``, at sf0.01 too (the scale the driver uses).
"""

from __future__ import annotations

import os

import pytest

from onechronos_etl_takehome_spark.plans import ORACLES, QUERIES

from .oracle_harness import compare, duckdb_connection

SF_DIRS = ["/root/testdata/sf0.001"]
if os.environ.get("ORACLE_SF001", "1") == "1":
    SF_DIRS.append("/root/testdata/sf0.01")


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_parity(spark, name):
    for sf_dir in SF_DIRS:
        con = duckdb_connection(sf_dir)
        report = compare(QUERIES[name](spark, sf_dir), con, ORACLES[name])
        assert not report["errors"], f"{name}@{sf_dir}: {report['errors']}"
        con.close()


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_unoracled_queries_run(spark, name):
    # rows-only check mirror: the query must execute and return a
    # stable schema at the driver's sf.
    df = QUERIES[name](spark, "/root/testdata/sf0.001")
    assert df.columns
    df.collect()
