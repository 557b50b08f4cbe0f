"""Cross-check every registered query against its DuckDB oracle.

Mirrors the driver's t2 gate (BASELINE.md) locally at sf0.001 so
regressions surface in `pytest` before a round ends. Queries without an
oracle get a rows-run smoke check.
"""

from __future__ import annotations

import glob
import os
import tempfile

import pytest

from end_to_end_data_engineering_pipeline_spark.queries import all_oracles, all_queries

from .oracle_harness import compare, duckdb_con

QUERIES = all_queries()
ORACLES = all_oracles()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duckdb_con(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, con):
    df = QUERIES[name](spark, sf_dir)
    if name in ORACLES:
        oracle_pdf = con.execute(ORACLES[name]).fetchdf()
        problems = compare(df, oracle_pdf, name)
        assert not problems, "\n".join(problems)
    else:
        # rows-only smoke: must execute and have a stable schema
        assert df.columns
        df.count()


def test_p5_removes_its_warehouse(spark, sf_dir):
    pattern = os.path.join(tempfile.gettempdir(), "p5_incr_*")
    before = set(glob.glob(pattern))
    assert QUERIES["p5_incremental_gold"](spark, sf_dir).collect()
    assert set(glob.glob(pattern)) <= before
