"""Every registered query against its DuckDB oracle (row count, sorted
columns, order-insensitive value hash and dtype classes) on the test
scale factor, through the same comparison as ``tools/check_oracle.py``.
A failure reports the first differing line."""

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

import __spark_entry__ as entry  # noqa: E402
from check_oracle import check_query, open_oracle  # noqa: E402

QUERIES = entry.queries()
ORACLES = entry.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = open_oracle(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    status, lines = check_query(spark, duck, sf_dir, name, QUERIES[name], ORACLES[name])
    assert status == "OK", "\n".join(lines)
