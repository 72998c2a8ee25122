"""DuckDB parity for every registered query.

Runs each ``queries()`` entry in Spark and its oracle in DuckDB at sf0.01,
and compares row count, column names and the order-insensitive value hash
of the correctness check (via tools/check_oracle.py helpers), so a
regression in any query fails pytest locally.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tools"))

import __spark_entry__ as E  # noqa: E402
from check_oracle import TABLES, type_guard, value_hash  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("name", list(E.queries()))
def test_deferred_query_matches_oracle(spark, duck, name):
    qs, oracles = E.queries(), E.oracle_sql()
    assert name in oracles, f"query {name} has no oracle"
    assert not type_guard(duck, {name: oracles[name]})

    spark.catalog.clearCache()
    sdf = qs[name](spark, SF_DIR)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]
    # a query leaves no cached frame behind in the caller's session
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    res = duck.execute(oracles[name])
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()

    assert len(s_rows) == len(d_rows)
    assert sorted(s_cols) == sorted(d_cols)
    assert value_hash(s_cols, s_rows) == value_hash(d_cols, d_rows)
