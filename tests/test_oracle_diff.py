"""Differential tests: every queries() entry vs its DuckDB oracle at sf0.001.

This is a local mirror of the driver's t2 correctness gate — run it before
every commit; a failure here is a failure there.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import SF_DIR
from tests.oracle_diff import compare, duck_connection


@pytest.fixture(scope="module")
def con():
    c = duck_connection(SF_DIR)
    yield c
    c.close()


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["mktsegment", "n_lineitems", "total_price"]


_names = sorted(entrymod.queries().keys())


@pytest.mark.parametrize("name", _names)
def test_query_matches_oracle(spark, con, name):
    q = entrymod.queries()[name]
    sql = entrymod.oracle_sql().get(name)
    df = q(spark, SF_DIR)
    if sql is None:
        # rows-only contract: runs and yields a stable schema
        assert df.count() >= 0
        return
    problems = compare(df, con, sql, name)
    assert not problems, "\n".join(problems)


def test_every_query_has_oracle_or_is_flagged(con):
    qs = set(entrymod.queries())
    os_ = set(entrymod.oracle_sql())
    assert os_ <= qs, f"oracles without queries: {os_ - qs}"
    # every oracle binds in DuckDB, including the rows whose full replay
    # runs only in the slow tier: a projection typo fails here
    for name, sql in entrymod.oracle_sql().items():
        try:
            con.execute(f"DESCRIBE {sql}")
        except Exception as exc:  # noqa: BLE001
            pytest.fail(f"{name}: oracle does not bind: {exc}")
