"""Run every oracle-backed suite query against DuckDB at sf0.001 —
a local mirror of the driver's t2 correctness gate."""

from __future__ import annotations

import pytest

from zcode_iceberg_spark.suite import registry
from tests.harness import compare, duck_connection

REG = registry()
ORACLE_NAMES = sorted(n for n, q in REG.items() if q.oracle)


# function-scoped: every oracle runs in a FRESH connection so one
# heavy unrolled-CTE oracle's allocations are fully released before
# the next test (the observed full-suite flake was trend_dual_fusion's
# oracle dying inside a long-lived shared connection). Re-creating the
# 10 views costs microseconds.
@pytest.fixture()
def con(sf_dir):
    c = duck_connection(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_oracle_match(spark, sf_dir, con, name):
    q = REG[name]
    compare(q.fn(spark, sf_dir), con, q.oracle, name)


def _rows_smoke(spark, sf_dir, names):
    for name in names:
        df = REG[name].fn(spark, sf_dir)
        assert df.count() >= 0, name
        assert len(df.columns) > 0, name


def test_window_queries_return_rows(spark, sf_dir):
    """Fast-lane rows smoke for every query that ships WITHOUT a DuckDB
    oracle: those have no test_oracle_match row at all, so this is
    their only executable check in the default lane. The driver window
    needs no smoke here — each of its names runs test_oracle_match in
    the same lane, which executes the query and checks its columns,
    row count and values."""
    _rows_smoke(spark, sf_dir, sorted(n for n, q in REG.items() if not q.oracle))


@pytest.mark.slow
def test_all_queries_return_rows(spark, sf_dir):
    _rows_smoke(spark, sf_dir, list(REG))


def test_priority_window_contract():
    """The driver checks exactly the first WINDOW registry entries;
    PRIORITY must be WINDOW unique registered names (a duplicate would
    silently shift a different query into the checked window)."""
    from zcode_iceberg_spark.suite import PRIORITY, WINDOW

    assert len(PRIORITY) == WINDOW
    assert len(set(PRIORITY)) == WINDOW
    assert list(REG)[:WINDOW] == PRIORITY


# The ONLY queries allowed to ship without a DuckDB oracle: genuinely
# non-SQL-expressible ops, each named here with its replacement
# verification so the exemption can never silently grow.
NON_SQL_EXPRESSIBLE = {
    # BPTT training; pinned by numerical gradient checks + seeded
    # golden trajectory + distributed-forward agreement
    # (tests/test_lstm_training.py)
    "trend_lstm_training",
}


def test_readme_oracle_figures():
    """README's oracle-coverage claim is an invariant, not a number:
    EVERY suite query ships a DuckDB oracle (the stochastic/sketch
    ones via deterministic audit views) EXCEPT the explicitly-listed
    non-SQL-expressible ops, which must carry test-based verification
    instead. Asserting the invariant instead of a pinned count means
    it can never go stale when the registry grows."""
    no_oracle = {n for n, q in REG.items() if not q.oracle}
    assert no_oracle == NON_SQL_EXPRESSIBLE, no_oracle
    assert len(ORACLE_NAMES) == len(REG) - len(NON_SQL_EXPRESSIBLE) > 0
