"""Driver-contract smoke tests for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    assert df.count() > 0
    assert "c_mktsegment" in df.columns


def test_queries_and_oracles_aligned():
    qs = e.queries()
    oracles = e.oracle_sql()
    assert len(qs) >= 20
    assert set(oracles) <= set(qs)
    # every oracle is non-empty SQL
    for name, sql in oracles.items():
        assert "SELECT" in sql.upper(), name


def test_every_registry_query_runs_at_smoke_sf(spark):
    """Driver t1-smoke twin: every query (including the rows-only
    three) must execute and return a stable schema at sf0.001."""
    qs = e.queries()
    for name, fn in qs.items():
        df = fn(spark, "/root/testdata/sf0.001")
        assert df.columns, name
        df.limit(5).collect()  # forces execution of the whole plan

