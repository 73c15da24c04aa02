"""Driver-contract smoke test for __spark_entry__.py."""

from __future__ import annotations

import __spark_entry__ as e


def test_entry_returns_rows(spark):
    df = e.entry(spark)
    # collect(), not count(): count() lets Catalyst prune the final projection
    assert len(df.collect()) > 0
    assert "c_mktsegment" in df.columns
