"""Differential tests: every registered query vs its DuckDB oracle.

This mirrors the driver's t2 harness: each ``__spark_entry__.queries()``
entry is run and compared with the matching ``oracle_sql()`` entry by
row count, column names and an order-insensitive exact value
comparison. Runs at sf0.001 for speed; the driver re-checks at sf0.01.

Each test also checks the query's plan shape (``plan_stats``: scans,
Exchanges, join strategies, windows, Python nodes) against the counts
committed in ``plans/plan_stats_sf0.001.json``, so a plan change is a
reviewed diff of that file rather than a silent one.
"""

from __future__ import annotations

import json
import os
import warnings

import duckdb
import pytest

import __spark_entry__ as e
from bigdata_flightanalysis_spark.plans.introspect import plan_stats
from bigdata_flightanalysis_spark.schemas import TABLE_NAMES

PLAN_STATS_FILE = os.path.join("plans", "plan_stats_sf0.001.json")
QUERIES = e.queries()
ORACLES = e.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    yield con
    con.close()


@pytest.fixture(scope="module")
def committed_plan_stats(sf_dir):
    """The committed plan-shape counts, or None off sf0.001: table
    sizes steer broadcast thresholds and size gates, so the counts
    hold for the scale they were taken at only."""
    if os.path.basename(sf_dir.rstrip("/")) != "sf0.001":
        warnings.warn(
            f"plan-stats check skipped: {PLAN_STATS_FILE} holds sf0.001 "
            f"plans and sf_dir is {sf_dir}"
        )
        return None
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, PLAN_STATS_FILE)) as f:
        return json.load(f)


def _check_plan_stats(name, stats, committed):
    if committed is None:
        return
    entry = json.dumps({name: stats}, sort_keys=True)
    if name not in committed:
        pytest.fail(f"{name}: no entry in {PLAN_STATS_FILE}; add {entry}")
    was = committed[name]
    diffs = [
        f"{k} committed {was.get(k)} now {stats.get(k)}"
        for k in sorted(set(was) | set(stats))
        if was.get(k) != stats.get(k)
    ]
    assert not diffs, (
        f"{name}: plan shape changed: {'; '.join(diffs)}. If intended, "
        f"replace its entry in {PLAN_STATS_FILE} with {entry}"
    )


# the ONE canonicalization definition (r16 review: three hand-rolled
# copies used to drift independently)
from bigdata_flightanalysis_spark.parity import rows_sorted as _rows_sorted


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, sf_dir, duck, committed_plan_stats):
    sdf = QUERIES[name](spark, sf_dir)
    stats = plan_stats(sdf)  # before collect(): the action reuses this plan
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    rel = duck.execute(ORACLES[name])
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch {spark_cols} vs {duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count {len(spark_rows)} vs {len(duck_rows)}"
    )
    a = _rows_sorted(spark_cols, spark_rows)
    b = _rows_sorted(duck_cols, duck_rows)
    mismatches = [(x, y) for x, y in zip(a, b) if x != y]
    assert not mismatches, f"{name}: first value mismatches: {mismatches[:3]}"
    _check_plan_stats(name, stats, committed_plan_stats)

