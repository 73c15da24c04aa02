"""Behavioral tests for the events-table rollup/CDC operators on
crafted inputs (the registry parity sweep checks them on driver
testdata; these pin the SEMANTICS — tombstones, mergeability — on
hand-built cases where the expected answer is known by construction).
"""

from __future__ import annotations

from datetime import datetime

from bigdata_flightanalysis_spark.queries.catalog import load_all

_EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def _write_events(spark, tmp_path, rows):
    spark.createDataFrame(rows, _EVENTS_SCHEMA).write.mode("overwrite").parquet(
        f"{tmp_path}/events.parquet"
    )
    return str(tmp_path)


def test_cdc_latest_state_tombstone_semantics(spark, tmp_path):
    t = datetime(2024, 1, 1, 12, 0, 0)

    def ts(m):
        return t.replace(minute=m)

    rows = [
        # user 1: upserts then a final tombstone -> absent
        (1, ts(1), 1, "click", 1.0, "{}"),
        (2, ts(2), 1, "error", 2.0, "{}"),
        # user 2: tombstone then a later upsert -> present, latest wins
        (3, ts(1), 2, "error", 0.0, "{}"),
        (4, ts(5), 2, "purchase", 9.5, "{}"),
        # user 3: same ts twice -> event_id breaks the tie
        (5, ts(3), 3, "view", 1.0, "{}"),
        (6, ts(3), 3, "click", 2.0, "{}"),
    ]
    sf = _write_events(spark, tmp_path, rows)
    got = {
        r["user_id"]: (r["last_event_type"], r["last_value"])
        for r in load_all()["events_cdc_latest_state"].fn(spark, sf).collect()
    }
    assert got == {2: ("purchase", 9.5), 3: ("click", 2.0)}


def test_rollup_cascade_equals_direct_daily(spark, tmp_path):
    """Daily-from-hourly must be bit-identical to daily-from-raw —
    the mergeability property incremental materialized views rely on."""
    import duckdb

    rows = [
        (i, datetime(2024, 1, 1 + i % 3, i % 24, i % 60, 0), i % 5,
         "click", 0.1 * i - 2.0, "{}")
        for i in range(200)
    ]
    sf = _write_events(spark, tmp_path, rows)
    q = load_all()["events_rollup_cascade"]
    got = sorted(tuple(r) for r in q.fn(spark, sf).collect())

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{tmp_path}/events.parquet/*.parquet'"
    )
    want = sorted(tuple(r) for r in con.execute(q.oracle).fetchall())
    con.close()
    assert got == want
    assert len(got) == 3  # three distinct days by construction


def test_distinct_rollup_sketch_exact_at_small_cardinality(spark, tmp_path):
    """At cardinalities far below 2^lgConfigK the HLL sparse mode is
    exact, so the monthly union of daily sketches must equal the exact
    distinct count — not merely land within the bound."""
    rows = [
        (i, datetime(2024, 1 + i % 2, 1 + i % 20, 8, 0, 0), i % 37,
         "view", 1.0, "{}")
        for i in range(300)
    ]
    sf = _write_events(spark, tmp_path, rows)
    out = load_all()["events_distinct_rollup_sketch"].fn(spark, sf).collect()
    assert [r["month"] for r in out] == ["2024-01", "2024-02"]
    assert all(r["within_bound"] for r in out)
    # month parity and day parity are locked together (both from i),
    # so each month sees 10 distinct days
    assert all(r["n_days"] == 10 for r in out)


def test_referential_integrity_report_fires_on_orphans(spark, tmp_path):
    """Crafted orphans and NULL FKs per edge — on clean driver data
    every count is zero, so this is the test that proves the audit
    actually fires."""

    def w(name, rows, schema):
        spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
            f"{tmp_path}/{name}.parquet"
        )

    # key columns use the TESTDATA_SCHEMAS types: read_table scans the
    # timestamp-free tables with their declared schema, and a parquet
    # INT64 column does not read as a declared int
    w("region", [(0,)], "r_regionkey int")
    # nation 1 points at a missing region
    w("nation", [(0, 0), (1, 99)], "n_nationkey int, n_regionkey int")
    # customer 2 points at a missing nation
    w("customer", [(1, 0), (2, 5)], "c_custkey bigint, c_nationkey int")
    w("supplier", [(200, 0)], "s_suppkey bigint, s_nationkey int")
    w("part", [(100,)], "p_partkey bigint")
    # order 11 -> missing customer; order 12 has a NULL FK
    w(
        "orders",
        [(10, 1), (11, 999), (12, None)],
        "o_orderkey bigint, o_custkey bigint",
    )
    # line 2 -> missing order; line 3 -> missing part AND missing supplier
    w(
        "lineitem",
        [(10, 100, 200), (99, 100, 200), (10, 101, 201)],
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint",
    )

    out = load_all()["referential_integrity_report"].fn(spark, str(tmp_path))
    got = {r["edge"]: (r["n_rows"], r["n_orphans"], r["n_null_fk"]) for r in out.collect()}
    assert got == {
        "lineitem.l_orderkey->orders": (3, 1, 0),
        "lineitem.l_partkey->part": (3, 1, 0),
        "lineitem.l_suppkey->supplier": (3, 1, 0),
        "orders.o_custkey->customer": (3, 1, 1),
        "customer.c_nationkey->nation": (2, 1, 0),
        "supplier.s_nationkey->nation": (1, 0, 0),
        "nation.n_regionkey->region": (2, 1, 0),
    }


def test_hourly_anomalies_survive_zero_variance_groups(spark, tmp_path):
    """A type whose hourly buckets all carry the same count has zero
    variance: the z expression divides 0/0, which THROWS under ANSI
    while DuckDB quietly yields NULL and the filter drops the row —
    the sd > 0 guard produces the same NULL (r15 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "evzv"
    d.mkdir()
    hour_us = 3_600_000_000
    base_us = 1_700_000_000_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                # one event in each of two different hours: k=2, var=0
                "ts": pa.array(
                    [base_us, base_us + hour_us], pa.timestamp("us")
                ),
                "user_id": pa.array([1, 2], pa.int64()),
                "event_type": pa.array(["x", "x"], pa.string()),
                "value": pa.array([1.0, 1.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        ),
        d / "events.parquet",
    )
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    out = load_all()["events_hourly_anomalies"].fn(spark, str(d))
    assert out.collect() == []  # no crash, no spurious anomaly


def test_funnel_zero_denominators_yield_null_rates(spark, tmp_path):
    """An events table with no 'view' events used to crash the funnel
    with DIVIDE_BY_ZERO under ANSI; the when() guards yield NULL like
    DuckDB's double/0 (r15 review)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "evnoview"
    d.mkdir()
    base_us = 1_700_000_000_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(
                    [base_us, base_us + 1_000_000], pa.timestamp("us")
                ),
                "user_id": pa.array([1, 1], pa.int64()),
                "event_type": pa.array(["click", "purchase"], pa.string()),
                "value": pa.array([1.0, 2.0], pa.float64()),
                "props": pa.array(["{}", "{}"], pa.string()),
            }
        ),
        d / "events.parquet",
    )
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    row = load_all()["events_funnel"].fn(spark, str(d)).collect()[0]
    assert row["n_viewed"] == 0
    assert row["view_to_click_rate"] is None


def test_incremental_agg_merge_keeps_null_ts_rows(spark, tmp_path):
    """The two-batch split must PARTITION the table: a NULL ts failed
    both bare dayofmonth predicates and silently vanished from the
    incremental result while the direct aggregate counted it (r15
    review — NULL-ts rows now route with batch 1)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "evnullts"
    d.mkdir()
    base_us = 1_700_000_000_000_000
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array([1, 2, 3], pa.int64()),
                "ts": pa.array(
                    [base_us, None, base_us + 16 * 86_400_000_000],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([1, 2, 3], pa.int64()),
                "event_type": pa.array(["x", "x", "x"], pa.string()),
                "value": pa.array([1.0, 10.0, 100.0], pa.float64()),
                "props": pa.array(["{}"] * 3, pa.string()),
            }
        ),
        d / "events.parquet",
    )
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    row = load_all()["events_incremental_agg_merge"].fn(spark, str(d)).collect()[0]
    assert row["n_rows"] == 3
    assert row["sum_value"] == 111.0


def test_mad_pair_shares_one_finalize_tail(spark, monkeypatch):
    """The MAD window form and its twopass twin share one oracle, so
    their join/groupBy/orderBy tails must be ONE definition — the
    twopass body inlined an identical copy, leaving the documented
    anti-drift guarantee unenforced (r15 driver ADVICE). Both query
    bodies must route through _mad_finalize."""
    from bigdata_flightanalysis_spark.queries import events as events_mod

    calls = []
    real = events_mod._mad_finalize

    def spy(dev, mad):
        calls.append(1)
        return real(dev, mad)

    monkeypatch.setattr(events_mod, "_mad_finalize", spy)
    sf = "/root/testdata/sf0.001"
    a = events_mod.events_mad_anomalies(spark, sf)
    b = events_mod.events_mad_anomalies_twopass(spark, sf)
    assert len(calls) == 2
    assert a.columns == b.columns
