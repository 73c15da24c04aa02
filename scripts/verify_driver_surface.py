#!/usr/bin/env python
"""Driver-surface verification: what the driver's t2 gate does.

Vanilla SparkSession (NOT get_session — catches session-config
dependencies) → entry() returns rows → every queries() entry vs its
oracle_sql() through DuckDB: column-set equality both directions, then
order-insensitive exact row compare (NaN normalized, as the driver's
value hash and tests/test_oracle_parity.py do).

A broken query costs one report line, not the rest of the sweep: every
failure lands in the mismatch list and the summary always prints.

    python scripts/verify_driver_surface.py [sf_dir] [query_name ...]

With query names given, only those registry entries are checked (fast
iteration on a new query); with none, the full registry runs.
"""

from __future__ import annotations

import importlib
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# the canonical table list — a hardcoded copy here would silently drift
# when a table is added (tests already import the same tuple)
from bigdata_flightanalysis_spark.schemas import TABLE_NAMES  # noqa: E402


# the ONE canonicalization definition, shared with both parity test
# suites (r16 review: three hand-rolled copies drifted independently)
from bigdata_flightanalysis_spark.parity import rows_sorted  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import duckdb
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    e = importlib.import_module("__spark_entry__")
    # explicit raise, not assert: assert is stripped under python -O
    # (same convention as catalog.py's registry validation)
    if len(e.entry(spark).collect()) == 0:
        raise SystemExit("entry() returned no rows")
    qs, oracles = e.queries(), e.oracle_sql()
    only = set(sys.argv[2:])
    if only:
        missing = only - set(qs)
        if missing:
            raise SystemExit(f"unknown query names: {sorted(missing)}")
        qs = {n: f for n, f in qs.items() if n in only}
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    bad = []
    for name, fn in qs.items():
        try:
            sdf = fn(spark, sf)
            cols = sdf.columns
            srows = rows_sorted(cols, [tuple(r) for r in sdf.collect()])
            rel = con.execute(oracles[name])
            didx = [d[0] for d in rel.description]
            if sorted(cols) != sorted(didx):
                # both directions: a Spark column the oracle lacks AND
                # an oracle-only extra column are schema mismatches the
                # driver's gate would flag
                bad.append(name)
                print(
                    f"MISMATCH {name}: columns {sorted(cols)} vs "
                    f"{sorted(didx)}"
                )
                continue
            drows = rows_sorted(didx, rel.fetchall())
        except Exception as exc:  # noqa: BLE001 — one query, one report line
            bad.append(name)
            print(f"MISMATCH {name}: {type(exc).__name__}: {exc}"[:300])
            continue
        if srows != drows:
            bad.append(name)
            print(f"MISMATCH {name}")
    print(f"{len(qs) - len(bad)}/{len(qs)} queries match their oracle; "
          f"mismatches: {bad}")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
