"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``bigdata_flightanalysis_spark``; this module
only adapts the query registry to the driver's shape.

The driver checks only the leading entries of each round, so
``queries()`` and ``oracle_sql()`` iterate stalest first: queries with
no passing driver row, then by the round of their newest passing row
(oldest first), ties alphabetical. A row passes when its ``err`` is
empty and every ``*_match`` field is true. The rows are read from the
``CORRECTNESS_r<N>.json`` files next to this module (not the cwd);
files without a round number are ignored, and with no file at all the
order is registration order.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _HERE)

from bigdata_flightanalysis_spark.queries.catalog import load_all  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def _verification_order(root: str = _HERE) -> list[str]:
    """Registry names, stalest driver verification first (module doc)."""
    names = list(load_all())
    paths = glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))
    if not paths:
        return names
    newest: dict[str, int] = {}
    for path in paths:
        m = re.match(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if m is None:
            continue
        with open(path, encoding="utf-8") as fh:
            rows = json.load(fh)
        for name, row in rows.items():
            if not row.get("err") and all(
                v for k, v in row.items() if k.endswith("_match")
            ):
                newest[name] = max(newest.get(name, 0), int(m.group(1)))
    return sorted(names, key=lambda n: (newest.get(n, -1), n))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    registry = load_all()
    return registry["flagship_top_segments"].fn(spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    registry = load_all()
    return {name: registry[name].fn for name in _verification_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each query."""
    registry = load_all()
    return {name: registry[name].oracle for name in _verification_order()}
