"""Scan-rule contract of ``sources.readers.read_table``.

The timestamp-free tables are scanned with their declared
``TESTDATA_SCHEMAS`` entry instead of footer inference (which runs one
Spark job per read). That is only sound while the declared schema
equals what the footer says, so this pins it for every testdata scale,
and pins why the three timestamp tables still infer.
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import types as T

from bigdata_flightanalysis_spark.schemas import TABLE_NAMES, TESTDATA_SCHEMAS
from bigdata_flightanalysis_spark.sources.readers import (
    DECLARED_SCAN_TABLES,
    read_table,
)
from tests.conftest import SF_DIR

SF_DIRS = sorted(glob.glob(os.path.join(os.path.dirname(SF_DIR), "sf*"))) or [SF_DIR]
TIMESTAMP_TABLES = ("orders", "lineitem", "events")


def _ltz(schema: T.StructType) -> T.StructType:
    """``schema`` with every TIMESTAMP_NTZ field read as TIMESTAMP."""
    return T.StructType(
        [
            T.StructField(f.name, T.TimestampType(), f.nullable, f.metadata)
            if isinstance(f.dataType, T.TimestampNTZType)
            else f
            for f in schema.fields
        ]
    )


def test_declared_scan_tables_are_the_timestamp_free_tables():
    assert DECLARED_SCAN_TABLES == set(TABLE_NAMES) - set(TIMESTAMP_TABLES)


@pytest.mark.parametrize("sf", SF_DIRS, ids=os.path.basename)
def test_footer_schema_matches_declared_schema(spark, sf):
    for name in TABLE_NAMES:
        footer = spark.read.parquet(f"{sf}/{name}.parquet").schema
        declared = TESTDATA_SCHEMAS[name]
        if name in DECLARED_SCAN_TABLES:
            assert footer == declared, name
        else:
            # the only footer/declared mismatch: the files store
            # isAdjustedToUTC=false timestamps, read as TIMESTAMP_NTZ
            assert footer != declared, name
            assert _ltz(footer) == declared, name


def _jobs_started(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_declared_scan_starts_no_spark_job(spark, sf_dir):
    frames = {}

    def read_declared():
        for name in sorted(DECLARED_SCAN_TABLES):
            frames[name] = read_table(spark, sf_dir, name)

    assert _jobs_started(spark, "scan-rule-declared", read_declared) == 0
    for name, df in frames.items():
        assert df.schema == TESTDATA_SCHEMAS[name], name
    # control: footer inference on a timestamp table does run a job, so
    # the zero above is a measurement and not a counting failure
    assert _jobs_started(
        spark, "scan-rule-inferred", lambda: read_table(spark, sf_dir, "orders")
    ) >= 1
