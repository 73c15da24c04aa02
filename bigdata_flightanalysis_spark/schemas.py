"""Explicit schemas for every table the engine touches.

The reference reads CSV with no schema so every column lands as string
(``Code/flight_analysis.py:15-16``) and types are imposed by downstream
casts (``:56-64,82-87``). The engine inverts that: schema-at-scan.
At 100 TB, schemaless ingest means a full-data inference pass or
all-string pages that defeat parquet encodings — explicit StructTypes
make scans prunable and pushdown-friendly from the first byte.

Two groups (FIXTURES.md):
- flight fixtures modeled on the reference's two CSVs,
- the driver's synthetic star-schema testdata (parquet).
"""

from __future__ import annotations

from pyspark.sql import types as T

# --------------------------------------------------------------------------
# A. Flight fixtures (reference-shaped; FIXTURES.md §A)
# --------------------------------------------------------------------------

#: Raw 2019 CSV as the *reference* sees it: all-string (compat mode).
FLIGHTS_2019_RAW = T.StructType(
    [
        T.StructField("FL_DATE", T.StringType()),
        T.StructField("AIRLINE", T.StringType()),
        T.StructField("DEP_TIME", T.StringType()),
        T.StructField("DEP_DELAY", T.StringType()),
        T.StructField("ARR_DELAY", T.StringType()),
        T.StructField("CANCELLED", T.StringType()),
        T.StructField("DIVERTED", T.StringType()),
        T.StructField("DISTANCE", T.StringType()),
        T.StructField("CANCELLATION_CODE", T.StringType()),
    ]
)

#: 2019 with real types imposed at scan (idiomatic mode).
FLIGHTS_2019_TYPED = T.StructType(
    [
        T.StructField("FL_DATE", T.DateType()),
        T.StructField("AIRLINE", T.StringType()),
        T.StructField("DEP_TIME", T.DoubleType()),  # HHMM-encoded numeric
        T.StructField("DEP_DELAY", T.DoubleType()),
        T.StructField("ARR_DELAY", T.DoubleType()),
        T.StructField("CANCELLED", T.DoubleType()),  # "0.0"/"1.0" in raw CSV
        T.StructField("DIVERTED", T.DoubleType()),
        T.StructField("DISTANCE", T.DoubleType()),
        T.StructField("CANCELLATION_CODE", T.StringType()),
    ]
)

FLIGHTS_2023_RAW = T.StructType(
    [
        T.StructField("ScheduledDeparture", T.StringType()),
        T.StructField("DelayMinutes", T.StringType()),
        T.StructField("Cancelled", T.StringType()),
        T.StructField("Diverted", T.StringType()),
        T.StructField("Distance", T.StringType()),
        T.StructField("Airline", T.StringType()),
        T.StructField("DelayReason", T.StringType()),
    ]
)

FLIGHTS_2023_TYPED = T.StructType(
    [
        T.StructField("ScheduledDeparture", T.TimestampType()),
        T.StructField("DelayMinutes", T.DoubleType()),
        T.StructField("Cancelled", T.BooleanType()),
        T.StructField("Diverted", T.BooleanType()),
        T.StructField("Distance", T.DoubleType()),
        T.StructField("Airline", T.StringType()),
        T.StructField("DelayReason", T.StringType()),
    ]
)

#: The reference's literal scoring fixture (``Code/flight_analysis.py:188-194``).
FUTURE_DATA = T.StructType(
    [
        T.StructField("DayofWeek", T.IntegerType()),
        T.StructField("DepHour", T.IntegerType()),
        T.StructField("Month", T.IntegerType()),
        T.StructField("Distance", T.IntegerType()),
        T.StructField("Airline", T.StringType()),
    ]
)

# --------------------------------------------------------------------------
# B. Driver synthetic star schema (FIXTURES.md §B) — matches parquet footers.
#    Exception: the files' timestamps read as TIMESTAMP_NTZ
#    (tests/test_scan_schemas.py).
# --------------------------------------------------------------------------

TESTDATA_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)
