"""Sources (SURVEY.md §2.1).

S1 CSV scan, S2 local-rows source, parquet scan for driver testdata.
The reference's scan is ``spark.read.option("header","true").csv(path)``
with no schema (``Code/flight_analysis.py:15-16``); the engine always
scans with an explicit schema so Catalyst can prune columns and push
predicates into the reader, and offers the schemaless form only as a
compat mode.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from bigdata_flightanalysis_spark.schemas import TABLE_NAMES, TESTDATA_SCHEMAS


#: Tables scanned with their declared ``TESTDATA_SCHEMAS`` entry: every
#: table without a TIMESTAMP column. Footer inference runs one Spark job
#: per read (``mergeSchemasInParallel``): six dedup-corpus reads took
#: 0.42 s inferred against 0.06 s declared (local[4], 4-vCPU host). The
#: timestamp tables keep inference because no declared type fits every
#: writer: the testdata files store timestamps with
#: ``isAdjustedToUTC=false``, which Spark reads as TIMESTAMP_NTZ, while
#: Spark refuses to read LTZ-written files as TIMESTAMP_NTZ.
DECLARED_SCAN_TABLES = frozenset(
    name
    for name, schema in TESTDATA_SCHEMAS.items()
    if not any(isinstance(f.dataType, T.TimestampType) for f in schema.fields)
)


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Parquet scan of one driver testdata table.

    Tables in ``DECLARED_SCAN_TABLES`` are read with their
    ``TESTDATA_SCHEMAS`` entry, so the call starts no Spark job. The
    declared schema equals their footers at every testdata scale
    (``tests/test_scan_schemas.py``); a file whose physical types
    disagree (e.g. an INT64 key declared int) fails loudly at scan
    time with ``PARQUET_COLUMN_DATA_TYPE_MISMATCH``. ``orders``,
    ``lineitem`` and ``events`` take their schema from the footer,
    which differs from the declared one only by TIMESTAMP vs
    TIMESTAMP_NTZ. Either way the vectorized reader, predicate
    pushdown and column pruning apply.
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    if name == "events":
        return _read_events(spark, sf_dir)
    path = f"{sf_dir}/{name}.parquet"
    if name in DECLARED_SCAN_TABLES:
        return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)
    return spark.read.parquet(path)


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Dtype-guarded normalization of ``events.ts`` to a session-tz
    TIMESTAMP — the single conversion shared by the batch reader, the
    streaming source and the test fixtures, so every path sees
    identical timestamps no matter how the installed Spark surfaces
    the parquet column:

    - ``bigint``: raw int64 nanoseconds (older Sparks reading
      TIMESTAMP(NANOS) under ``nanosAsLong``) — truncate to µs in
      INTEGER space, never through double (epoch-ns exceeds 2^53, a
      double round-trip would corrupt it). Matches DuckDB's ns→µs
      truncation, keeping the oracle exact.
    - ``timestamp_ntz``: Spark 4.x reads ``isAdjustedToUTC=false``
      parquet timestamps as TIMESTAMP_NTZ; cast to TIMESTAMP — the
      session tz is pinned UTC (``session.py``) so the instant is
      unchanged and oracle semantics are identical (DuckDB reads the
      same column as a naive-UTC TIMESTAMP).
    - ``timestamp``: already the contract type — no-op.
    """
    from pyspark.sql import functions as F

    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events scan with timestamp-precision handling (see
    ``normalize_event_ts``). A TIMESTAMP(NANOS) file (older testdata
    generations) fails schema conversion without the legacy
    ``nanosAsLong`` flag, so the flag is set ONLY on that failure and
    the scan retried — current testdata is TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which reads as TIMESTAMP_NTZ under Spark
    4.x with no flag at all. Setting the flag unconditionally (the
    old behavior) leaked it into every later parquet read on the
    session, silently surfacing unrelated NANOS columns as bigint.
    The flag is deliberately NOT restored after a legacy read: it is
    consulted again at execution time, so a scoped reset would break
    the still-lazy frame this function returns."""
    return normalize_event_ts(read_parquet_nanos_gated(spark, f"{sf_dir}/events.parquet"))


def read_parquet_nanos_gated(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read with the failure-gated legacy ``nanosAsLong``
    retry — the ONE definition of the probe the batch reader and the
    streaming schema probe share (r16 review: the stream copy was a
    near-verbatim duplicate that had to track this one's gate
    condition by hand).

    The flag is set ONLY when the first read fails on a
    TIMESTAMP(NANOS) footer: a bare except would set it for ANY
    failure (typo'd path, corrupt footer), the retry would re-raise
    the unrelated error, and the flag would stay leaked session-wide
    — silently surfacing unrelated NANOS columns as bigint."""
    try:
        return spark.read.parquet(path)
    except Exception as exc:
        msg = str(exc)
        if "NANOS" not in msg and "nanosAsLong" not in msg:
            raise
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return spark.read.parquet(path)


def load_star(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All ten testdata tables as a dict (lazy scans; only the three
    timestamp tables run a footer-inference job)."""
    return {name: read_table(spark, sf_dir, name) for name in TABLE_NAMES}


def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    *,
    header: bool = True,
    compat_all_string: bool = False,
) -> DataFrame:
    """CSV scan (S1, ``Code/flight_analysis.py:15-16``).

    ``compat_all_string=True`` reproduces the reference's scan exactly:
    header on, no schema, no inference → every column StringType.
    Default mode requires an explicit schema (scale posture: a 100 TB
    CSV ingest must not pay an inference pass).
    """
    reader = spark.read.option("header", str(header).lower())
    if compat_all_string:
        if schema is not None:
            # contradictory ask: the caller believes the typed schema
            # applies while the compat scan returns all-string columns
            # (string comparisons where it expected numeric ones)
            raise ValueError(
                "schema and compat_all_string=True are mutually "
                "exclusive — the compat scan is all-string by contract"
            )
        return reader.csv(path)
    if schema is None:
        raise ValueError("explicit schema required (or pass compat_all_string=True)")
    return reader.schema(schema).csv(path)


def from_rows(
    spark: SparkSession, rows: list[tuple], schema: T.StructType | list[str]
) -> DataFrame:
    """Local-rows source (S2, ``Code/flight_analysis.py:188-194``)."""
    return spark.createDataFrame(rows, schema)


def read_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
) -> DataFrame:
    """JSON-lines source. An explicit schema is strongly preferred at
    scale — without one Spark runs a full inference pass over the data
    (a second 100 TB scan) before the real job starts."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    # (no else: JSON always infers when schemaless — "inferSchema" is
    # a CSV option and would be a misleading no-op here)
    return reader.json(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC scan — same columnar posture as parquet (vectorized reader,
    predicate pushdown, column pruning); schema from the file footer."""
    return spark.read.orc(path)


def read_text(
    spark: SparkSession,
    path: str,
    *,
    whole_text: bool = False,
    line_sep: str | None = None,
) -> DataFrame:
    """Plain-text source: one row per line (``value: string``), or one
    row per FILE with ``whole_text=True`` — the raw-document ingest
    path for training corpora. Whole-file mode is not splittable, so
    at scale it belongs on many small files, never one giant one."""
    reader = spark.read
    if line_sep is not None:
        reader = reader.option("lineSep", line_sep)
    return reader.text(path, wholetext=whole_text)


def read_csv_permissive(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    *,
    header: bool = True,
    mode: str = "PERMISSIVE",
    corrupt_column: str = "_corrupt_record",
) -> DataFrame:
    """CSV scan with malformed-row handling — mandatory posture for a
    100 TB ingest, where some rows WILL be broken.

    ``mode='PERMISSIVE'`` (default) keeps bad rows, nulls the unparsable
    fields, and lands the raw line in ``corrupt_column`` so a filter can
    split the quarantine stream from the clean one in a single pass.
    ``mode='DROPMALFORMED'`` silently drops them; ``mode='FAILFAST'``
    aborts the job on the first bad row.
    """
    full_schema = schema
    if mode.upper() == "PERMISSIVE" and corrupt_column not in schema.fieldNames():
        full_schema = T.StructType(
            [*schema.fields, T.StructField(corrupt_column, T.StringType(), True)]
        )
    return (
        spark.read.option("header", str(header).lower())
        .option("mode", mode)
        .option("columnNameOfCorruptRecord", corrupt_column)
        .schema(full_schema)
        .csv(path)
    )


def register_star(spark: SparkSession, sf_dir: str) -> list[str]:
    """SQL entry point (SURVEY.md §3 entry point 2, generalized):
    register every testdata table as a temp view so arbitrary
    ``spark.sql(...)`` runs against the star schema. Views are lazy
    scans — registration costs nothing; each query still gets full
    pushdown/pruning through the view."""
    for name in TABLE_NAMES:
        read_table(spark, sf_dir, name).createOrReplaceTempView(name)
    return list(TABLE_NAMES)
