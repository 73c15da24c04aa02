"""SparkSession factory.

The reference creates a bare session (``Code/flight_analysis.py:13``);
the engine pins the configuration that matters at scale:

- AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
  demotion/promotion) — the single most important knob for a 100 TB run
  where static statistics are unreliable.
- Arrow on for every driver<->Python transfer (``toPandas``, pandas
  UDFs) — batch-columnar instead of row-pickling.
- UTC session timezone so timestamp semantics are reproducible across
  engines (the DuckDB oracle compares naive UTC timestamps).
- ``spark.sql.shuffle.partitions`` sized to the actual parallelism
  instead of the legacy default of 200. On a real cluster this should
  be ~2-3x total cores; AQE coalesces the excess at runtime.
- Whole-stage codegen cache sized above the registry's working set
  (``CODEGEN_CACHE_MAX_ENTRIES``: one pass over the 176 registry
  queries at sf0.01 compiles about 2,100 distinct classes). At Spark's
  default of 100 entries every repeated query recompiled its classes
  in Janino, and the JIT compiled them again. The conf is static and
  Spark reads it once per JVM, when the first codegen compile builds
  the cache. So a session that is not the first in its JVM keeps
  Spark's default of 100: a caller's own vanilla session, or this
  factory called after one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: ``spark.sql.codegen.cache.maxEntries``, with headroom above the
#: measured working set: the first pass over all 176 registry queries
#: at sf0.01 (local[4], Spark 4.1.2) compiled 2,123 classes, and a warm
#: pass then recompiled 109 (3,022 at the default of 100 entries).
CODEGEN_CACHE_MAX_ENTRIES = 4096


def default_parallelism() -> int:
    """Parallelism knob: honors the driver's SPARK_GRAFT_CPUS contract."""
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(
    app_name: str = "bigdata_flightanalysis_spark",
    *,
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local-mode testing stand-in for a cluster session: on a real
    deployment only ``master`` and the memory/instance sizing change —
    every other setting below is the 100 TB posture.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        # --- planner / runtime re-optimization ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Small dims (region/nation/customer at test SF) should always
        # broadcast; 64MB is a sane executor-memory-aware ceiling.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # --- python boundary ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # --- reproducibility ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- generated-code reuse across queries ---
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_MAX_ENTRIES))
        # --- local-mode hygiene ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    from pyspark.sql import SparkSession as _SS

    pre_existing = _SS.getActiveSession()
    spark = builder.getOrCreate()
    # getOrCreate with an ALREADY-ACTIVE session applies only
    # runtime-modifiable SQL confs and silently keeps the existing
    # master/static settings — a caller asking for different cores (or
    # a static extra_conf) would otherwise assert against a session
    # configured by someone else without any signal. The check
    # compares EVERY requested extra_conf against the reused session's
    # runtime value, not just the master: a same-master reuse that
    # dropped a static conf used to stay silent (r16 review).
    if pre_existing is not None and pre_existing is spark:
        missed = []
        actual_master = spark.sparkContext.master
        if actual_master != f"local[{cores}]":
            missed.append(f"master local[{cores}] (got {actual_master!r})")
        for k, v in (extra_conf or {}).items():
            try:
                cur = spark.conf.get(k)
            except Exception:
                cur = None
            if cur != str(v):
                missed.append(f"{k}={v!r} (got {cur!r})")
        if missed:
            import warnings

            warnings.warn(
                "get_session reused an active SparkSession; these "
                f"requested settings were NOT applied: {missed}",
                RuntimeWarning,
                stacklevel=2,
            )
    spark.sparkContext.setLogLevel("WARN")
    # Env contract: record the runtime version at session build so env
    # drift (e.g. a Spark major bump changing parquet timestamp
    # surfacing) is visible in every log, not discovered post-hoc.
    import logging

    import pyspark

    logging.getLogger(__name__).info(
        "engine session %r on pyspark %s", app_name, pyspark.__version__
    )
    return spark
