"""The flight-analysis pipeline as a composable library (SURVEY.md §7
phase 3) — the reference's entire capability surface
(``Code/flight_analysis.py``) re-expressed as named, tested stages.

Every stage runs in one of two modes:

- ``compat`` — bit-for-bit reproduction of the reference's observable
  behavior, including its quirks (SURVEY.md §2.12): type-mismatched
  ``fillna`` entries silently no-op on the all-string scan, the
  cancellation CASE has no ELSE (unmatched codes → NULL), top-K is
  collect-then-isin.
- ``idiomatic`` — the engine's preferred semantics: typed scan,
  type-correct fills after casting, explicit CASE default, semi-join
  top-K, UDF-free vector stringification. This is the 100 TB path.

Scale posture: each cleaning stage is a SINGLE projection (one
``select`` with aliases) rather than the reference's chain of
``withColumn`` calls (``Code/flight_analysis.py:56-64``) — N
``withColumn``s build N nested projections that Catalyst must
re-collapse, and at wide schemas that analysis cost is real. No stage
ever collects to the driver except the bounded top-K in compat mode.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.functions.scalar import (
    case_map,
    hhmm_to_hour,
    hhmm_to_hour_wrapped,
    threshold_label,
    typed_fillna,
)

#: Cancellation-code → human-readable reason (``Code/flight_analysis.py:29-35``).
CANCELLATION_REASONS: dict[str, str] = {
    "A": "Carrier Caused",
    "B": "Weather",
    "C": "National Aviation System",
    "D": "Security",
    "None": "No Cancellation",
}

#: KMeans feature set (``Code/flight_analysis.py:128,131``).
FEATURE_COLS: tuple[str, ...] = ("DayofWeek", "DepHour", "Month", "Distance")

DELAY_THRESHOLD_MINUTES = 5.0  # ``Code/flight_analysis.py:123``


def _check_mode(mode: str) -> None:
    if mode not in ("compat", "idiomatic"):
        raise ValueError(f"mode must be 'compat' or 'idiomatic', got {mode!r}")


# --------------------------------------------------------------------------
# Cleaning (``Code/flight_analysis.py:43-67`` / ``:72-90``)
# --------------------------------------------------------------------------


def clean_flights_2019(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """2019 cleaning stage.

    Output columns match the reference's select
    (``Code/flight_analysis.py:66``): FL_DATE, DepTime, ArrDelay,
    Cancelled, Diverted, Distance, Airline, DelayReason,
    CancellationReason. (The reference computes DepDelay then drops it
    in the select — we don't compute it at all.)
    """
    _check_mode(mode)
    if mode == "compat":
        # Reference fill dict (``:44-53``) under the Spark 3.x the
        # reference ran on: only the string-valued entries take effect
        # on the all-string scan; numeric fills silently no-op (quirk
        # §2.12.2). Spark 4 changed BOTH relevant behaviors — fillna
        # now coerces numeric fills onto string columns, and ANSI-mode
        # CAST('0.0' AS INT) throws instead of truncating — so compat
        # pins the reference-era semantics explicitly: fill only the
        # effective (string) entries, and route the int cast through
        # double (the legacy truncating parse for "0.0"-style values).
        df = df.fillna({"AIRLINE": "Not Listed", "CANCELLATION_CODE": "None"})
        reason = case_map("CANCELLATION_CODE", CANCELLATION_REASONS, default=None)
        cancelled = F.col("CANCELLED").cast("double").cast("int").cast("boolean")
        diverted = F.col("DIVERTED").cast("double").cast("int").cast("boolean")
    else:
        # Typed scan (schemas.FLIGHTS_2019_TYPED): fills are applied
        # AFTER types exist, so every fill is effective; unmatched
        # cancellation codes get an explicit bucket instead of NULL.
        # Fail loud on an all-string (RAW) scan: the numeric fills
        # below would coerce onto string columns and the bare boolean
        # cast would throw CAST_INVALID_INPUT under Spark 4 ANSI at
        # some arbitrary downstream action — the reference's stringly
        # scan belongs to mode='compat'.
        if dict(df.dtypes).get("CANCELLED") == "string":
            raise TypeError(
                "idiomatic cleaning requires the typed scan "
                "(schemas.FLIGHTS_2019_TYPED); this frame is "
                "all-string — use mode='compat' for the reference's "
                "stringly scan semantics"
            )
        df = typed_fillna(
            df,
            {
                "CANCELLED": 0.0,
                "DIVERTED": 0.0,
                "ARR_DELAY": 0.0,
                "DEP_DELAY": 0.0,
                "DEP_TIME": 0.0,
                "DISTANCE": 0.0,
                "AIRLINE": "Not Listed",
                "CANCELLATION_CODE": "None",
            }
        )
        reason = case_map("CANCELLATION_CODE", CANCELLATION_REASONS, default="Unknown")
        cancelled = F.col("CANCELLED").cast("boolean")
        diverted = F.col("DIVERTED").cast("boolean")

    return df.select(
        "FL_DATE",
        F.col("DEP_TIME").cast("double").alias("DepTime"),
        F.col("ARR_DELAY").cast("double").alias("ArrDelay"),
        cancelled.alias("Cancelled"),
        diverted.alias("Diverted"),
        F.col("DISTANCE").cast("double").alias("Distance"),
        F.col("AIRLINE").cast("string").alias("Airline"),
        F.col("CANCELLATION_CODE").cast("string").alias("DelayReason"),
        reason.alias("CancellationReason"),
    )


def clean_flights_2023(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """2023 cleaning stage (``Code/flight_analysis.py:72-90``)."""
    _check_mode(mode)
    if mode == "compat":
        # Reference fills (``:73-80``) as Spark 3.x applied them to the
        # all-string scan: only the string entries are effective (see
        # clean_flights_2019 for why this is pinned explicitly).
        df = df.fillna({"Airline": "Not Listed", "DelayReason": "None"})
    else:
        # same fail-loud scan guard as clean_flights_2019
        if dict(df.dtypes).get("Cancelled") == "string":
            raise TypeError(
                "idiomatic cleaning requires the typed scan "
                "(schemas.FLIGHTS_2023_TYPED); this frame is "
                "all-string — use mode='compat' for the reference's "
                "stringly scan semantics"
            )
        df = typed_fillna(
            df,
            {
                "DelayMinutes": 0.0,
                "Cancelled": False,
                "Diverted": False,
                "Distance": 0.0,
                "Airline": "Not Listed",
                "DelayReason": "None",
            }
        )
    return df.select(
        "ScheduledDeparture",
        F.col("DelayMinutes").cast("double").alias("DelayMinutes"),
        F.col("Cancelled").cast("boolean").alias("Cancelled"),
        F.col("Diverted").cast("boolean").alias("Diverted"),
        F.col("Distance").cast("double").alias("Distance"),
        F.col("Airline").cast("string").alias("Airline"),
        F.col("DelayReason").cast("string").alias("DelayReason"),
    )


# --------------------------------------------------------------------------
# Feature prep + label (``Code/flight_analysis.py:100-125``)
# --------------------------------------------------------------------------


def prep_features(
    df: DataFrame, *, date_col: str, dep_hour: Column
) -> DataFrame:
    """Derive (DayofWeek, DepHour, Month).

    2019: ``prep_features(df, date_col="FL_DATE",
    dep_hour=hhmm_to_hour(F.col("DepTime")))`` — the HHMM-numeric
    encoding (``Code/flight_analysis.py:100-104``).
    2023: ``prep_features(df, date_col="ScheduledDeparture",
    dep_hour=F.hour("ScheduledDeparture"))``
    (``Code/flight_analysis.py:109-112``).
    """
    return df.select(
        "*",
        F.dayofweek(F.col(date_col)).alias("DayofWeek"),
        dep_hour.cast("int").alias("DepHour"),
        F.month(F.col(date_col)).alias("Month"),
    )


def prep_features_2019(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """compat keeps the reference's raw HHMM→hour (DepTime=2400 →
    DepHour=24, a 25th hour bucket — quirk §2.12); idiomatic wraps
    midnight to 0 via :func:`hhmm_to_hour_wrapped` so the hour feature
    stays in [0, 24) for clustering."""
    _check_mode(mode)
    dep = (
        hhmm_to_hour(F.col("DepTime"))
        if mode == "compat"
        else hhmm_to_hour_wrapped(F.col("DepTime"))
    )
    return prep_features(df, date_col="FL_DATE", dep_hour=dep)


def prep_features_2023(df: DataFrame) -> DataFrame:
    return prep_features(
        df, date_col="ScheduledDeparture", dep_hour=F.hour("ScheduledDeparture")
    )


def add_delay_label(
    df: DataFrame, delay_col: str, threshold: float = DELAY_THRESHOLD_MINUTES
) -> DataFrame:
    """IsDelayed ∈ {0,1} (``Code/flight_analysis.py:122-125``)."""
    return df.withColumn("IsDelayed", threshold_label(delay_col, threshold))


# --------------------------------------------------------------------------
# Assembly + clustering (``Code/flight_analysis.py:127-148``)
# --------------------------------------------------------------------------


def sanitize_features(df: DataFrame, cols: tuple[str, ...] = FEATURE_COLS) -> DataFrame:
    """Replace NULL/NaN/±inf with 0.0 in the feature INPUT columns.

    The reference tries ``df.replace(inf/NaN, subset=['features'])``
    AFTER assembly (``Code/flight_analysis.py:129,132``) — a silent
    no-op because ``replace`` cannot reach inside a VectorUDT column
    (quirk §2.12.3). The effective fix is per-input-column,
    pre-assembly. NULLs are included because ``handleInvalid='keep'``
    turns them into NaN vector entries, which Spark 4 MLlib KMeans
    rejects outright ("Vector values MUST NOT be NaN") — the
    reference's pipeline as written cannot run on Spark 4 without this.
    """
    exprs = []
    for name in df.columns:
        if name in cols:
            c = F.col(name).cast("double")
            exprs.append(
                F.when(c.isNull() | F.isnan(c) | (F.abs(c) == float("inf")), 0.0)
                .otherwise(c)
                .alias(name)
            )
        else:
            exprs.append(F.col(name))
    return df.select(*exprs)


def assemble_features(
    df: DataFrame,
    input_cols: tuple[str, ...] = FEATURE_COLS,
    *,
    keep_cols: tuple[str, ...] = (),
    mode: str = "idiomatic",
) -> DataFrame:
    """VectorAssembler → ``features`` (``Code/flight_analysis.py:128-132``).

    ``handleInvalid='keep'`` as the reference. BOTH modes run
    :func:`sanitize_features` first: the reference's post-assembly
    replace was a no-op (its intent was exactly this cleanup), and
    Spark 4 MLlib refuses NaN vectors, so a literal reproduction
    cannot execute at all — a documented compat divergence
    (SURVEY.md §2.12.3).
    """
    from pyspark.ml.feature import VectorAssembler

    _check_mode(mode)
    df = sanitize_features(df, input_cols)
    assembler = VectorAssembler(
        inputCols=list(input_cols), outputCol="features", handleInvalid="keep"
    )
    out_cols = ["features", *keep_cols]
    return assembler.transform(df).select(*out_cols)


#: Unit-weight column :func:`fit_kmeans` adds to its training projection.
_UNIT_WEIGHT_COL = "__kmeans_unit_weight"


def fit_kmeans(df: DataFrame, k: int = 5, seed: int = 42):
    """KMeans fit (``Code/flight_analysis.py:135-137``). Iterative,
    driver-coordinated: every Lloyd iteration and every k-means||
    initialization pass is one distributed scan of the training set.

    MLlib owns the training cache. Spark ML's ``KMeans.fit`` runs
    ``runWithWeight(instances, handlePersistence = dataset.storageLevel
    == NONE)``: an uncached Dataset is decoded ONCE into MLlib's own
    deserialized ``VectorWithNorm`` cache, which it unpersists when the
    fit ends. A cached Dataset (``run_flight_pipeline`` persists the
    assembled frames because ``transform`` reads them again) makes
    MLlib cache only the vector norms, so every scan re-decodes each
    row from the columnar cache (→ ``Row`` → ``VectorUDT`` → mllib
    ``Vector``): one full decode per iteration.

    So the fit gets a projection that is never a cached plan: the
    features plus a unit-weight literal. A bare ``select("features")``
    is not enough — on a cached frame holding only ``features`` the
    CacheManager matches that projection (aliased or not) to the cached
    plan and MLlib still sees it as cached. Unit weights leave the
    centers and the training cost unchanged."""
    from pyspark.ml.clustering import KMeans

    training = df.select("features", F.lit(1.0).alias(_UNIT_WEIGHT_COL))
    return KMeans(
        k=k, seed=seed, featuresCol="features", weightCol=_UNIT_WEIGHT_COL
    ).fit(training)


def silhouette(predictions: DataFrame) -> float:
    """Silhouette (squaredEuclidean default) — ``Code/flight_analysis.py:144-146``."""
    from pyspark.ml.evaluation import ClusteringEvaluator

    evaluator = ClusteringEvaluator(
        predictionCol="prediction", featuresCol="features", metricName="silhouette"
    )
    return float(evaluator.evaluate(predictions))


def cluster_reason_counts(
    predictions: DataFrame,
    reason_col: str,
    mode: str = "idiomatic",
    limit: int = 20,
    per_cluster_n: int = 4,
) -> DataFrame:
    """Per-(cluster, reason) counts.

    compat: the reference's exact shape — global
    ``orderBy("prediction", "count", ascending=False)`` (BOTH keys
    descending, quirk §2.12.6) then ``limit(20)``
    (``Code/flight_analysis.py:147-152``).
    idiomatic: per-cluster top-N via window — what the global sort was
    trying to be, and the form that scales past one reducer.
    """
    _check_mode(mode)
    counts = predictions.groupBy("prediction", reason_col).count()
    if mode == "compat":
        return counts.orderBy("prediction", "count", ascending=False).limit(limit)
    from bigdata_flightanalysis_spark.operators.relational import per_group_top_n

    return per_group_top_n(
        counts,
        ["prediction"],
        [F.col("count").desc(), F.col(reason_col).asc()],
        per_cluster_n,
    ).orderBy("prediction", "rn")


def top_airlines_by_cancellations(
    df: DataFrame, k: int = 5, mode: str = "idiomatic"
) -> DataFrame:
    """Top-K airlines by cancellation count
    (``Code/flight_analysis.py:197-208``).

    compat: filter → groupBy → count → orderBy(count desc) → limit K,
    tie-order nondeterministic like the reference.
    idiomatic: adds the airline-name tie-break so results are stable.
    """
    _check_mode(mode)
    counts = (
        df.filter(F.col("Cancelled") == True)  # noqa: E712 — reference: `== 1` on boolean
        .groupBy("Airline")
        .count()
    )
    if mode == "compat":
        return counts.orderBy(F.desc("count")).limit(k)
    return counts.orderBy(F.col("count").desc(), F.col("Airline").asc()).limit(k)


def score_new_flights(
    model,
    new_df: DataFrame,
    allowed_airlines: DataFrame | None = None,
    mode: str = "idiomatic",
) -> DataFrame:
    """Score unseen rows with a fitted model
    (``Code/flight_analysis.py:218-224``).

    The reference collects the top-K airline list to the driver and
    filters with ``isin`` (``:219-220``); idiomatic mode applies the
    same restriction as a broadcast LEFT SEMI join so nothing crosses
    the driver boundary. ``allowed_airlines`` is a 1-column
    ``Airline`` DataFrame (e.g. ``top_airlines_by_cancellations(...)
    .select("Airline")``).
    """
    _check_mode(mode)
    if allowed_airlines is not None:
        if mode == "compat":
            airlines = [r["Airline"] for r in allowed_airlines.collect()]
            new_df = new_df.filter(F.col("Airline").isin(airlines))
        else:
            new_df = new_df.join(
                F.broadcast(allowed_airlines.select("Airline")),
                on="Airline",
                how="left_semi",
            )
    assembled = assemble_features(
        new_df, keep_cols=tuple(new_df.columns), mode=mode
    )
    return model.transform(assembled)


# --------------------------------------------------------------------------
# Vector stringification + sinks (``Code/flight_analysis.py:227-246``)
# --------------------------------------------------------------------------


def stringify_features(df: DataFrame, mode: str = "idiomatic") -> DataFrame:
    """``features`` (VectorUDT) → ``features_str`` (string), drop vector.

    The reference does this with a per-row Python UDF
    (``Code/flight_analysis.py:228-241``) — the single biggest perf
    bug in the reference (every row round-trips through a Python
    worker). Both modes here are pure JVM expressions:

    - compat: ``"[1.0, 10.0, ...]"`` — Python ``str(list)`` spacing,
      built with array_join over per-element string casts.
    - idiomatic: compact JSON via ``to_json`` (no spaces) — the form a
      downstream parser should get.
    """
    from pyspark.ml.functions import vector_to_array

    _check_mode(mode)
    arr = vector_to_array(F.col("features"))
    if mode == "compat":
        stringified = F.concat(
            F.lit("["),
            F.array_join(F.transform(arr, lambda x: x.cast("string")), ", "),
            F.lit("]"),
        )
    else:
        stringified = F.to_json(arr)
    return df.withColumn("features_str", stringified).drop("features")


# --------------------------------------------------------------------------
# End-to-end composition (``Code/flight_analysis.py`` top-to-bottom)
# --------------------------------------------------------------------------


@dataclass
class FlightPipelineResult:
    predictions_2019: DataFrame
    predictions_2023: DataFrame
    silhouette_2019: float
    silhouette_2023: float
    reasons_2019: DataFrame
    reasons_2023: DataFrame
    top_airlines_2023: DataFrame

    def unpersist(self) -> None:
        """Release the cached prediction frames. The pipeline persists
        them for its fit/evaluate/report fan-out and the caller's sink
        writes; the CALLER owns dropping them once done consuming the
        result — repeated pipeline runs on a shared session (bench
        loops, driver reruns) otherwise accumulate cached blocks until
        LRU eviction."""
        self.predictions_2019.unpersist()
        self.predictions_2023.unpersist()


def run_flight_pipeline(
    raw_2019: DataFrame,
    raw_2023: DataFrame,
    mode: str = "idiomatic",
    k: int = 5,
    seed: int = 42,
) -> FlightPipelineResult:
    """The full reference pipeline: clean → prep → label → assemble →
    cluster → evaluate → report (``Code/flight_analysis.py:43-152,
    196-224``), as one composition of the stages above."""
    _check_mode(mode)
    prepped_19 = add_delay_label(
        prep_features_2019(clean_flights_2019(raw_2019, mode), mode), "ArrDelay"
    )
    prepped_23 = add_delay_label(
        prep_features_2023(clean_flights_2023(raw_2023, mode)), "DelayMinutes"
    )
    # The assembled frames are read twice (the kmeans fit decodes them
    # once into MLlib's own training cache — see fit_kmeans — then
    # transform reads them again; the predictions feed the eager
    # silhouette here plus the reason counts and every sink write the
    # caller runs) — persist so each is computed once instead of
    # re-running the whole clean→prep→sanitize→assemble lineage from
    # the raw scan per read. MEMORY_AND_DISK (persist default)
    # spills rather than OOMs at scale.
    assembled_19 = assemble_features(
        prepped_19, keep_cols=("CancellationReason",), mode=mode
    ).persist()
    assembled_23 = assemble_features(
        prepped_23, keep_cols=("DelayReason",), mode=mode
    ).persist()
    model_19 = fit_kmeans(assembled_19, k=k, seed=seed)
    model_23 = fit_kmeans(assembled_23, k=k, seed=seed)
    pred_19 = model_19.transform(assembled_19).persist()
    pred_23 = model_23.transform(assembled_23).persist()
    # silhouette is eager, so it materializes the prediction caches;
    # past that point the assembled caches have served every consumer
    # (kmeans fit + transform) and are released here — the
    # prediction caches are the caller's to release
    # (FlightPipelineResult.unpersist) once the result is consumed.
    sil_19 = silhouette(pred_19)
    sil_23 = silhouette(pred_23)
    assembled_19.unpersist()
    assembled_23.unpersist()
    return FlightPipelineResult(
        predictions_2019=pred_19,
        predictions_2023=pred_23,
        silhouette_2019=sil_19,
        silhouette_2023=sil_23,
        reasons_2019=cluster_reason_counts(pred_19, "CancellationReason", mode),
        reasons_2023=cluster_reason_counts(pred_23, "DelayReason", mode),
        top_airlines_2023=top_airlines_by_cancellations(prepped_23, 5, mode),
    )


def conform_flights(clean_2019: DataFrame, clean_2023: DataFrame) -> DataFrame:
    """Conform both cleaned years into ONE fact table (SURVEY.md §2.7:
    the reference keeps the years separate end-to-end; the engine's
    union form is what a longitudinal analysis actually needs).

    Canonical columns: Year, FlightDate, Airline, DelayMinutes
    (ArrDelay serves as the 2019 delay measure), Cancelled, Diverted,
    Distance, DelayReason, CancellationReason (NULL for 2023 rows via
    ``unionByName(allowMissingColumns=True)``). At scale the union is
    a metadata-only concatenation — no shuffle.
    """
    a = clean_2019.select(
        F.lit(2019).alias("Year"),
        F.to_date("FL_DATE").alias("FlightDate"),
        "Airline",
        F.col("ArrDelay").alias("DelayMinutes"),
        "Cancelled",
        "Diverted",
        "Distance",
        "DelayReason",
        "CancellationReason",
    )
    b = clean_2023.select(
        F.lit(2023).alias("Year"),
        F.to_date("ScheduledDeparture").alias("FlightDate"),
        "Airline",
        "DelayMinutes",
        "Cancelled",
        "Diverted",
        "Distance",
        "DelayReason",
    )
    return a.unionByName(b, allowMissingColumns=True)
