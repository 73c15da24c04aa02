"""Query registry — the driver-contract surface.

Every operator from SURVEY.md §2 (plus the §7 phase-4 extensions) is
exposed as a named query: a PySpark callable ``(spark, sf_dir) ->
DataFrame`` and a required ANSI-SQL oracle string that DuckDB runs on
the same parquet for differential checking.

Determinism rules applied everywhere (SURVEY.md §5, §7 hard-parts):
- every computed column aliased identically in Spark and SQL,
- double sums via exact decimal accumulation (``functions.scalar.dsum``),
- every top-K / limit carries a total-order tie-break,
- timestamps rendered as strings so engine-side tz/precision
  representation can't skew the value hash.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class EngineQuery:
    name: str
    fn: QueryFn
    oracle: str
    description: str = ""
    tags: tuple[str, ...] = field(default=())


REGISTRY: dict[str, EngineQuery] = {}


def register(
    name: str,
    oracle: str,
    description: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        REGISTRY[name] = EngineQuery(name, fn, oracle, description, tags)
        return fn

    return deco


def load_all() -> dict[str, EngineQuery]:
    """Import every query module (side effect: registration) and
    return the registry in registration order.

    Reads no files: the driver's verification order is derived in
    ``__spark_entry__``.
    """
    import bigdata_flightanalysis_spark.queries.bloom  # noqa: F401
    import bigdata_flightanalysis_spark.queries.events  # noqa: F401
    import bigdata_flightanalysis_spark.queries.governance  # noqa: F401
    import bigdata_flightanalysis_spark.queries.multimodal  # noqa: F401
    import bigdata_flightanalysis_spark.queries.relational  # noqa: F401
    import bigdata_flightanalysis_spark.queries.relational_ext  # noqa: F401
    import bigdata_flightanalysis_spark.queries.retrieval  # noqa: F401
    import bigdata_flightanalysis_spark.queries.sampling  # noqa: F401
    import bigdata_flightanalysis_spark.queries.similarity  # noqa: F401
    import bigdata_flightanalysis_spark.queries.text  # noqa: F401
    import bigdata_flightanalysis_spark.queries.text_ext  # noqa: F401
    import bigdata_flightanalysis_spark.queries.tpch_shapes  # noqa: F401

    return REGISTRY
