"""Whole-stage codegen cache of the engine session.

Spark's default cache keeps 100 generated classes, fewer than one pass
of the six dedup-corpus queries generates, so every repeat of the pass
recompiled about 50 classes in Janino. ``get_session`` sizes the cache
above the registry's working set; a repeated pass must compile nothing.
"""

from __future__ import annotations

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.session import CODEGEN_CACHE_MAX_ENTRIES

DEDUP_QUERIES = (
    "doc_exact_dedup",
    "doc_minhash_signatures",
    "doc_near_dup_candidates",
    "doc_dup_graph_kcore",
    "embed_lsh_topk",
    "multimodal_feature_extract",
)


def _janino_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _run_pass(spark, sf_dir: str) -> None:
    reg = load_all()
    for name in DEDUP_QUERIES:
        reg[name].fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def test_session_sets_codegen_cache_size(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_MAX_ENTRIES
    )


def test_repeated_dedup_pass_compiles_no_new_classes(spark, sf_dir):
    _run_pass(spark, sf_dir)
    before = _janino_compiles(spark)
    _run_pass(spark, sf_dir)
    assert _janino_compiles(spark) - before == 0
