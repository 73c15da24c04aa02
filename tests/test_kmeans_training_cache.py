"""Who caches the KMeans training set.

Spark ML's ``KMeans.fit`` caches its own decoded training vectors only
when the Dataset it is handed is not cached
(``handlePersistence = dataset.storageLevel == NONE``). Handed a cached
frame, it caches just the vector norms and re-decodes every row from
the DataFrame cache on each Lloyd iteration. ``fit_kmeans`` therefore
must pass MLlib a plan that no cache entry matches, even when its input
is persisted, and the projection must not change the fitted model.
"""

from __future__ import annotations

import pytest
from pyspark import StorageLevel
from pyspark.ml.clustering import KMeans

from bigdata_flightanalysis_spark.pipeline.flights import (
    FEATURE_COLS,
    assemble_features,
    fit_kmeans,
)


def _assembled(spark, keep_cols: tuple[str, ...]):
    # 600 rows in four loose groups of Distance
    rows = [
        (i % 7 + 1, (i * 5) % 24, i % 12 + 1, 200.0 + 900.0 * (i % 4) + i % 50, f"r{i % 3}")
        for i in range(600)
    ]
    # one partition: MLlib sums the cost in an accumulator and the
    # centers in a reduceByKey, both merged in task-arrival order, so
    # only a single-partition fit is bit-reproducible run to run
    raw = spark.createDataFrame(rows, [*FEATURE_COLS, "reason"]).coalesce(1)
    return assemble_features(raw, keep_cols=keep_cols)


def _fitted(model) -> tuple:
    return (
        [tuple(float(x) for x in c) for c in model.clusterCenters()],
        model.summary.trainingCost,
    )


@pytest.mark.parametrize(
    "keep_cols", [(), ("reason",)], ids=["features_only", "with_extra_column"]
)
def test_fit_hands_mllib_an_uncached_dataset(spark, monkeypatch, keep_cols):
    df = _assembled(spark, keep_cols)
    # the reference fit: the same frame, unpersisted, straight to MLlib
    want = _fitted(KMeans(k=4, seed=42, featuresCol="features").fit(df))

    seen = []
    real_fit = KMeans._fit

    def spy(self, dataset):
        seen.append(dataset.storageLevel)
        return real_fit(self, dataset)

    df.persist()
    try:
        assert df.count() == 600
        assert df.storageLevel != StorageLevel.NONE
        monkeypatch.setattr(KMeans, "_fit", spy)
        model = fit_kmeans(df, k=4, seed=42)
        assert seen == [StorageLevel.NONE]
        assert _fitted(model) == want
    finally:
        df.unpersist()

