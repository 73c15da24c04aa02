"""Approximate operators (sketches, int8 quantization) stay within
their configured error bounds of the exact answer, and count-min
sketches merge the same in any partition order."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.sources.readers import read_table

SF = "/root/testdata/sf0.01"


def test_approx_distinct_within_bound(spark):
    """The query emits the sketch's accuracy contract directly: the
    exact count plus a Spark-computed within-±5% boolean, which must
    be TRUE for every group (the oracle side is literal TRUE)."""
    rows = load_all()["approx_distinct_users_by_type"].fn(spark, SF).collect()
    exact = {
        r["event_type"]: r["exact"]
        for r in read_table(spark, SF, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == exact.keys()
    for r in rows:
        assert r["exact_users"] == exact[r["event_type"]]
        assert r["approx_within_5pct"], r


def test_count_min_sketch_partition_order_invariant(spark, sf_dir):
    from bigdata_flightanalysis_spark.operators.sketches import (
        count_min_sketch_bytes,
    )

    ev = read_table(spark, sf_dir, "events").select("user_id")
    a = count_min_sketch_bytes(ev.repartition(1), "user_id")
    b = count_min_sketch_bytes(ev.repartition(8), "user_id")
    assert a == b  # integer counters + fixed seed → merge-order invariant


def test_approx_top_k_exact_in_small_cardinality_regime(spark, sf_dir):
    from bigdata_flightanalysis_spark.operators.sketches import (
        approx_top_k_items,
    )
    from pyspark.sql import functions as F

    ev = read_table(spark, sf_dir, "events")
    got = [(r["item"], r["est_count"]) for r in
           approx_top_k_items(ev, "event_type", 5).collect()]
    exact = sorted(
        [(r["event_type"], r["n"]) for r in
         ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()],
        key=lambda t: (-t[1], t[0]),
    )
    assert got == exact


def test_approx_percentile_within_accuracy_bound(spark, sf_dir):
    """approx_percentile(acc=100) guarantees rank error ≤ N/acc: the
    sketch's answer must sit within ±1% of the exact rank."""
    li = read_table(spark, sf_dir, "lineitem").select("l_extendedprice")
    n = li.count()
    approx = li.agg(
        F.expr("approx_percentile(l_extendedprice, 0.5, 100)")
    ).first()[0]
    exact_rank = li.filter(F.col("l_extendedprice") <= approx).count()
    assert abs(exact_rank - 0.5 * n) <= n / 100 + 1


def test_int8_quantization_reconstruction_error_bound(spark, sf_dir):
    """floor(x·scale + 0.5) is nearest-int, so dequantized values are
    within half a quantization step: |x − q/scale| ≤ maxabs/254."""
    q = load_all()["embed_quantize_int8"].fn(spark, sf_dir).limit(50).collect()
    emb = {
        r["vec_id"]: r["embedding"]
        for r in read_table(spark, sf_dir, "embeddings").limit(50).collect()
    }
    for r in q:
        if r["vec_id"] not in emb or r["maxabs"] == 0:
            continue
        scale = 127.0 / r["maxabs"]
        step = r["maxabs"] / 254.0
        qvals = [int(s) for s in r["q"].split(",")]
        for x, qi in zip(emb[r["vec_id"]], qvals):
            assert abs(qi) <= 127
            assert abs(x - qi / scale) <= step * 1.0000001


def test_sketch_helpers_escape_awkward_column_names(spark):
    """Columns whose names need backticks (spaces, reserved words)
    must work through the expr-built sketch helpers — profile.py
    escapes for this exact reason and these skipped it (r14 review)."""
    from bigdata_flightanalysis_spark.operators.sketches import (
        approx_top_k_items,
        count_min_sketch_bytes,
    )

    df = spark.createDataFrame(
        [("a",), ("a",), ("b",)], ["event type"]
    )
    top = approx_top_k_items(df, "event type", 2).collect()
    assert [(r["item"], r["est_count"]) for r in top] == [("a", 2), ("b", 1)]
    assert len(count_min_sketch_bytes(df, "event type")) > 0


def test_approx_top_k_budget_parameter(spark):
    """max_items_tracked reaches the sketch (r16 review: the docstring
    demanded a parameter the signature didn't expose). With a budget
    >= cardinality the counts are exact even when the default k-only
    call would sit inside its 10000 budget anyway — so assert the
    parameter at least round-trips and matches the exact counts."""
    from bigdata_flightanalysis_spark.operators.sketches import (
        approx_top_k_items,
    )

    df = spark.range(1000).select((F.col("id") % 7).alias("k"))
    got = {
        r["item"]: r["est_count"]
        for r in approx_top_k_items(
            df, "k", 7, max_items_tracked=100
        ).collect()
    }
    exact = {
        r["k"]: r["n"]
        for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()
    }
    assert got == exact
