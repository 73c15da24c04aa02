"""Physical-plan assertions (SURVEY.md §4): the optimizations the
engine relies on at 100 TB must actually appear in the executed plans
— pushdown, pruning, broadcast, top-K without full sort, partial
aggregation, and no Python row-UDFs in hot paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.sources.readers import read_table

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def registry():
    return load_all()


@pytest.fixture(scope="module")
def registry_plans(spark, registry):
    """Executed-plan string per registry query, built ONCE and shared
    by the registry-wide sweeps below: building every plan takes ~70 s.
    Returns (plans, errors): a query whose plan can't be produced lands
    in `errors` so each sweep keeps its own error semantics (the UDF
    and CartesianProduct guards fail on any error; the scan/window
    guards skip, their failure detail owned elsewhere). Built at sf0.01
    — the stricter frame for size-dependent planning: a cross join
    whose build side broadcasts at sf0.001 can degrade to
    CartesianProduct at sf0.01."""
    plans: dict[str, str] = {}
    errors: dict[str, str] = {}
    for name, q in registry.items():
        try:
            plans[name] = _plan(q.fn(spark, SF))
        except Exception as exc:  # noqa: BLE001 — consumers decide severity
            errors[name] = f"{type(exc).__name__}: {exc}"[:120]
    return plans, errors


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet(spark):
    df = read_table(spark, SF, "orders").filter(F.col("o_orderstatus") == "F")
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,F)]" in scan


def test_column_pruning_reaches_parquet(spark):
    df = read_table(spark, SF, "lineitem").select("l_orderkey", "l_quantity")
    scan = df._jdf.queryExecution().sparkPlan().toString()
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in scan


def test_flagship_broadcasts_dim_and_takeordered(spark, registry):
    plan = _plan(registry["flagship_top_segments"].fn(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan


def test_q1_partial_aggregation(spark, registry):
    plan = _plan(registry["q1_pricing_summary"].fn(spark, SF))
    assert "partial_" in plan  # map-side combine before the shuffle
    assert plan.count("Exchange hashpartitioning") == 1


def test_topn_uses_window_group_limit(spark, registry):
    plan = _plan(registry["top_customers_per_segment"].fn(spark, SF))
    assert "WindowGroupLimit" in plan  # per-group top-N pruned below the sort


def test_plan_stats_windows_excludes_window_group_limit(spark, registry):
    """plan_stats['windows'] counts Window NODES word-bounded: a bare
    substring count also matched every WindowGroupLimit (planned as
    Partial+Final NEXT TO the Window), reporting one logical window
    as 3 (r15 review)."""
    from bigdata_flightanalysis_spark.plans import plan_stats

    df = registry["top_customers_per_segment"].fn(spark, SF)
    assert "WindowGroupLimit" in _plan(df)  # precondition for the test
    assert plan_stats(df)["windows"] == 1


def test_minhash_single_shuffle_to_signatures(spark, registry):
    plan = _plan(registry["doc_minhash_signatures"].fn(spark, SF))
    # explode → partial min-agg → ONE exchange → final agg (+ sort for
    # the display ordering, which is exempt)
    assert plan.count("Exchange hashpartitioning") == 1


def test_near_dup_is_bucket_equijoin(spark, registry):
    """LSH candidates must come from an equi-join on (band, bucket) —
    never a quadratic join shape."""
    plan = _plan(registry["doc_near_dup_candidates"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_near_dup_materialized_mode_scans_corpus_once(spark):
    """Large-corpus mode: the signature table is eagerly checkpointed,
    so the banded self-join reads the checkpoint on BOTH sides and the
    raw corpus parquet is scanned exactly once (during checkpoint
    materialization, not in the join plan). Results must be identical
    to the recompute-both-sides form."""
    from bigdata_flightanalysis_spark.queries.text import _candidate_pairs

    recompute = _candidate_pairs(spark, SF, materialize=False)
    # the plain self-join really does scan the corpus once PER SIDE
    assert _plan(recompute).count("Scan parquet") == 2

    mat = _candidate_pairs(spark, SF, materialize=True)
    assert _plan(mat).count("Scan parquet") == 0  # checkpoint-fed join
    assert sorted(map(tuple, mat.collect())) == sorted(
        map(tuple, recompute.collect())
    )


def test_near_dup_reliable_checkpoint_mode(spark, tmp_path):
    """The 100 TB posture: materialization via a RELIABLE checkpoint
    dir (survives executor loss, unlike localCheckpoint). Same single
    corpus scan, same results, and the checkpoint actually lands in
    the configured directory."""
    import os

    from bigdata_flightanalysis_spark.queries.text import _candidate_pairs

    ckpt = str(tmp_path / "ckpt")
    mat = _candidate_pairs(spark, SF, materialize=True, checkpoint_dir=ckpt)
    assert _plan(mat).count("Scan parquet") == 0
    written = [f for _root, _d, files in os.walk(ckpt) for f in files]
    assert written, "reliable checkpoint dir is empty"
    recompute = _candidate_pairs(spark, SF, materialize=False)
    assert sorted(map(tuple, mat.collect())) == sorted(
        map(tuple, recompute.collect())
    )


def test_simhash_near_dup_materialized_mode_scans_corpus_once(
    spark, registry, monkeypatch
):
    """doc_simhash_near_dup's large-corpus switch (the same
    is_large_input gate as the MinHash path): above
    the threshold the (doc_id, simhash) table is eagerly checkpointed
    so the banded self-join reads it on both sides and the corpus is
    scanned once; results identical to the small-mode recompute plan."""
    from bigdata_flightanalysis_spark.operators import checkpointing
    from bigdata_flightanalysis_spark.queries import text as text_mod

    small = text_mod.doc_simhash_near_dup(spark, SF)
    assert _plan(small).count("Scan parquet") == 2  # one per join side

    monkeypatch.setattr(checkpointing, "LARGE_INPUT_BYTES", 0)
    large = text_mod.doc_simhash_near_dup(spark, SF)
    assert _plan(large).count("Scan parquet") == 0  # checkpoint-fed
    assert sorted(map(tuple, large.collect())) == sorted(
        map(tuple, small.collect())
    )


def test_triangles_degree_oriented_mode_matches_small_mode(
    spark, registry, monkeypatch
):
    """doc_dup_graph_triangles' large-corpus switch (§2.5 skew — the
    same is_large_input gate as the MinHash/SimHash paths): above the
    threshold edges are re-oriented low-degree→high-degree so wedge
    fan-out is bounded by min-degree (a celebrity doc can't pin its
    whole neighborhood on one build side); the triangle/wedge counts
    are provably identical to the small-mode a<b orientation, asserted
    row-for-row here."""
    from bigdata_flightanalysis_spark.operators import checkpointing
    from bigdata_flightanalysis_spark.queries import text as text_mod

    small = text_mod.doc_dup_graph_triangles(spark, SF)
    # small mode keeps the plain a<b wedge join: no degree-rank column
    assert "dd#" not in _plan(small)

    monkeypatch.setattr(checkpointing, "LARGE_INPUT_BYTES", 0)
    large = text_mod.doc_dup_graph_triangles(spark, SF)
    # the wedge join now orders by the dst endpoint's (degree, id) rank
    assert "dd#" in _plan(large)
    assert [tuple(r) for r in large.collect()] == [
        tuple(r) for r in small.collect()
    ]


def test_embed_pair_blocking_gate_matches_largemode(spark, registry, monkeypatch):
    """embed_near_dup_pairs' large-corpus switch (the same
    is_large_input gate as the MinHash path): above the threshold the
    bucket self-join runs blocked, with the same plan shape and rows
    as the forced embed_near_dup_pairs_largemode twin."""
    import re

    from bigdata_flightanalysis_spark.operators import checkpointing

    def shape(df):  # plan text without per-build ids
        return re.sub(r"#\d+|plan_id=\d+|(?<=lambda \w)_\d+", "", _plan(df))

    forced = registry["embed_near_dup_pairs_largemode"].fn(spark, SF)
    small = registry["embed_near_dup_pairs"].fn(spark, SF)
    assert shape(small) != shape(forced)

    monkeypatch.setattr(checkpointing, "LARGE_INPUT_BYTES", 0)
    gated = registry["embed_near_dup_pairs"].fn(spark, SF)
    assert shape(gated) == shape(forced)
    assert [tuple(r) for r in gated.collect()] == [
        tuple(r) for r in forced.collect()
    ]


def test_incremental_near_dup_is_bucket_equijoin(spark, registry):
    """The incremental probe must be a (band, bucket) equi-join like
    the full-corpus form — never a quadratic join shape."""
    plan = _plan(registry["doc_near_dup_incremental"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pq_topk_is_broadcast_relational(spark):
    """PQ-ADC must stay relational: codebook and query-table joins
    broadcast (the corpus code relation never shuffles for scoring),
    no cross join anywhere in the PQ path, and the ADC sum partially
    aggregated map-side. (The registered contract query additionally
    embeds the brute-force exact baseline for recall, which IS a
    deliberate broadcast cross join — so the assertion targets the PQ
    frame itself.)"""
    from bigdata_flightanalysis_spark.queries.similarity import pq_topk_frame

    plan = _plan(pq_topk_frame(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan  # map-side-combined ADC


def test_graph_ops_reliable_checkpoint_mode(spark, tmp_path):
    """Iterative graph ops honor the same reliable-checkpoint contract
    as the dedup pipeline: with a checkpoint dir, every round lands in
    it (cluster fault tolerance) and results are identical to the
    localCheckpoint default — bit-identical for pagerank, whose sums
    accumulate in decimal."""
    import os

    from bigdata_flightanalysis_spark.operators.graph import (
        connected_components,
        pagerank,
    )
    from bigdata_flightanalysis_spark.queries.text import _candidate_pairs

    pairs = _candidate_pairs(spark, SF).localCheckpoint()
    ckpt = str(tmp_path / "graph-ckpt")
    cc_local = sorted(
        map(tuple, connected_components(pairs, "doc_a", "doc_b").collect())
    )
    cc_rel = sorted(
        map(
            tuple,
            connected_components(
                pairs, "doc_a", "doc_b", checkpoint_dir=ckpt
            ).collect(),
        )
    )
    assert cc_rel == cc_local
    written = [f for _r, _d, files in os.walk(ckpt) for f in files]
    assert written, "reliable checkpoint dir is empty"

    edges = pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    pr_local = {r["node"]: r["rank"] for r in pagerank(edges, iterations=3).collect()}
    pr_rel = {
        r["node"]: r["rank"]
        for r in pagerank(edges, iterations=3, checkpoint_dir=ckpt).collect()
    }
    assert pr_rel == pr_local


def test_dup_clusters_hash_stable_under_env_checkpoint_dir(
    spark, registry, tmp_path, monkeypatch
):
    """The full registry query (doc_dup_clusters) run under the
    SPARK_GRAFT_CHECKPOINT_DIR env contract must produce the same rows
    as the default posture — the deployment switch cannot change
    answers — and must leave the session's checkpoint dir as it found
    it (no tmp-dir leakage into later checkpoint() calls)."""
    fn = registry["doc_dup_clusters"].fn
    baseline = [tuple(r) for r in fn(spark, SF).collect()]
    prev_dir = spark.sparkContext.getCheckpointDir()
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(tmp_path / "ckpt"))
    rel = [tuple(r) for r in fn(spark, SF).collect()]
    assert rel == baseline
    if prev_dir is not None:
        # restore nests one UUID level under the previous root (Spark
        # has no plain setter), so assert no tmp-dir leakage rather
        # than exact equality
        after = spark.sparkContext.getCheckpointDir() or ""
        assert str(tmp_path) not in after


def test_no_python_row_udfs_in_oracle_queries(registry_plans):
    """BatchEvalPython (row-at-a-time Python UDF) must never appear;
    ArrowEvalPython/mapInPandas only in the multimodal path. A query
    whose plan can't be built at all fails here too."""
    plans, errors = registry_plans
    assert errors == {}
    for name, plan in plans.items():
        assert "BatchEvalPython" not in plan, name
        if "multimodal" not in name:
            assert "ArrowEvalPython" not in plan, name


def test_range_join_is_not_nested_loop(spark, registry):
    plan = _plan(registry["events_range_join_error_context"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q6_all_predicates_pushed_no_shuffle_before_agg(spark, registry):
    df = registry["q6_forecast_revenue"].fn(spark, SF)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    scan = buf.getvalue()
    # every Q6 predicate reaches the parquet reader
    for frag in (
        "GreaterThanOrEqual(l_shipdate",
        "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in scan, f"missing pushed filter {frag}"
    plan = _plan(df)
    assert "partial_" in plan  # map-side combine; only the 1-row final exchange


def test_q5_dims_broadcast_facts_shuffled(spark, registry):
    plan = _plan(registry["q5_local_supplier_revenue"].fn(spark, SF))
    # nation/region/supplier chain broadcast; orders⋈customer and
    # lineitem⋈orders are the only shuffled joins
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_is_single_fact_shuffle(spark, registry):
    plan = _plan(registry["q21_sole_late_supplier"].fn(spark, SF))
    # decorrelated form: lineitem⋈orders then ONE per-order aggregate;
    # the correlated EXISTS/NOT-EXISTS form would probe the fact 3×
    assert plan.count("Scan parquet") == 3  # lineitem, orders, supplier once each
    assert "BroadcastHashJoin" in plan  # supplier side


def test_q15_no_second_fact_scan(spark, registry):
    plan = _plan(registry["q15_top_supplier"].fn(spark, SF))
    # the scalar MAX is computed from the aggregated frame; a naive
    # plan re-scans lineitem for the subquery
    assert plan.count("Scan parquet") <= 3  # lineitem(+reuse), supplier


def test_q2_window_decorrelation_reuses_aggregate_partitioning(spark, registry):
    plan = _plan(registry["q2_min_cost_supplier"].fn(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # correlated MIN became a window over the aggregated offers frame
    assert "Window" in plan


def test_q20_agg_and_window_share_one_exchange(spark, registry):
    plan = _plan(registry["q20_heavy_flow_suppliers"].fn(spark, SF))
    # repartition(l_partkey) satisfies both the pair groupBy's and the
    # part window's distribution — the agg→window chain shuffles once
    assert plan.count("Exchange hashpartitioning") == 1


def test_salient_terms_single_corpus_shuffle_reused(spark, registry):
    df = registry["doc_salient_terms"].fn(spark, SF)
    df.collect()  # finalize the adaptive plan
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # the term repartition serves the tf agg, the df agg AND the join:
    # the join is shuffle-hash on the existing partitioning (never a
    # broadcast that would plan a second corpus explode), and the df
    # branch's copy of the explode→repartition subtree collapses into
    # a ReusedExchange at runtime — the corpus is read+shuffled ONCE
    assert "ShuffledHashJoin" in plan
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" not in plan


def test_plan_stats_helper(spark, registry):
    from bigdata_flightanalysis_spark.plans import plan_stats

    stats = plan_stats(registry["revenue_by_region"].fn(spark, SF))
    assert stats["broadcast_joins"] == 3
    assert stats["nested_loop_joins"] == 0
    assert stats["python_row_udfs"] == 0


def test_bm25_no_corpus_shuffle(spark, registry):
    """BM25 must be stats-broadcast + pure expressions: the only
    exchanges are the single-row stats aggregate and its broadcast —
    nothing hash-partitions the corpus, and top-k is
    TakeOrderedAndProject, not a global sort."""
    plan = _plan(registry["doc_bm25_topk"].fn(spark, SF))
    assert "Exchange hashpartitioning" not in plan
    assert "BroadcastExchange" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_duplicate_spans_no_join(spark, registry):
    """The span-dup rollup is aggregate+window only — the exploded
    corpus relation is never joined back to itself."""
    plan = _plan(registry["doc_duplicate_spans"].fn(spark, SF))
    assert "Join" not in plan
    assert "partial_count" in plan  # (h, doc) pre-agg is map-side combinable


def test_snapshot_diff_single_join(spark, registry):
    plan = _plan(registry["customer_snapshot_diff"].fn(spark, SF))
    assert plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin") == 1
    assert "FullOuter" in plan


def test_winnowing_single_doc_shuffle(spark, registry):
    """Winnowing is per-doc window work: exactly one hash partitioning
    (doc_id for the window) before the distinct's own exchange; no
    joins at all."""
    plan = _plan(registry["doc_winnow_fingerprints"].fn(spark, SF))
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_pit_lookup_is_union_window_not_range_join(spark, registry):
    """The PIT lookup must run as the union+window as-of formulation —
    one shuffle on the business key, no inequality join explosion."""
    plan = _plan(registry["orders_pit_customer_balance"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan
    assert "Union" in plan


def test_es_weighted_sample_no_shuffle_topk(spark, registry):
    """E-S sampling is a narrow pass + TakeOrderedAndProject — no hash
    partitioning of the corpus, no global sort."""
    plan = _plan(registry["doc_weighted_sample_es"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Join" not in plan


def test_interval_overlap_is_equijoin_not_nested_loop(spark, registry):
    plan = _plan(registry["events_activity_incident_overlap"].fn(spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_integrity_report_scans_each_fact_once(spark, registry):
    """All three lineitem FK edges must come out of ONE lineitem scan
    (the per-fact single-pass shape, not one scan per edge)."""
    plan = _plan(registry["referential_integrity_report"].fn(spark, SF))
    assert plan.count("lineitem.parquet") == 1
    assert plan.count("orders.parquet") == 2  # dim for lineitem + fact scan
    # nation is dim for two facts (customer, supplier) + its own fact scan
    assert plan.count("nation.parquet") == 3


def test_winsorized_window_is_key_partitioned(spark, registry):
    """The cume_dist windows partition by the group key — a
    no-partition WindowExec (all rows to one task) would be the 100 TB
    failure mode."""
    plan = _plan(registry["events_value_winsorized"].fn(spark, SF))
    assert "Window" in plan
    assert "partitionBy: []" not in plan.replace(" ", "")
    mad_plan = _plan(registry["events_mad_anomalies"].fn(spark, SF))
    assert "Window" in mad_plan


def test_cdc_latest_state_is_partial_aggregate_no_window(spark, registry):
    """CDC compaction must be the max_by partial-aggregate shape (map
    tasks pre-compact, one candidate per key crosses the shuffle) —
    NOT the row_number window the oracle uses, which shuffles every
    change record."""
    plan = _plan(registry["events_cdc_latest_state"].fn(spark, SF))
    assert "Window" not in plan
    assert "max_by" in plan or "MaxBy" in plan
    assert "partial_max_by" in plan.lower() or "partial" in plan.lower()


def test_incremental_agg_merge_stays_partial(spark, registry):
    """Both batch partials and the merge re-reduce are hash aggregates
    with map-side partials; no window, no sort-based fallback."""
    plan = _plan(registry["events_incremental_agg_merge"].fn(spark, SF))
    assert "Window" not in plan
    assert "HashAggregate" in plan


def test_no_cartesian_product_in_any_registry_query(registry_plans):
    """Registry-wide structural guard: no query may plan a
    CartesianProduct — the unbounded-blowup operator that small-SF
    correctness tests can't distinguish from a working join. (The
    broadcast crossJoins in the similarity queries plan as
    BroadcastNestedLoopJoin with a bounded build side, which is the
    point of the check distinguishing them.)

    A query whose plan can't even be produced must not silently escape
    the guard (r11 verdict finding #3): every registry query must plan.
    Other tests own the per-query failure detail; this keeps the
    guard's coverage honest."""
    plans, errors = registry_plans
    offenders = [
        name for name, plan in plans.items() if "CartesianProduct" in plan
    ]
    assert offenders == []
    assert errors == {}, (
        "queries escaped the CartesianProduct guard (plan could not be "
        f"produced at sf0.01): {errors}"
    )


def test_twopass_robust_stats_have_no_window(spark, registry):
    """The percentile_disc two-pass winsorize/MAD twins exist to remove
    the per-key ordered window (the round-6 straggler caveat): their
    plans must contain NO Window node — thresholds come from
    map-side-combined aggregates — while still hash-matching the
    window forms' oracle."""
    for name in ("events_value_winsorized_twopass", "events_mad_anomalies_twopass"):
        plan = _plan(registry[name].fn(spark, SF))
        assert "Window" not in plan, f"{name} still has a window:\n{plan}"
        assert "partial_percentile_disc" in plan or "percentile_disc" in plan, name


def test_twopass_equals_window_form(spark, registry):
    """Spark-vs-Spark equivalence of the two winsorize/MAD forms at
    sf0.01 (both also hash-match the same DuckDB oracle — this pins
    the equivalence inside one engine, independent of the harness)."""
    for a, b in (
        ("events_value_winsorized", "events_value_winsorized_twopass"),
        ("events_mad_anomalies", "events_mad_anomalies_twopass"),
    ):
        ra = sorted(map(tuple, registry[a].fn(spark, SF).collect()))
        rb = sorted(map(tuple, registry[b].fn(spark, SF).collect()))
        assert ra == rb, (a, b)


def test_profile_approx_is_single_pass_no_expand(spark, registry):
    """approx=True profiling is the 100 TB default BECAUSE it avoids
    Catalyst's Expand (N rows per input row for N distinct aggs): the
    HLL profile of orders must plan with no Expand node; the exact
    twin (orders_profile) is allowed its documented Expand."""
    from bigdata_flightanalysis_spark.operators.profile import profile_table

    approx_plan = _plan(profile_table(read_table(spark, SF, "orders"), rsd=0.01))
    assert "Expand" not in approx_plan


def test_embed_incremental_and_decontamination_plan_shapes(spark, registry):
    """The round-7 embedding queries keep the ANN family's plan
    contract: bucket equi-joins (never a quadratic join shape), the
    small side broadcast in the decontamination probe, and — for
    embed_standardize — a broadcast of the one-row stats frame with no
    corpus shuffle beyond the DIM-row moments aggregate."""
    for name in ("embed_near_dup_incremental", "embed_decontamination"):
        plan = _plan(registry[name].fn(spark, SF))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "BroadcastHashJoin" in _plan(
        registry["embed_decontamination"].fn(spark, SF)
    )
    std_plan = _plan(registry["embed_standardize"].fn(spark, SF))
    assert "CartesianProduct" not in std_plan
    # the only exchanges: the 64-key moments aggregate + the final sort
    assert "BroadcastExchange" in std_plan or "Broadcast" in std_plan


def test_segmentation_twopass_twins_have_no_window(spark, registry):
    """The percentile_disc boundary-bucket twins of the NTILE
    segmentation queries exist to remove the single-task global sort
    (the same straggler class the winsorize twins closed): their
    plans must contain NO Window node, and assignment must be a
    broadcast of the one-row bounds frame, never a shuffle of the
    per-customer frame against it."""
    for name in (
        "customer_value_deciles_twopass",
        "customer_rfm_segments_twopass",
    ):
        df = registry[name].fn(spark, SF)
        plan = _plan(df)
        assert "Window" not in plan, f"{name} still has a window:\n{plan}"
        assert "percentile_disc" in plan, name
        assert "BroadcastNestedLoopJoin" in plan, name
        assert "CartesianProduct" not in plan, name
        # the bounds and assignment branches must share ONE orders
        # scan + per-customer shuffle (the exchange-reuse pin in the
        # query keeps both subtrees canonically identical) — AQE only
        # realizes the reuse in the final executed plan, so collect
        df.collect()
        final = df._jdf.queryExecution().executedPlan().treeString()
        assert "ReusedExchange" in final, f"{name} scans orders twice"


def test_activity_ranked_topk_is_take_ordered(spark, registry):
    """events_user_activity_ranked's 'rank <= 10' is equivalent to
    top-10 because the ordering tuple is total; the plan must realize
    it as TakeOrderedAndProject (per-partition top-k, merged) with any
    Window running AFTER the limit — never a global-sort window over
    the full per-user frame."""
    plan = _plan(registry["events_user_activity_ranked"].fn(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    win = plan.index("Window")
    top = plan.index("TakeOrderedAndProject")
    assert win < top, "window must consume the limited frame, not feed it"


def test_no_full_width_scan_in_any_registry_query(registry_plans):
    """Registry-wide structural guard (the 100 TB I/O tax): no query
    may scan EVERY column of a wide table — column pruning must reach
    the parquet scan. The only allowed full-width readers are the
    table profilers, whose job is every column by definition. Narrow
    tables (≤4 columns: region, nation, embeddings) are exempt —
    full-width there is usually the query's real projection."""
    import re

    import pyarrow.parquet as pq

    widths = {
        t: len(pq.read_schema(f"{SF}/{t}.parquet").names)
        for t in (
            "customer", "supplier", "part", "orders",
            "lineitem", "events", "documents",
        )
    }
    allowed = {"orders_profile", "orders_profile_approx"}
    pat = re.compile(r"FileScan parquet \[([^\]]*)\].*?/(\w+)\.parquet")
    offenders = []
    plans, _errors = registry_plans  # errors skip: detail owned elsewhere
    for name, plan in plans.items():
        if name in allowed:
            continue
        for line in plan.splitlines():
            m = pat.search(line)
            if not m:
                continue
            ncols = len([c for c in m.group(1).split(",") if c.strip()])
            tbl = m.group(2)
            if tbl in widths and widths[tbl] > 4 and ncols >= widths[tbl]:
                offenders.append((name, tbl))
    assert offenders == []


def test_segmentation_approx_mode_partitions_all_customers(spark):
    """approx=True boundary buckets (one shared percentile_approx
    sketch per axis — the bounded-memory extreme-scale form) must
    still place EVERY customer in exactly one bucket with the exact
    forms' spend mass; bucket populations may differ from the exact
    boundaries by the sketch's rank error, which is the accepted
    trade."""
    from bigdata_flightanalysis_spark.queries.relational_ext import (
        customer_rfm_segments_twopass,
        customer_value_deciles_twopass,
    )

    exact = customer_value_deciles_twopass(spark, SF).collect()
    approx = customer_value_deciles_twopass(spark, SF, approx=True).collect()
    assert sum(r["n_customers"] for r in approx) == sum(
        r["n_customers"] for r in exact
    )
    assert abs(
        sum(r["total_spend"] for r in approx)
        - sum(r["total_spend"] for r in exact)
    ) < 1e-6
    assert {r["decile"] for r in approx} <= set(range(1, 11))

    exact_r = customer_rfm_segments_twopass(spark, SF).collect()
    approx_r = customer_rfm_segments_twopass(spark, SF, approx=True).collect()
    assert sum(r["n_customers"] for r in approx_r) == sum(
        r["n_customers"] for r in exact_r
    )
    for r in approx_r:
        code = r["rfm_code"]
        assert 111 <= code <= 555 and all(
            1 <= int(d) <= 5 for d in str(code)
        ), code


def test_global_windows_only_on_documented_bounded_inputs(registry_plans):
    """Registry-wide structural guard (round-8 verdict ask): a Window
    with NO partition spec executes in ONE task over its whole input —
    harmless when that input is provably small (per-day/per-month
    aggregates, a limit-k frame), a scale wall when it is per-entity
    sized (the 50M-order smoke measured the NTILE wall at 2x the
    two-pass form). Every partition-less Window must therefore belong
    to a query in this explicit allowlist, each with a bounded-input
    rationale; a new global window anywhere else fails CI until it is
    either re-planned or consciously allowlisted."""
    import re

    allowed = {
        # exact NTILE segmentation forms: per-customer frame BY DESIGN,
        # kept as the small-scale twins of *_twopass / *_sketch (whose
        # plans are asserted window-free elsewhere in this file)
        "customer_value_deciles",
        "customer_rfm_segments",
        # lag/cumsum over per-month / per-day aggregate frames:
        # input rows == number of periods, not corpus size
        "monthly_revenue_delta",
        "events_cumulative_new_users",
        # rank over a TakeOrderedAndProject-limited top-k frame
        # (test_activity_ranked_topk_is_take_ordered pins the order)
        "events_user_activity_ranked",
    }
    # first argument of a windowspecdefinition: a bare column ref means
    # the window IS partitioned; a sort order (ASC/DESC) or the frame
    # itself means the partition spec is empty
    first_arg = re.compile(r"windowspecdefinition\(([^,)]+)")
    offenders = []
    plans, _errors = registry_plans  # errors skip: detail owned elsewhere
    for name, plan in plans.items():
        if name in allowed:
            continue
        for line in plan.splitlines():
            if not re.search(r"\bWindow \[", line):
                continue
            for m in first_arg.finditer(line):
                fa = m.group(1).strip()
                if (
                    fa.startswith("specifiedwindowframe")
                    or " ASC" in fa
                    or " DESC" in fa
                ):
                    offenders.append((name, fa))
    assert offenders == []


def test_nested_loop_joins_only_on_documented_bounded_builds(registry_plans):
    """Registry-wide structural guard (completes the join-shape trio
    next to the CartesianProduct and global-window sweeps): a
    BroadcastNestedLoopJoin is O(|stream| x |build|) compute — fine
    when the build side is a 1-row scalar aggregate or a bounded
    broadcast frame, a scale wall when a real relation degrades to it
    (the per-query join tests assert their own shapes, but a NEW query
    could quietly plan one without tripping any of them). Every query
    that plans a BNLJ must therefore be in this allowlist, each entry
    one of two audited bounded-build patterns; anything else fails CI
    until re-planned as an equi-join or consciously allowlisted."""
    allowed = {
        # pattern 1 — crossJoin on a ONE-ROW scalar-aggregate frame
        # (global thresholds/corpus stats joined to every row; the
        # build side is a single row by construction):
        "bloom_filtered_lineitem_revenue",    # bloom (k,m) stamp witness row
        "customer_rfm_segments_twopass",      # global R/F/M percentile bounds
        "customer_rfm_segments_sketch",       # one sketch row per axis (3 joins)
        "customer_value_deciles_twopass",     # global decile bounds row
        "customer_value_deciles_sketch",      # one sketch row per axis
        "doc_bm25_topk",                      # corpus stats row (N, avgdl)
        "doc_bm25_serve_topk",                # served index's stats row
        "doc_dup_graph_triangles",            # nodes/wedges + triangles + edges rows
        "doc_source_mixture_weights",         # total-docs row -> per-source share
        "doc_temperature_mixture_sample",     # totals + alpha-normalizer rows
        "doc_training_manifest",              # mixture stage reuses the same rows
        "embed_standardize",                  # per-dimension mean/std stats row
        "kmeans_embedding_clusters",          # contract booleans vs corpus-size row
        "orders_anti_bloom_check",            # bloom (k,m) stamp witness row
        "orders_profile",                     # exact-mode scalar-agg x distinct-agg rows (r16 split)
        "orders_profile_approx",              # same split inside its exact side
        "q11_important_parts",                # scalar value-share threshold
        "q16_supplier_part_counts",           # NOT-IN empty-build gate row
        "q22_idle_rich_customers",            # scalar avg-balance threshold
        # pattern 2 — broadcast of a BOUNDED frame (query vectors,
        # limit-k candidates, or a fixed doc slice), never a corpus:
        "doc_jaccard_pairs_sample",           # fixed 40-doc calibration slice
        "doc_minhash_estimate_vs_exact",      # same 40-doc slice, pair join
        "embed_cosine_topk",                  # broadcast query-vector set
        "embed_ivf_topk",                     # broadcast probe/query vectors
        "embed_pq_topk",                      # broadcast queries vs codebook
        "embed_quantized_topk",               # broadcast queries + scale rows
        "part_affinity_topk",                 # broadcast top-k anchor parts
    }
    plans, errors = registry_plans  # errors fail the CartesianProduct guard
    stale = allowed - set(plans) - set(errors)
    assert not stale, (
        "BNLJ allowlist names no longer in the registry (renamed/"
        f"deleted query keeping an unaudited exemption alive): {stale}"
    )
    offenders = [
        name
        for name, plan in plans.items()
        if "BroadcastNestedLoopJoin" in plan and name not in allowed
    ]
    assert offenders == []
