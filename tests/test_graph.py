"""Connected components (operators/graph.py) — correctness vs a
driver-side union-find on random graphs, plus structural cases that
exercise multi-hop merging (the reason dedup needs CC at all)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.operators.graph import (
    assign_components,
    connected_components,
)


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical label = min node id in component
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


def _cc_dict(spark, edges):
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    out = connected_components(df)
    return {r["node"]: r["component"] for r in out.collect()}


def test_chain_merges_transitively(spark):
    # A~B, B~C, C~D: no direct A~D edge, yet one cluster — the exact
    # situation pair-wise dedup cannot handle without CC.
    got = _cc_dict(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_direction_and_duplicates_ignored(spark):
    got = _cc_dict(spark, [(2, 1), (1, 2), (2, 2), (3, 2), (5, 7)])
    assert got == {1: 1, 2: 1, 3: 1, 5: 5, 7: 5}


def test_empty_edges(spark):
    df = spark.createDataFrame([], "src bigint, dst bigint")
    assert connected_components(df).count() == 0


def test_raises_when_not_converged(spark):
    """A long chain cannot stabilize in one round; the star-forest
    extraction is invalid on an unconverged edge set, so the operator
    must raise rather than return mislabeled components."""
    chain = [(i, i + 1) for i in range(40)]
    df = spark.createDataFrame(chain, "src bigint, dst bigint")
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=1)


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_random_graphs_match_union_find(spark, seed):
    rng = random.Random(seed)
    n = 120
    # sparse enough to leave many components, dense enough for long
    # chains (path edges i -> i+k)
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(90)
    ] + [(i, i + rng.choice([1, 3])) for i in range(0, n - 3, 7)]
    edges = [(a, b) for a, b in edges if a != b]
    nodes = sorted({x for e in edges for x in e})
    want = _union_find(edges, nodes)
    got = _cc_dict(spark, edges)
    assert got == want


def test_assign_components_singletons(spark):
    docs = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (9, "z")], "doc_id bigint, text string"
    )
    cc = connected_components(
        spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    )
    out = assign_components(docs, "doc_id", cc)
    got = {r["doc_id"]: r["component"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 3, 9: 9}
    # canonical-doc selection: keep min doc per cluster
    kept = (
        out.groupBy("component")
        .agg(F.min("doc_id").alias("keep"))
        .select("keep")
    )
    assert {r["keep"] for r in kept.collect()} == {1, 3, 9}


def test_pagerank_uniform_on_cycle(spark):
    from bigdata_flightanalysis_spark.operators.graph import pagerank

    n = 8
    edges = spark.createDataFrame(
        [(i, (i + 1) % n) for i in range(n)], "src long, dst long"
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    # symmetric cycle → exactly uniform ranks
    assert len(ranks) == n
    assert max(ranks.values()) - min(ranks.values()) < 1e-12
    assert abs(sum(ranks.values()) - 1.0) < 1e-9  # no dangling mass lost


def test_pagerank_star_center_dominates(spark):
    from bigdata_flightanalysis_spark.operators.graph import pagerank

    # bidirectional star: leaves 1..6 ↔ hub 0 (no dangling nodes);
    # the hub aggregates every leaf's full contribution, each leaf
    # gets back only a 1/6 share
    edges = spark.createDataFrame(
        [(i, 0) for i in range(1, 7)] + [(0, i) for i in range(1, 7)],
        "src long, dst long",
    )
    ranks = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert ranks[0] == max(ranks.values())
    assert ranks[0] > 3 * ranks[2]


def test_pagerank_partition_order_invariant(spark):
    from bigdata_flightanalysis_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(i, (i * 7 + 3) % 20) for i in range(40)], "src long, dst long"
    ).where("src != dst")
    a = sorted(tuple(r) for r in pagerank(edges.repartition(1)).collect())
    b = sorted(tuple(r) for r in pagerank(edges.repartition(8)).collect())
    assert a == b  # decimal accumulation → bit-identical ranks


def test_triangle_count_on_crafted_clique(spark, tmp_path):
    """Three identical docs form a 3-clique (3 edges, 1 triangle,
    cc=1.0); an identical pair adds 1 edge and no triangle; a unique
    doc stays isolated (absent from the edge set)."""
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = "one two three four five six seven eight nine ten eleven"
    rows = [
        (1, a, "en", "s", 10), (2, a, "en", "s", 10), (3, a, "en", "s", 10),
        (4, b, "en", "s", 10), (5, b, "en", "s", 10),
        (6, "completely unrelated text with different words entirely", "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = load_all()["doc_dup_graph_triangles"].fn(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_nodes"] == 5          # doc 6 isolated, not in edge set
    assert r["n_edges"] == 4          # 3-clique + 1 pair edge
    assert r["n_triangles"] == 1
    assert r["n_wedges"] == 3         # each clique node: deg 2 -> 1 wedge
    assert r["global_cc"] == 1.0      # 3*1/3


def _kcore_brute(edges, k):
    """Driver-side peel: the independent implementation k_core is
    checked against."""
    sym = set()
    for a, b in edges:
        if a != b:
            sym.add((a, b))
            sym.add((b, a))
    while True:
        deg = {}
        for u, _ in sym:
            deg[u] = deg.get(u, 0) + 1
        bad = {u for u, d in deg.items() if d < k}
        if not bad:
            break
        sym = {(u, v) for u, v in sym if u not in bad and v not in bad}
    out = {}
    for u, _ in sym:
        out[u] = out.get(u, 0) + 1
    return out


def _kcore_dict(spark, edges, k, **kw):
    from bigdata_flightanalysis_spark.operators.graph import k_core

    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    return {r["node"]: r["core_degree"] for r in k_core(df, k, **kw).collect()}


def test_kcore_path_peels_to_empty(spark):
    # The 2-core of a path is empty — reached only after ~n/2 peel
    # rounds (ends fall off two per round), the worst-case round shape.
    got = _kcore_dict(spark, [(i, i + 1) for i in range(9)], 2)
    assert got == {}


def test_kcore_clique_sheds_pendant_chain(spark):
    # K4 + pendant chain 3-10-11: the 2-core and 3-core are exactly
    # the K4 (chain removal must CASCADE: 11 falls, then 10);
    # the 4-core is empty.
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    edges = k4 + [(3, 10), (10, 11)]
    assert _kcore_dict(spark, edges, 2) == {0: 3, 1: 3, 2: 3, 3: 3}
    assert _kcore_dict(spark, edges, 3) == {0: 3, 1: 3, 2: 3, 3: 3}
    assert _kcore_dict(spark, edges, 4) == {}


@pytest.mark.parametrize("seed", [0, 1])
def test_kcore_random_matches_brute_force(spark, seed):
    rng = random.Random(seed)
    n = 60
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(140)]
    edges = [(a, b) for a, b in edges if a != b]
    for k in (2, 3):
        got = _kcore_dict(spark, edges, k)
        assert got == _kcore_brute(edges, k)
        # every surviving node meets the core-degree contract
        assert all(d >= k for d in got.values())


def test_kcore_reliable_checkpoint_dir_same_result(spark, tmp_path):
    edges = [(a, b) for a in range(5) for b in range(a + 1, 5)] + [(4, 9)]
    plain = _kcore_dict(spark, edges, 2)
    reliable = _kcore_dict(spark, edges, 2, checkpoint_dir=str(tmp_path))
    assert plain == reliable == {i: 4 for i in range(5)}


def test_kcore_raises_without_convergence(spark):
    from bigdata_flightanalysis_spark.operators.graph import k_core

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "src bigint, dst bigint"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        k_core(chain, 2, max_iter=2)


def test_kcore_empty_fixed_point_on_last_iteration(spark):
    """A path of 4 peels to empty in exactly 2 rounds; max_iter=2 must
    SUCCEED (empty is a proven fixed point), not raise."""
    got = _kcore_dict(spark, [(1, 2), (2, 3), (3, 4)], 2, max_iter=2)
    assert got == {}


def test_assign_components_alias_emits_exactly_one_column(spark):
    """A non-default alias must add exactly one column — the raw
    joined `component` used to leak through alongside it (r14
    review); and a df that already HAS a `component` column must not
    make the label coalesce ambiguous."""
    docs = spark.createDataFrame(
        [(1, "x"), (3, "y")], "doc_id bigint, component string"
    )
    cc = connected_components(
        spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    )
    out = assign_components(docs, "doc_id", cc, alias="cluster_id")
    assert out.columns == ["doc_id", "component", "cluster_id"]
    got = {r["doc_id"]: (r["component"], r["cluster_id"]) for r in out.collect()}
    # df's own `component` column passes through untouched
    assert got == {1: ("x", 1), 3: ("y", 3)}


def test_connected_components_empty_schema_matches_nonempty(spark):
    """An edge set that reduces to empty (all self-loops) must return
    the same node/component types as the non-empty path even when
    src/dst types differ — a schema must not flip with data content."""
    mixed = "src int, dst bigint"
    empty = connected_components(
        spark.createDataFrame([(1, 1)], mixed)  # self-loop → empty graph
    )
    nonempty = connected_components(spark.createDataFrame([(1, 2)], mixed))
    assert empty.schema == nonempty.schema
    assert empty.count() == 0


def test_pagerank_rejects_bad_checkpoint_interval(spark):
    import pytest

    from bigdata_flightanalysis_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(1, 2)], "src bigint, dst bigint")
    for bad in (0, -3):
        with pytest.raises(ValueError, match="checkpoint_interval"):
            pagerank(edges, checkpoint_interval=bad)


def test_assign_components_preserves_callers_node_column(spark):
    """assign_components joins its labels under reserved __cc_* names:
    a caller df carrying its OWN 'node' column (or keyed on one) must
    keep it — the old drop-by-name on the bare 'node' removed the
    caller's copy too, contradicting the 'df's columns plus exactly
    one new column' guarantee (r15 advice)."""
    edges = spark.createDataFrame([(1, 2)], "src int, dst int")
    cc = connected_components(edges)
    df = spark.createDataFrame(
        [(1, "n1"), (3, "n3")], "id int, node string"
    )
    out = assign_components(df, "id", cc)
    assert out.columns == ["id", "node", "component"]
    rows = {r["id"]: (r["node"], r["component"]) for r in out.collect()}
    assert rows[1] == ("n1", 1)
    assert rows[3] == ("n3", 3)  # singleton labeled by its own key
    # the join key itself named 'node' works and is kept
    df2 = spark.createDataFrame([(2,), (9,)], "node int")
    out2 = assign_components(df2, "node", cc)
    assert out2.columns == ["node", "component"]
    assert {r["node"]: r["component"] for r in out2.collect()} == {2: 1, 9: 9}


def test_assign_components_rejects_reserved_columns(spark):
    """A df already carrying __cc_node/__cc_label would be silently
    clobbered (drop-by-name) or die with an ambiguous-reference error
    mid-pipeline — fail loud up front like the relational siblings
    (r16 review)."""
    import pytest

    from bigdata_flightanalysis_spark.operators.graph import (
        assign_components,
    )

    cc = spark.createDataFrame([(1, 1)], "node bigint, component bigint")
    for bad in ("__cc_node", "__cc_label"):
        df = spark.createDataFrame(
            [(1, "x")], f"doc_id bigint, {bad} string"
        )
        with pytest.raises(ValueError, match="assign_components"):
            assign_components(df, "doc_id", cc)


def test_static_partitioning_scope_restores_conf(spark):
    """The scope must restore BOTH flags it touches — including on
    error — because they are session-global state shared with every
    later query compile."""
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        static_partitioning_scope,
    )

    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with static_partitioning_scope(spark, 3):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    with pytest.raises(RuntimeError, match="boom"):
        with static_partitioning_scope(spark, 5):
            raise RuntimeError("boom")
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev_aqe
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts


def test_loop_width_is_size_derived(spark):
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        LOOP_PARTITION_BYTES,
        loop_width,
    )

    cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert loop_width(spark, 0) == 1  # floor: tiny inputs, 1 task
    assert loop_width(spark, LOOP_PARTITION_BYTES) == 1
    assert loop_width(spark, LOOP_PARTITION_BYTES + 1) == min(cap, 2)
    # cap: a 100 TB input uses the session's full shuffle width
    assert loop_width(spark, 100 * 1024**4) == cap


def test_loop_width_caps_at_default_parallelism_on_non_numeric_conf():
    """A platform value such as ``auto`` for spark.sql.shuffle.partitions
    must not crash the loop operators: the cap falls back to the
    context's defaultParallelism."""
    from types import SimpleNamespace

    from bigdata_flightanalysis_spark.operators.checkpointing import (
        LOOP_PARTITION_BYTES,
        loop_width,
    )

    stub = SimpleNamespace(
        conf=SimpleNamespace(get=lambda key: "auto"),
        sparkContext=SimpleNamespace(defaultParallelism=3),
    )
    assert loop_width(stub, 0) == 1
    assert loop_width(stub, LOOP_PARTITION_BYTES + 1) == 2
    assert loop_width(stub, 100 * 1024**4) == 3


def test_pagerank_checkpoints_capture_loop_partitioning(spark):
    """r17 co-partitioning contract: the returned rank frame's
    checkpoint carries hashpartitioning(node, P) + node-ascending
    ordering, so every round (and any downstream node-keyed join)
    runs exchange-free and sort-free on that side — without the
    capture, each round re-shuffled AND re-sorted the full edge list
    (4 exchanges/round → 0-1 after; the plan dump is
    `git show edb32e2:plans/r17/pagerank_round_before.txt`, and
    doc_dup_canonical_pagerank's counts are in
    plans/plan_stats_sf0.001.json)."""
    from bigdata_flightanalysis_spark.operators.graph import pagerank

    edges = spark.range(4000).select(
        (F.col("id") % 199).alias("src"), ((F.col("id") * 7) % 211).alias("dst")
    )
    ranks = pagerank(edges, iterations=4)
    ep = ranks._jdf.queryExecution().executedPlan()
    part = ep.outputPartitioning().toString()
    assert part.startswith("hashpartitioning(node"), part
    order = ep.outputOrdering().toString()
    assert "node" in order and "ASC" in order, order
    # and a downstream node-keyed aggregate needs no exchange
    agg_plan = (
        ranks.groupBy("node")
        .agg(F.sum("rank"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in agg_plan, agg_plan


def test_pagerank_round_plan_is_exchange_free_on_state_frames(spark):
    """The mechanism behind the r17 pagerank change, pinned at the
    operator level: a frame checkpointed inside
    static_partitioning_scope joins a same-keyed same-width frame
    with no Exchange and no Sort on either captured side."""
    from bigdata_flightanalysis_spark.operators.checkpointing import (
        static_partitioning_scope,
    )

    big = spark.range(5000).select(
        (F.col("id") % 997).alias("src"),
        (F.col("id") % 31).alias("dst"),
        F.lit(2).alias("deg"),
    )
    small = spark.range(997).select(
        F.col("id").alias("node"), F.lit(1.0).alias("rank")
    )
    with static_partitioning_scope(spark, 4):
        c_big = (
            big.repartition(4, "src")
            .sortWithinPartitions("src")
            .localCheckpoint()
        )
        c_small = (
            small.repartition(4, "node")
            .sortWithinPartitions("node")
            .localCheckpoint()
        )
    with static_partitioning_scope(spark, 4):
        j = (
            c_big.join(c_small, c_big.src == c_small.node)
            .select("dst", (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c"))
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    # the invariant: NEITHER state frame is re-shuffled by its join
    # key — the only hash exchange left is the gather groupBy(dst).
    # (With accurate post-materialization stats the planner may still
    # BROADCAST the genuinely small side — that also moves no big-side
    # bytes and is allowed.)
    assert "Exchange hashpartitioning(src" not in plan, plan
    assert "Exchange hashpartitioning(node" not in plan, plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # and no re-sort of the captured-big side: any Sort in the plan
    # may only key on the gather side (dst), never src
    assert "Sort [src" not in plan, plan
    # rows are correct regardless of plan shape
    assert j.count() == 31


def test_lazy_checkpoints_materialize_source_exactly_once(spark):
    """Guardrail for the lazy=True checkpoint contract (r17, VERDICT
    item 8): a lazily-marked frame must be materialized by EXACTLY ONE
    action before any re-use — a call-site that hands a lazy frame to
    two consumers pre-materialization double-computes the lineage
    silently. The accumulator counts how many times the SOURCE edge
    rows are actually produced across a full operator run; the pins
    below are the measured one-pass-per-materializer structure, so any
    future double-compute (or an extra upstream pass) fails loudly
    with the factor it regressed by."""
    from bigdata_flightanalysis_spark.operators.graph import (
        connected_components,
        k_core,
        pagerank,
    )

    def tagged(n=1000):
        acc = spark.sparkContext.accumulator(0)

        def tag(batches):
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        base = (
            spark.range(0, n, 1, 4)
            .select(
                (F.col("id") % 97).alias("src"),
                ((F.col("id") * 13) % 101).alias("dst"),
            )
            .mapInPandas(tag, "src long, dst long")
        )
        return base, acc

    # connected_components: the source feeds only the FIRST lazy
    # checkpoint (the orientation), whose materializer is the first
    # convergence checksum — every later round reads checkpoint
    # blocks, never the source.
    e, acc = tagged()
    connected_components(e).count()
    assert acc.value == 1000, (
        f"cc produced source rows {acc.value / 1000:g}x; expected once"
    )

    # k_core: the symmetrize union reads the source on both branches,
    # but the oriented distinct's exchange is REUSED across them —
    # still exactly one source pass.
    e, acc = tagged()
    k_core(e, 2).count()
    assert acc.value == 1000, (
        f"k_core produced source rows {acc.value / 1000:g}x; expected once"
    )

    # pagerank: exactly three source passes by construction — the
    # loop-width sizing count, the nodes-frame materialization, and
    # the e_deg materialization (the distinct's exchange is reused
    # within each plan, so neither checkpoint pays a second pass).
    e, acc = tagged()
    pagerank(e, iterations=4).count()
    assert acc.value == 3000, (
        f"pagerank produced source rows {acc.value / 1000:g}x; expected 3"
    )


def test_k_core_loop_captures_partitioning(spark):
    """r17 co-partitioning contract for the peel loop: every round
    after the first reads a checkpoint captured as
    hashpartitioning(u, P) + u-ascending, so the returned core-degree
    aggregate (groupBy u) compiles with NO Exchange and no Sort — the
    peel's per-round degree aggregate shares the same shape."""
    from bigdata_flightanalysis_spark.operators.graph import k_core

    edges = spark.range(4000).select(
        (F.col("id") % 199).alias("src"), ((F.col("id") * 7) % 211).alias("dst")
    )
    core = k_core(edges, 2)
    plan = core._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # non-empty core at k=2 on this graph; partitioning captured
    assert core.count() > 0
