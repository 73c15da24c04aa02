"""Adversarial differential tests: the sf fixtures exercise the happy
path; these build tiny hand-crafted events tables targeting the edge
semantics the round-7 changes pinned — degenerate regression groups
(zero x/y variance must yield NULL on BOTH engines, not inf/NaN) and
discrete-percentile boundary ties (window form, percentile_disc
two-pass form, and the DuckDB oracle must agree exactly when the
quantile lands ON a tie run)."""

from __future__ import annotations

from datetime import datetime, timezone

import duckdb
import pytest

from bigdata_flightanalysis_spark.queries.catalog import load_all

REGISTRY = load_all()

_SCHEMA = (
    "event_id bigint, ts timestamp, user_id bigint, event_type string,"
    " value double, props string"
)


def _t(minute: int, second: int = 0) -> datetime:
    return datetime(2024, 3, 1, 12, minute, second)


@pytest.fixture(scope="module")
def adversarial_dir(spark, tmp_path_factory):
    """events.parquet with: a single-event group, a zero-x-variance
    group (all same ts), a zero-y-variance group (constant value), a
    tie-heavy group where p05/p50/p95 land on tie runs, and one
    ordinary group."""
    rows = []
    # 'single': one event — n*sxx - sx^2 == 0 AND syy degenerate
    rows.append((1, _t(0), 1, "single", 5.0, "{}"))
    # 'xconst': x variance 0 (identical ts), y varies
    rows += [(10 + i, _t(1), 2, "xconst", float(i), "{}") for i in range(4)]
    # 'yconst': y variance 0 (constant value), x varies
    rows += [(20 + i, _t(2 + i), 3, "yconst", 7.5, "{}") for i in range(5)]
    # 'ties': 20 values, heavy tie runs: 1.0 x10, 2.0 x9, 100.0 x1
    vals = [1.0] * 10 + [2.0] * 9 + [100.0]
    rows += [
        (40 + i, _t(10 + i), 4, "ties", v, "{}") for i, v in enumerate(vals)
    ]
    # 'normal': varied
    rows += [
        (80 + i, _t(30 + i), 5, "normal", float((i * 7) % 13) + 0.25, "{}")
        for i in range(12)
    ]
    base = tmp_path_factory.mktemp("adversarial")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{base}/events.parquet"
    )
    return str(base)


@pytest.fixture(scope="module")
def adversarial_duck(adversarial_dir):
    con = duckdb.connect()
    # Spark writes a part-file DIRECTORY; DuckDB needs the glob form
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{adversarial_dir}/events.parquet/*.parquet'"
    )
    yield con
    con.close()


def _compare(name, spark, sf_dir, duck):
    # canonicalization shared with the full-registry parity sweep and
    # the verify script (bigdata_flightanalysis_spark.parity)
    from bigdata_flightanalysis_spark.parity import rows_sorted

    q = REGISTRY[name]
    sdf = q.fn(spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    rel = duck.execute(q.oracle)
    dcols = [d[0] for d in rel.description]
    drows = rel.fetchall()
    assert sorted(scols) == sorted(dcols), name
    assert len(srows) == len(drows), (name, len(srows), len(drows))
    a = rows_sorted(scols, srows)
    b = rows_sorted(dcols, drows)
    assert a == b, f"{name}: {[(x, y) for x, y in zip(a, b) if x != y][:3]}"
    return a


def test_trend_degenerate_groups_null_on_both(
    spark, adversarial_dir, adversarial_duck
):
    rows = _compare(
        "events_type_trend", spark, adversarial_dir, adversarial_duck
    )
    by_type = {r[0]: r for r in rows}  # sorted cols: event_type first
    cols = sorted(
        REGISTRY["events_type_trend"].fn(spark, adversarial_dir).columns
    )
    i_slope = cols.index("slope_per_day")
    i_r = cols.index("pearson_r")
    # single event / zero x-variance: slope AND r must be NULL
    for g in ("single", "xconst"):
        assert by_type[g][i_slope] is None, (g, by_type[g])
        assert by_type[g][i_r] is None, (g, by_type[g])
    # constant value: slope is defined (0), but r's denominator is 0
    assert by_type["yconst"][i_slope] == 0.0
    assert by_type["yconst"][i_r] is None
    # ordinary group: both defined
    assert by_type["normal"][i_slope] is not None
    assert by_type["normal"][i_r] is not None


@pytest.mark.parametrize(
    "name",
    [
        "events_value_winsorized",
        "events_value_winsorized_twopass",
        "events_mad_anomalies",
        "events_mad_anomalies_twopass",
    ],
)
def test_robust_stats_tie_boundaries_match_oracle(
    name, spark, adversarial_dir, adversarial_duck
):
    _compare(name, spark, adversarial_dir, adversarial_duck)


def test_twopass_equals_window_on_adversarial_data(spark, adversarial_dir):
    for a, b in (
        ("events_value_winsorized", "events_value_winsorized_twopass"),
        ("events_mad_anomalies", "events_mad_anomalies_twopass"),
    ):
        ra = sorted(map(tuple, REGISTRY[a].fn(spark, adversarial_dir).collect()))
        rb = sorted(map(tuple, REGISTRY[b].fn(spark, adversarial_dir).collect()))
        assert ra == rb, (a, b)


# ---------------------------------------------------------------------------
# r14 edges: blank/whitespace/\x0B documents and NULL-value /
# single-bucket / tied-timestamp events (latent in the sf fixtures,
# which carry none of these shapes).
# ---------------------------------------------------------------------------

_DOC_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


@pytest.fixture(scope="module")
def edge_docs_dir(spark, tmp_path_factory):
    """documents.parquet with: a blank doc, a whitespace-only doc, a
    vertical-tab separator (Java \\s vs RE2 \\s divergence point), a
    one-token doc, and ordinary docs."""
    rows = [
        (1, "the cat sat on the mat", "en", "s0", 22),
        (2, "", "en", "s0", 0),                       # blank
        (3, "   \t  ", "en", "s1", 6),                 # whitespace-only
        (4, "alpha\x0bbeta gamma", "en", "s1", 16),    # \x0B separator
        (5, "word", "de", "s0", 4),                    # single token
        (6, "la la la la", "es", "s1", 11),            # heavy repetition
        # NULL text + NULL n_chars: corpus_card's old cume_dist oracle
        # counted the NULL n_tokens row in its p50 denominator (Spark's
        # percentile_disc ignores it) and frame sampling's range(0,
        # NULL, 25) oracle yielded NULL/NULL vs Spark's ''/0 (r16
        # review — both now pinned)
        (7, None, "en", "s0", None),
        # r16: CJK + accented text (punct_ratio's old ASCII class
        # scored every non-English char as punctuation) and
        # sentence-initial capitalized stopwords ('The' — the old
        # case-sensitive match never counted them), plus trailing
        # newline (the old tokenizer emitted a phantom '' token)
        (8, "中文 文本 测试。", "zh", "s1", 8),
        (9, "The naïve café. The end.\n", "en", "s0", 25),
    ]
    base = tmp_path_factory.mktemp("edge_docs")
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode("overwrite").parquet(
        f"{base}/documents.parquet"
    )
    return str(base)


@pytest.fixture(scope="module")
def edge_docs_duck(edge_docs_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_docs_dir}/documents.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "doc_token_stats",
        "doc_quality_scores",
        "doc_repetition_scores",
        "doc_stopword_ratio",
        "doc_bpe_token_stats",
        "doc_fingerprints",
        "doc_jaccard_pairs_sample",
        "doc_langid",
        "corpus_card",
        "multimodal_payload_stats",
        "multimodal_feature_extract",
        "multimodal_frame_sampling",
    ],
)
def test_text_edges_match_oracle(name, spark, edge_docs_dir, edge_docs_duck):
    """Blank docs: DuckDB's raw string_split_regex('') yields ['']
    while Spark tokenize yields [] — the guarded _SQL_TOKENS macro
    must keep both engines at 0 tokens (and the guarded divisions at
    0.0, where bare ANSI division would throw). \\x0B: Java \\s
    includes it, RE2 \\s does not — both engines now use the same
    explicit whitespace class (r14 review)."""
    _compare(name, spark, edge_docs_dir, edge_docs_duck)


@pytest.fixture(scope="module")
def edge_events_dir(spark, tmp_path_factory):
    """events.parquet with: NULL values mixed into one type, a type
    whose events all land in ONE hour (k=1 stats group), and two
    events tied on (user_id, ts) at a session-gap boundary."""
    rows = []
    # 'nullmix': 20 rows, 5 NULL values
    rows += [
        (100 + i, _t(i), 1, "nullmix", None if i % 4 == 0 else float(i), "{}")
        for i in range(20)
    ]
    # 'onehour': all in one hourly bucket -> k=1, zero variance
    rows += [(200 + i, _t(5, i), 2, "onehour", 1.0, "{}") for i in range(4)]
    # tied timestamps at a session boundary: user 9 has two events at
    # the same ts exactly 30min after its previous event
    rows += [
        (300, _t(0), 9, "click", 1.0, "{}"),
        (301, _t(30), 9, "click", 2.0, "{}"),
        (302, _t(30), 9, "view", 3.0, "{}"),
    ]
    base = tmp_path_factory.mktemp("edge_events")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{base}/events.parquet"
    )
    return str(base)


@pytest.fixture(scope="module")
def edge_events_duck(edge_events_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{edge_events_dir}/events.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "events_hourly_anomalies",       # k=1 group: ANSI div-by-zero guard
        "events_approx_quantile_contract",  # NULL values: population match
        "events_session_windows",        # tied ts: oracle tie-break
    ],
)
def test_event_edges_match_oracle(
    name, spark, edge_events_dir, edge_events_duck
):
    _compare(name, spark, edge_events_dir, edge_events_duck)


@pytest.fixture(scope="module")
def edge_star_dir(spark, tmp_path_factory):
    """Tiny star tables targeting the r15 relational edges: a status
    with exactly ONE order (stddev n=1), a status whose every price is
    NULL (unpivot NULL contract), a NULL l_suppkey lineitem row (NOT IN
    probe-side semantics), and a zero-quantity line (q2 division)."""
    base = tmp_path_factory.mktemp("edge_star")
    orders = [
        # (o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        #  o_orderdate, o_orderpriority)
        (1, 1, "F", 100.0, datetime(1996, 1, 1), "1-URGENT"),
        (2, 1, "F", 200.0, datetime(1996, 2, 1), "1-URGENT"),
        (3, 2, "S", 50.0, datetime(1996, 3, 1), "2-HIGH"),   # n=1 group
        (4, 2, "N", None, datetime(1996, 4, 1), "2-HIGH"),   # all-NULL price
        # r16 NULL-ordering rows ("S" left untouched to preserve the
        # n=1 stddev edge): NULL o_orderdate (NULL month group /
        # NULL recency for cust 3) and a NULL price inside a mixed
        # status (NTILE / percent_rank NULLS FIRST-vs-LAST), plus
        # cust 4 whose only order has a NULL price (NULL monetary /
        # NULL spend through the decile+RFM CASE arithmetic)
        (5, 3, "F", 300.0, None, "3-MEDIUM"),
        (6, 3, "N", None, None, "3-MEDIUM"),
        (7, 4, "F", None, datetime(1996, 5, 1), "4-LOW"),
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{base}/orders.parquet")
    customer = [(1,), (2,), (3,), (4,)]
    spark.createDataFrame(customer, "c_custkey bigint").write.mode(
        "overwrite"
    ).parquet(f"{base}/customer.parquet")
    part = [(1, "Brand#2", "STD", 5), (2, "Brand#3", "STD", 5)]
    spark.createDataFrame(
        part, "p_partkey bigint, p_brand string, p_type string, p_size int"
    ).write.mode("overwrite").parquet(f"{base}/part.parquet")
    # the NULL s_suppkey with a negative balance hits q16's NOT-IN
    # subquery: unfiltered it would empty the oracle result while the
    # left_anti kept rows — both sides now pin s_suppkey IS NOT NULL
    supplier = [(1, "S1", -5.0, 1), (2, "S2", 10.0, 1), (None, "S3", -1.0, 1)]
    spark.createDataFrame(
        supplier,
        "s_suppkey bigint, s_name string, s_acctbal double, s_nationkey bigint",
    ).write.mode("overwrite").parquet(f"{base}/supplier.parquet")
    lineitem = [
        # (l_orderkey, l_partkey, l_suppkey, l_extendedprice, l_quantity)
        (1, 1, 2, 100.0, 4.0),
        (1, 1, None, 70.0, 2.0),   # NULL FK: NOT IN drops it on both sides
        (2, 2, 2, 90.0, 0.0),      # zero quantity: q2 try_divide
        (2, 2, 1, 80.0, 2.0),      # bad supplier (s_acctbal < 0): anti'd
    ]
    spark.createDataFrame(
        lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_extendedprice double, l_quantity double",
    ).write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
    return str(base)


@pytest.fixture(scope="module")
def edge_star_duck(edge_star_dir):
    con = duckdb.connect()
    for t in ("orders", "customer", "part", "supplier", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{edge_star_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "price_stddev_by_status",     # n=1 group: ANSI div-by-zero guard
        "order_metrics_unpivot",      # all-NULL metric: DuckDB UNPIVOT drops it
        "q16_supplier_part_counts",   # NULL probe FK: NOT IN semantics
        "q2_min_cost_supplier",       # zero quantity: try_divide
        # r16 NULL-ordering / NULL-arithmetic pins: Spark's bare asc()
        # sorts NULLs FIRST while DuckDB's ASC default sorts them
        # LAST (ntile/percent_rank/lag diverged), and the twopass
        # boundary counts propagated NULL where the oracle's CASE
        # scores the floor bucket
        "monthly_revenue_delta",         # NULL month: lag order pin
        "order_value_quartiles",         # NULL price: ntile bucket pin
        "order_price_percentile_rank",   # NULL price: pr=1.0 emitted
        "customer_value_deciles",        # DESC: both engines NULLS LAST
        "customer_value_deciles_twopass",  # NULL spend -> decile 1
        "customer_rfm_segments",         # NULL monetary: m_q pin
        "customer_rfm_segments_twopass",  # NULL axes -> digit 1
    ],
)
def test_relational_edges_match_oracle(
    name, spark, edge_star_dir, edge_star_duck
):
    _compare(name, spark, edge_star_dir, edge_star_duck)


# ---------------------------------------------------------------------------
# r16 embedding edges: a zero vector (ANSI 127/0 in the int8 quantizer)
# and a NULL embedding (posexplode-vs-unnest denominator skew in the
# standardizer) — latent in the sf fixtures, which carry neither.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_emb_dir(spark, tmp_path_factory):
    import numpy as np

    dim = 64
    rows = []
    rng = np.random.default_rng(7)
    for vid in range(6):
        if vid == 3:
            vec = [0.0] * dim          # zero vector
        elif vid == 4:
            vec = None                  # NULL embedding
        else:
            vec = [float(x) for x in rng.normal(size=dim).astype("float32")]
        rows.append((vid, vec, vid % 3))
    base = tmp_path_factory.mktemp("edge_emb")
    spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(f"{base}/embeddings.parquet")
    return str(base)


@pytest.fixture(scope="module")
def edge_emb_duck(edge_emb_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"'{edge_emb_dir}/embeddings.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "embed_quantize_int8",   # zero vector: ANSI divide-by-zero
        "embed_standardize",     # NULL embedding: n-denominator skew
    ],
)
def test_embedding_edges_match_oracle(name, spark, edge_emb_dir, edge_emb_duck):
    _compare(name, spark, edge_emb_dir, edge_emb_duck)


# ---------------------------------------------------------------------------
# r16 NULL-ts / NULL-user event edges: Spark windows sort NULL ts
# FIRST while DuckDB sorts them LAST (session splitting diverged), a
# NULL user_id group could win a top-K slot with engine-divergent
# tie-break placement, and an all-NULL-user month aborted the MAU
# query under ANSI. Latent in the sf fixtures (no NULLs there).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_null_events_dir(spark, tmp_path_factory):
    rows = []
    # user 1: two real sessions plus a NULL-ts event (excluded by the
    # session contract; survivor pins for the dedup family)
    rows += [
        (1, _t(0), 1, "click", 1.0, "{}"),
        (2, _t(5), 1, "click", 2.0, "{}"),
        (3, None, 1, "click", 9.0, "{}"),
        (4, _t(50), 1, "view", 3.0, "{}"),
    ]
    # user 2: only NULL-ts events (a whole group with no known time)
    rows += [(10, None, 2, "view", 4.0, "{}"), (11, None, 2, "view", 5.0, "{}")]
    # NULL user: enough events to contend for a top-10 slot
    rows += [(20 + i, _t(10 + i), None, "click", 1.0, "{}") for i in range(4)]
    # a couple more small users so ranks/ties exist
    rows += [(40 + i, _t(20 + i), 3, "purchase", 2.0, "{}") for i in range(4)]
    rows += [(50 + i, _t(30 + i), 4, "click", 1.5, "{}") for i in range(2)]
    base = tmp_path_factory.mktemp("edge_null_events")
    spark.createDataFrame(rows, _SCHEMA).write.mode("overwrite").parquet(
        f"{base}/events.parquet"
    )
    return str(base)


@pytest.fixture(scope="module")
def edge_null_events_duck(edge_null_events_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{edge_null_events_dir}/events.parquet/*.parquet'"
    )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "events_session_windows",
        "events_sessionization_gaps",
        "events_type_transitions",
        "events_dedup_first_per_user_type",
        "events_sliding_distinct_users",
        "events_user_activity_ranked",
        "events_monthly_active_users",
    ],
)
def test_null_event_edges_match_oracle(
    name, spark, edge_null_events_dir, edge_null_events_duck
):
    _compare(name, spark, edge_null_events_dir, edge_null_events_duck)


# ---------------------------------------------------------------------------
# r16 NOT-IN empty-build edge: `x NOT IN (empty set)` is TRUE even for
# NULL x, so with no negative-balance supplier the oracle KEEPS
# NULL-l_suppkey rows (a supplier_cnt=0 group) that the unconditional
# probe-side IS NOT NULL filter dropped.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_q16_empty_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("edge_q16_empty")
    # every balance >= 0: the NOT-IN subquery is EMPTY
    supplier = [(1, "S1", 5.0, 1), (2, "S2", 10.0, 1)]
    spark.createDataFrame(
        supplier,
        "s_suppkey bigint, s_name string, s_acctbal double, s_nationkey bigint",
    ).write.mode("overwrite").parquet(f"{base}/supplier.parquet")
    part = [(1, "Brand#2", "STD", 5), (2, "Brand#3", "STD", 5)]
    spark.createDataFrame(
        part, "p_partkey bigint, p_brand string, p_type string, p_size int"
    ).write.mode("overwrite").parquet(f"{base}/part.parquet")
    lineitem = [
        (1, 1, 2, 100.0, 4.0),
        (1, 1, None, 70.0, 2.0),   # NULL FK: kept by NOT IN (empty)
        (2, 2, None, 90.0, 1.0),   # group whose ONLY rows are NULL-FK
    ]
    spark.createDataFrame(
        lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_extendedprice double, l_quantity double",
    ).write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
    return str(base)


@pytest.fixture(scope="module")
def edge_q16_empty_duck(edge_q16_empty_dir):
    con = duckdb.connect()
    for t in ("part", "supplier", "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{edge_q16_empty_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


def test_q16_empty_not_in_build_keeps_null_fk_rows(
    spark, edge_q16_empty_dir, edge_q16_empty_duck
):
    rows = _compare(
        "q16_supplier_part_counts",
        spark,
        edge_q16_empty_dir,
        edge_q16_empty_duck,
    )
    # the all-NULL-FK part group must be PRESENT with supplier_cnt=0
    # (COUNT(DISTINCT NULL) = 0) on both engines — the group the old
    # unconditional probe filter silently dropped
    assert any(0 in r for r in rows), rows


# ---------------------------------------------------------------------------
# r16 big-money decimal edge: recasting a dsum double back to
# DECIMAL(38,6) re-rounds divergently cross-engine once the value
# outgrows 2^53/1e6 (~9e9) — Spark parses the double's shortest repr
# HALF_UP, DuckDB rounds the exact binary expansion. The share/flow
# queries now keep the decimal end-to-end; these magnitudes prove it.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_bigmoney_dir(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("edge_bigmoney")
    # key columns use the TESTDATA_SCHEMAS types: read_table scans the
    # timestamp-free tables with their declared schema, and a parquet
    # INT64 column does not read as a declared int
    spark.createDataFrame(
        [(1, "AMERICA")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(f"{base}/region.parquet")
    spark.createDataFrame(
        [(1, "BRAZIL", 1), (2, "CANADA", 1)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(f"{base}/nation.parquet")
    spark.createDataFrame(
        [(1, 1), (2, 2)], "c_custkey bigint, c_nationkey int"
    ).write.mode("overwrite").parquet(f"{base}/customer.parquet")
    # Addends stay REALISTIC (~6e8, far below the ~4.5e9 boundary
    # where the per-addend double→decimal cast itself becomes
    # cross-engine ambiguous — see dsum's docstring), while the
    # nation sums are engineered to EXACTLY 13048441520.911087 /
    # 12108729892.840528 — a pair (found by scanning) whose old
    # double→DECIMAL(38,6) window recast diverges cross-engine
    # (Spark shortest-repr ...087 vs DuckDB exact-expansion ...088)
    # AND whose diverged totals round to DIFFERENT doubles, making
    # region_share observably differ. The decimal-end-to-end path
    # cannot diverge at any magnitude.
    orders = [
        (
            i,
            1,
            "F",
            652_422_076.911087 if i == 1 else 652_422_076.0,
            datetime(1996, 1 + (i - 1) % 12, 1),
            "1-URGENT",
        )
        for i in range(1, 21)
    ] + [
        (
            20 + i,
            2,
            "F",
            605_436_506.840528 if i == 1 else 605_436_494.0,
            datetime(1996, 1 + (i - 1) % 12, 1),
            "1-URGENT",
        )
        for i in range(1, 21)
    ]
    spark.createDataFrame(
        orders,
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string,"
        " o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{base}/orders.parquet")
    spark.createDataFrame(
        [(1, "Brand#2", "SMALL", 5), (2, "Brand#3", "SMALL", 5)],
        "p_partkey bigint, p_brand string, p_type string, p_size int",
    ).write.mode("overwrite").parquet(f"{base}/part.parquet")
    spark.createDataFrame(
        [(1, "S1", 5.0, 1), (2, "S2", 10.0, 1)],
        "s_suppkey bigint, s_name string, s_acctbal double, s_nationkey int",
    ).write.mode("overwrite").parquet(f"{base}/supplier.parquet")
    # q20 flows: supplier 1 carries >half of part 1's huge flow; pair
    # sums ~1e10 from realistic ~4e8 addends (same boundary note)
    lineitem = [
        (
            100 + i,
            1 + (i - 1) % 2,           # part
            1 if i <= 28 else 2,       # supplier 1 heavy on both parts
            100.0,
            400_000_000.0 + i * 10.654321,
            datetime(1997, 3, 1),
        )
        for i in range(1, 41)
    ]
    spark.createDataFrame(
        lineitem,
        "l_orderkey bigint, l_partkey bigint, l_suppkey bigint,"
        " l_extendedprice double, l_quantity double, l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{base}/lineitem.parquet")
    return str(base)


@pytest.fixture(scope="module")
def edge_bigmoney_duck(edge_bigmoney_dir):
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "orders", "part", "supplier",
              "lineitem"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"'{edge_bigmoney_dir}/{t}.parquet/*.parquet'"
        )
    yield con
    con.close()


@pytest.mark.parametrize(
    "name",
    [
        "nation_share_of_region_revenue",  # decimal window total + share
        "q20_heavy_flow_suppliers",        # decimal >half-flow comparison
    ],
)
def test_bigmoney_decimal_edges_match_oracle(
    name, spark, edge_bigmoney_dir, edge_bigmoney_duck
):
    _compare(name, spark, edge_bigmoney_dir, edge_bigmoney_duck)


# ---------------------------------------------------------------------------
# r16 all-NULL-text corpus: Spark's SUM over a bare boolean cast skips
# every NULL row and returns NULL while the oracle's CASE...ELSE 0
# returns 0 — corpus_card's short_doc_ratio diverged NULL-vs-0.0 (the
# mixed fixture above never hits it: one non-NULL row anchors the sum).
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def edge_all_null_docs_dir(spark, tmp_path_factory):
    rows = [(i, None, "en", "s0", None) for i in range(1, 6)]
    base = tmp_path_factory.mktemp("edge_all_null_docs")
    spark.createDataFrame(rows, _DOC_SCHEMA).write.mode("overwrite").parquet(
        f"{base}/documents.parquet"
    )
    return str(base)


def test_corpus_card_all_null_text_matches_oracle(
    spark, edge_all_null_docs_dir
):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{edge_all_null_docs_dir}/documents.parquet/*.parquet'"
    )
    try:
        _compare("corpus_card", spark, edge_all_null_docs_dir, con)
    finally:
        con.close()
