#!/usr/bin/env python
"""Benchmark harness: times every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Each query runs into the ``noop`` sink, so Spark computes every output
column without shipping rows to the driver (a ``count()`` would let
Catalyst prune the projections it does not need); a warmup pass primes
the JVM, codegen and every table's parquet footer first.

The HEADLINE set carries the precise, first-class numbers. The SWEEP
times every remaining registry query once (n=1, coarse), so a
pathological plan in the long tail cannot hide.

stdout carries exactly two JSON lines, which together fit the driver's
2000-char tail capture:

1. ``headline_queries_detail``: the slowest per-query timings of both
   sets, bounded to ``PER_QUERY_LINE_BUDGET`` chars, with the omitted
   rest disclosed as counts and summed seconds;
2. ``headline_queries_total``: the contract line (headline total, sf,
   query, sweep and error counts).

The full map of both sets, plus any errors, goes to BENCH_DETAIL.json.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.session import get_session
from bigdata_flightanalysis_spark.util import atomic_write_json

HEADLINE = [
    "flagship_top_segments",
    "q1_pricing_summary",
    "revenue_by_region",
    "q3_shipping_priority",
    "top_customers_per_segment",
    "rollup_revenue_region_nation",
    "quantity_percentiles_by_flag",
    "events_tumbling_hourly",
    "events_session_windows",
    "events_json_extract",
    "events_asof_purchase_click",
    "events_range_join_error_context",
    "events_funnel",
    "events_sessionization_gaps",
    "q14_promo_revenue",
    "q17_small_quantity_revenue",
    "q2_min_cost_supplier",
    "q5_local_supplier_revenue",
    "q9_product_profit",
    "q13_customer_distribution",
    "q20_heavy_flow_suppliers",
    "q21_sole_late_supplier",
    "part_affinity_topk",
    "events_minutely_gapfill",
    "doc_exact_dedup",
    "doc_minhash_signatures",
    "doc_near_dup_candidates",
    "doc_dup_clusters",
    "doc_decontamination",
    "doc_simhash_near_dup",
    "doc_token_stats",
    "doc_repetition_scores",
    "doc_salient_terms",
    "doc_pack_sequences",
    "doc_pii_redaction",
    "doc_url_domains",
    "doc_chunk_windows",
    "bloom_filtered_lineitem_revenue",
    "orders_anti_bloom_check",
    "embed_cosine_topk",
    "embed_lsh_topk",
    "embed_near_dup_pairs",
    "multimodal_feature_extract",
]


# The two LSH paths switch plan shape above a corpus-size threshold
# (signature materialization / triangular pair blocking). The bench SFs
# sit below the switches, so the forced-large-mode registry twins are
# benched too: their overhead at small SF is a tracked number, not a
# comment. Acceptable ratio vs the small-mode twin: <= 2x.
HEADLINE += [
    "doc_near_dup_candidates_largemode",
    "embed_near_dup_pairs_largemode",
    "doc_near_dup_incremental",
    "embed_pq_topk",
    "doc_bm25_topk",
    "doc_duplicate_spans",
]

# Round-6 session additions: graph cleanup, CDC/rollup/robust-stats,
# governance audits — first-class numbers so regressions can't hide in
# the n=1 sweep.
HEADLINE += [
    "doc_dup_graph_kcore",
    "events_cdc_latest_state",
    "events_rollup_cascade",
    "events_value_winsorized",
    "events_mad_anomalies",
    "events_incremental_agg_merge",
    "referential_integrity_report",
    "orders_profile",
    "doc_clean_normalize",
]

# Round-7 additions: the scalable (window-free) robust-stats twins and
# the HLL profile contract — benched against their exact counterparts
# above so the scale path's cost is a tracked number.
HEADLINE += [
    "events_value_winsorized_twopass",
    "events_mad_anomalies_twopass",
    "orders_profile_approx",
    "embed_standardize",
    "embed_near_dup_incremental",
    "embed_decontamination",
    "corpus_card",
    "doc_bm25_index_topk",
    "doc_bm25_refresh_topk",
]

# Round-8 additions: the serve-only BM25 path (the warmup below builds
# the session index once, so this headline number is PURE serve — the
# per-query cost a production deployment pays once the index exists;
# the two lifecycle entries above remain ~80% build by design) and the
# compaction lifecycle entry (build + refresh + torn-refresh replay +
# compact + serve in one query — a lifecycle test like the refresh
# entry, its cost is the lifecycle, not the serve plan).
HEADLINE += [
    "doc_bm25_serve_topk",
    "doc_bm25_compact_topk",
]


def sf_label(sf_dir: str) -> float | str:
    """Scale-factor label from a trailing ``sf<number>`` in the LAST
    path component only: a bare ``rsplit('sf')`` mislabeled any path
    merely containing 'sf' (``/data/transformed`` → ``'ormed'``);
    non-conforming dirs keep their basename as an honest opaque
    label."""
    base = os.path.basename(sf_dir.rstrip("/"))
    m = re.search(r"sf([0-9.]+)$", base)
    if m:
        try:
            return float(m.group(1))
        except ValueError:
            return base
    return base


# The driver keeps only the last 2000 characters of stdout (every
# BENCH_r*.json archives a tail of exactly that length), so the
# per-query line is bounded: 2000 minus ~220 for the contract line,
# the newlines and a margin. The slowest queries go in first (they are
# what per-query adjudication is about; the omitted tail is sub-noise
# at bench SFs), and the omission is disclosed in the line itself.
PER_QUERY_LINE_BUDGET = 1750


def budgeted_per_query(
    timings: dict[str, float],
    sweep: dict[str, float],
    sf_val: float | str,
    budget: int = PER_QUERY_LINE_BUDGET,
) -> str:
    """The ``headline_queries_detail`` line: per-query timings from
    BOTH the headline and sweep maps, admitted slowest-first while the
    rendered line stays within ``budget`` chars, so the cheapest
    queries (not an arbitrary suffix) pay for the bound. Omissions are
    disclosed in-line (count + summed seconds per map); values carry 2
    decimals (<= 0.5 % error on anything slow enough to make the cut).
    """
    q_part: dict[str, float] = {}
    s_part: dict[str, float] = {}

    def render() -> str:
        return json.dumps(
            {
                "metric": "headline_queries_detail",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "sf": sf_val,
                "queries": q_part,
                "sweep": s_part,
                "n_queries_omitted": len(timings) - len(q_part),
                "n_sweep_omitted": len(sweep) - len(s_part),
                "omitted_queries_sec": round(
                    sum(t for n, t in timings.items() if n not in q_part), 2
                ),
                "omitted_sweep_sec": round(
                    sum(t for n, t in sweep.items() if n not in s_part), 2
                ),
            },
            separators=(",", ":"),
        )

    # deterministic order: slowest first, name as tiebreak
    merged = sorted(
        [(t, name, q_part) for name, t in timings.items()]
        + [(t, name, s_part) for name, t in sweep.items()],
        key=lambda x: (-x[0], x[1]),
    )
    line = render()
    for t, name, part in merged:
        # render the real line each time: a smaller omitted sum can
        # serialize longer (19.99 vs 20.0), so no cheaper bound holds
        part[name] = round(t, 2)
        candidate = render()
        if len(candidate) > budget:
            break
        line = candidate
    return line


def emit(
    timings: dict[str, float],
    sweep: dict[str, float],
    errors: dict[str, str],
    sf_val: float | str,
    detail_path: str,
) -> None:
    """Write the full map to ``detail_path`` and print the two stdout
    lines. A failed write (full disk, read-only checkout) is a stderr
    warning: the contract line must always print."""
    # NOTE (measurement honesty): the headline total sums SUCCESSFUL
    # headline queries only; an errored query contributes 0 s, so a run
    # with n_errors > 0 is not comparable to a clean one on `value`
    # alone. The contract line carries n_errors for exactly that check.
    headline_total = round(sum(timings.values()), 4)
    full: dict = {
        "metric": "headline_queries_detail",
        "value": headline_total,
        "unit": "sec",
        "queries": timings,
        "sweep": sweep,
        "sweep_total": round(sum(sweep.values()), 4),
        "sf": sf_val,
    }
    if errors:
        full["errors"] = errors
    try:
        # absent-or-complete: the file is committed and read back via
        # rev:path specs by scripts/bench_compare.py
        atomic_write_json(detail_path, full, indent=1, trailing_newline=True)
    except OSError as exc:
        print(f"warning: could not write {detail_path}: {exc}", file=sys.stderr)
    print(budgeted_per_query(timings, sweep, sf_val))
    contract = {
        "metric": "headline_queries_total",
        "value": headline_total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_sweep": len(sweep),
        "n_errors": len(errors),
    }
    print(json.dumps(contract))
    sys.stdout.flush()


def force(df) -> None:
    """Run ``df`` to completion into the ``noop`` sink: every output
    column is computed, nothing is collected."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_session("bigdata-flightanalysis-bench")

    # Warmup: prime the JVM/codegen paths and every table's parquet
    # footer so per-query numbers measure the plans, not first-touch
    # I/O or classloading. Warmup is best-effort: a failure here just
    # means that query's first-touch cost lands in its timed number,
    # and the timed loop below records the error.
    from bigdata_flightanalysis_spark.sources.readers import TABLE_NAMES, read_table

    for t in TABLE_NAMES:
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass
    for warm in ("flagship_top_segments", "doc_bm25_serve_topk"):
        # doc_bm25_serve_topk also builds the session BM25 index outside
        # the timed window so its headline number measures pure serve
        try:
            force(registry[warm].fn(spark, sf_dir))
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass

    # One query failing must never cost the whole run its numbers:
    # record the error, keep timing the rest, exit non-zero at the end.
    timings: dict[str, float] = {}
    sweep: dict[str, float] = {}
    errors: dict[str, str] = {}

    def timed(name: str, fn, into: dict[str, float]) -> None:
        t0 = time.perf_counter()
        try:
            force(fn(spark, sf_dir))
            into[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    for name in HEADLINE:
        if name not in registry:
            # a HEADLINE typo or a registry rename costs one errors{}
            # row, not the whole run's numbers
            errors[name] = "KeyError: not in registry"
            continue
        timed(name, registry[name].fn, timings)
    for name, q in registry.items():
        if name not in timings and name not in errors:
            timed(name, q.fn, sweep)

    emit(
        timings,
        sweep,
        errors,
        sf_label(sf_dir),
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
    )
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
