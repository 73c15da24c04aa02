#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round-7 restructure — the driver's tail buffer
truncated round 6's single ~5.5 KB line mid-JSON, destroying the
headline metric): the FULL payload (per-query timings + the registry
sweep) is printed FIRST on its own line, and the LAST line is a
COMPACT headline object — metric/value/unit/sf/n_queries only, no
per-query maps, well under any tail buffer. Parsers that want detail
take the first `{"metric"` line; the driver's last-line parse always
gets a complete object.

Each query is forced with a count() action (no driver materialization
of payloads); a warmup pass primes the JVM/codegen so the numbers
measure the plans, not classloading.

Besides the headline set (precise, first-class numbers) the run also
does a SWEEP: every remaining registry query once (n=1, coarse) under
the "sweep" key — a pathological plan in the unbenched tail can't
hide.
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


# The driver's tail capture keeps only the LAST ~2000 characters of
# stdout (measured: every BENCH_r*.json archives a tail of exactly
# 2000 chars), so the full detail line — ~6 KB at 176 registry
# queries — is always truncated mid-JSON and the driver's per-query
# adjudication (PERF per_query / geomean / scaling) came up empty at
# r16. The compact line below fills that gap: a budget-bounded
# single-line JSON printed immediately BEFORE the contract line,
# carrying the slowest queries first (the ones per-query adjudication
# is about; the omitted tail is sub-noise at bench SFs) with the
# omission explicitly disclosed — never silent truncation. Budget =
# 2000 (tail) - ~220 (contract line + newlines + margin).
PER_QUERY_LINE_BUDGET = 1750


def budgeted_per_query(
    timings: dict[str, float],
    sweep: dict[str, float],
    sf_val: float | str,
    budget: int = PER_QUERY_LINE_BUDGET,
) -> str:
    """One-line JSON with the slowest per-query timings from BOTH the
    headline and sweep maps, greedily filled slowest-first until the
    serialized line would exceed ``budget`` — so the line always fits
    the driver's tail buffer whole, with the cheapest queries (not an
    arbitrary prefix) paying for it. Omissions are disclosed in-line
    (count + summed seconds per map); values carry 2 decimals (≤ 0.5 %
    error on anything slow enough to make the cut)."""
    q_part: dict[str, float] = {}
    s_part: dict[str, float] = {}

    def render(nq_om: int, ns_om: int, q_om: float, s_om: float) -> str:
        return json.dumps(
            {
                "metric": "headline_queries_compact",
                "value": round(sum(timings.values()), 4),
                "unit": "sec",
                "sf": sf_val,
                "queries": q_part,
                "sweep": s_part,
                "n_queries_omitted": nq_om,
                "n_sweep_omitted": ns_om,
                "omitted_queries_sec": round(q_om, 2),
                "omitted_sweep_sec": round(s_om, 2),
            },
            separators=(",", ":"),
        )

    # deterministic order: slowest first, name as tiebreak
    merged = sorted(
        [(t, name, True) for name, t in timings.items()]
        + [(t, name, False) for name, t in sweep.items()],
        key=lambda x: (-x[0], x[1]),
    )
    # fill against the all-omitted disclosure values: the counts and
    # summed seconds can only SHRINK as entries are admitted
    max_q_om, max_s_om = sum(timings.values()), sum(sweep.values())
    taken: list[tuple[str, bool]] = []  # admission order: slowest first
    for t, name, is_headline in merged:
        part = q_part if is_headline else s_part
        part[name] = round(t, 2)
        if len(render(len(timings), len(sweep), max_q_om, max_s_om)) > budget:
            del part[name]
            break
        taken.append((name, is_headline))

    def render_final() -> str:
        admitted = set(taken)
        return render(
            len(timings) - len(q_part),
            len(sweep) - len(s_part),
            sum(t for n, t in timings.items() if (n, True) not in admitted),
            sum(t for n, t in sweep.items() if (n, False) not in admitted),
        )

    # a smaller omitted sum can still serialize LONGER (19.99 vs 20.0),
    # so the fill bound is not a length bound: re-check the final line
    # and evict the cheapest admitted entries until it fits
    line = render_final()
    while len(line) > budget and taken:
        name, is_headline = taken.pop()
        del (q_part if is_headline else s_part)[name]
        line = render_final()
    return line


def emit_detail(full: dict, detail_path: str) -> None:
    """Print the per-query detail line and persist it to
    ``BENCH_DETAIL.json`` — without EVER raising: the compact headline
    object that follows is the driver's tail-buffer contract, so a
    serialization or filesystem failure here must degrade to a stderr
    warning, never abort between the two stdout lines."""
    # default=str: a non-serializable value that slips into the detail
    # payload (e.g. an exception object recorded as an error) must not
    # abort the run between the detail line and the compact contract
    # line — stringify it rather than raise. The residue default=str
    # can't absorb (a circular payload) degrades to a minimal
    # placeholder line instead of raising.
    try:
        print(json.dumps(full, default=str))
    except (TypeError, ValueError) as exc:
        print(
            f"warning: detail payload not serializable: {exc}",
            file=sys.stderr,
        )
        print(
            json.dumps(
                {
                    "metric": "headline_queries_detail",
                    "error": f"payload not serializable: {exc}",
                }
            )
        )
    try:
        # absent-or-complete (util.atomic_write_json): this file is
        # committed per round and read back via rev:path by
        # bench_compare — a mid-dump ENOSPC/kill used to leave a
        # truncated JSON in the worktree forever (r16 review)
        from bigdata_flightanalysis_spark.util import atomic_write_json

        atomic_write_json(
            detail_path, full, indent=1, default=str, trailing_newline=True
        )
    except (OSError, TypeError, ValueError) as exc:
        # a full disk / read-only checkout — or any serialization
        # failure default=str can't absorb (circular payload) — must
        # not leave the huge detail line as the LAST stdout line (the
        # tail-buffered driver would parse a truncated payload): the
        # compact line below is the contract and must always print
        print(f"warning: could not write {detail_path}: {exc}", file=sys.stderr)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    registry = load_all()
    spark = get_session("bigdata-flightanalysis-bench")

    # Warmup: prime the JVM/codegen paths and every table's parquet
    # footer so per-query numbers measure the plans, not first-touch
    # I/O or classloading.
    from bigdata_flightanalysis_spark.sources.readers import TABLE_NAMES, read_table

    # Warmup failures must not kill the run before any output exists
    # (the timed loop below owns per-query error recording; a broken
    # warmup just means that query's first-touch cost lands in its
    # timed number instead).
    for t in TABLE_NAMES:
        try:
            read_table(spark, sf_dir, t).count()
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass
    for warm in ("flagship_top_segments", "doc_bm25_serve_topk"):
        # doc_bm25_serve_topk also builds the session BM25 index outside
        # the timed window so its headline number measures pure serve
        try:
            registry[warm].fn(spark, sf_dir).count()
        except Exception:  # noqa: BLE001 — warmup is best-effort
            pass

    # One query failing must never cost the whole run its numbers
    # (round 4 lost all perf signal to a single AnalysisException):
    # record the error, keep timing the rest, exit non-zero at the end.
    timings: dict[str, float] = {}
    errors: dict[str, str] = {}

    def timed(name: str, fn) -> None:
        t0 = time.perf_counter()
        try:
            fn(spark, sf_dir).count()
            timings[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    for name in HEADLINE:
        if name not in registry:
            # a HEADLINE typo or a registry rename must cost one
            # errors{} row, not the whole run's numbers (KeyError
            # before any output)
            errors[name] = "KeyError: not in registry"
            continue
        timed(name, registry[name].fn)

    # Sweep: every registry query not in the headline set, once each
    # (n=1 — coarse, but a pathological plan in the long tail can't
    # hide; headline queries carry the precise numbers).
    sweep: dict[str, float] = {}
    for name, q in registry.items():
        if name in timings or name in errors:
            continue
        t0 = time.perf_counter()
        try:
            q.fn(spark, sf_dir).count()
            sweep[name] = round(time.perf_counter() - t0, 4)
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    sf_val = sf_label(sf_dir)
    # NOTE (measurement honesty): headline_total sums SUCCESSFUL
    # headline queries only — an errored query contributes 0s, so a
    # round with n_errors > 0 is NOT comparable to a clean round on
    # `value` alone. The compact line carries n_errors for exactly
    # that check; cross-round tooling (scripts/bench_compare.py)
    # compares per-query.
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
    # Detail line first; the compact headline object LAST so a
    # tail-buffered reader parsing the final line always gets a
    # complete (short) JSON object.
    # Detail to stdout + the in-repo BENCH_DETAIL.json (the driver's
    # tail buffer keeps only the last line, so per-query history was
    # lost to archaeology before round 9): overwritten per run,
    # committed per round — git history IS the per-round archive, and
    # scripts/bench_compare.py reads past rounds via rev:path specs.
    emit_detail(
        full,
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
        ),
    )
    # Per-query visibility for the tail-buffered driver (r16 verdict
    # item 1): a budget-bounded slowest-first per-query line directly
    # BEFORE the contract line — both fit the 2000-char tail together,
    # so the driver can adjudicate per-query speedups and c8/c32
    # scaling instead of parsing a truncated detail line. Additions
    # only: the detail line, BENCH_DETAIL.json and the contract line
    # below are unchanged.
    print(budgeted_per_query(timings, sweep, sf_val))
    compact: dict = {
        "metric": "headline_queries_total",
        "value": headline_total,
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "n_sweep": len(sweep),
        "n_errors": len(errors),
    }
    print(json.dumps(compact))
    sys.stdout.flush()
    spark.stop()
    if errors:
        sys.exit(1)


if __name__ == "__main__":
    main()
