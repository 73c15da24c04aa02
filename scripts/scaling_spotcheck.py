#!/usr/bin/env python
"""Scale spot-check: time registry queries over a generated corpus.

The sf0.1 bench fixtures are overhead-dominated: per-task work sits
below scheduler/launch cost, so bench-SF timings can show neither
parallel efficiency nor a stage that goes super-linear. This script
generates an sf-style directory large enough that DATA dominates —
synthetic documents, embeddings, orders and customers, deterministic
per seed, written once through the Python Data Source
(sources/pydatasource.py) and read back like any sf directory — then
times the listed REGISTRY queries into the noop sink, honouring
``SPARK_GRAFT_CPUS`` exactly like bench.py. These are the same frames
the oracle checks at sf0.001–sf0.1. Run it once per core count
against the SAME generated directory:

    python scripts/scaling_spotcheck.py --gen /tmp/scale_sfdir --rows 300000
    SPARK_GRAFT_CPUS=32 python scripts/scaling_spotcheck.py --sf /tmp/scale_sfdir
    SPARK_GRAFT_CPUS=8  python scripts/scaling_spotcheck.py --sf /tmp/scale_sfdir

and compare the JSON lines: a query that parallelises shows c8/c32
>> 1 (perfect scaling would be 4x).

No oracle runs at this size. Instead, listed queries that share one
oracle must return the same bag of rows: after timing, each such group
is fingerprinted (row count plus the exact decimal sum of xxhash64
over all columns) and must agree. The JSON line carries any
disagreement under ``"mismatches"``; the script exits 1 on any query
error or mismatch.

Not covered on purpose: the 31-word adversarial vocabulary
(pydatasource ``vocab=0``) is a stress condition no workload has, so
the corpus is the realistic 10k-word / 4-clique one; and the
segmentation forms are held to each other by their oracles at
sf0.001–sf0.1 and by
tests/test_plans.py::test_segmentation_approx_mode_partitions_all_customers,
not by cross-form mass checks here.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

QUERIES = (
    # dup graph, MLlib fits and ANN: the most expensive bench-sweep
    # queries (the fits are seeded but still distributed work)
    "doc_dup_canonical_pagerank",
    "doc_training_manifest",
    "doc_dedup_keep_best",
    "doc_dup_graph_kcore",
    "doc_dup_graph_triangles",
    "embed_ivf_topk",
    "kmeans_embedding_clusters",
    # near-dup chain: signatures -> banded candidates -> components; the
    # largemode twin materializes signatures, the form the
    # LARGE_INPUT_BYTES gate picks for large corpora
    "doc_near_dup_candidates",
    "doc_near_dup_candidates_largemode",
    "doc_dup_clusters",
    "doc_winnow_fingerprints",
    "doc_duplicate_spans",
    "doc_bm25_topk",
    # BM25 index lifecycle; serve's first rep builds the session index,
    # later reps only serve (the min over reps)
    "doc_bm25_index_topk",
    "doc_bm25_refresh_topk",
    "doc_bm25_compact_topk",
    "doc_bm25_serve_topk",
    # segmentation: NTILE window, percentile boundary twin, approx sketch
    "customer_value_deciles",
    "customer_value_deciles_twopass",
    "customer_value_deciles_sketch",
    "customer_rfm_segments",
    "customer_rfm_segments_twopass",
    "customer_rfm_segments_sketch",
    "embed_standardize",
    "embed_pq_topk",
)
# Not listed: embed_near_dup_pairs, embed_near_dup_pairs_largemode,
# embed_near_dup_incremental and embed_decontamination. They run at
# NEAR_DUP_PLANES = 4 (queries/similarity.py), which their oracle pins,
# and 16 buckets make the exact-cosine confirm quadratic per bucket at
# these sizes (174 s at 100k vectors vs 10.8 s at 10 planes, local[32]).
# scripts/scale_smoke.py --mode embstore times the near-dup store and a
# full recompute at planes derived from the corpus size instead.


def generate(gen_dir: str, rows: int, partitions: int, seed: int) -> None:
    """Materialize a deterministic sf-style directory, every table
    sized from ``rows``: synthetic docs (10k-word vocabulary + 4-clique
    dup groups), synthetic embeddings, ``rows`` orders over rows/5
    customers (xxhash64 pseudo-values) and the customers they name."""
    from bigdata_flightanalysis_spark.session import get_session
    from bigdata_flightanalysis_spark.sources.pydatasource import (
        SyntheticDocsDataSource,
        SyntheticEmbeddingsDataSource,
    )

    spark = get_session("scaling-gen")
    spark.dataSource.register(SyntheticDocsDataSource)
    spark.dataSource.register(SyntheticEmbeddingsDataSource)
    (
        spark.read.format("synthetic_docs")
        .option("rows", rows)
        .option("partitions", partitions)
        .option("seed", seed)
        .option("vocab", 10_000)
        .option("clique", 3)
        .load()
        .write.mode("overwrite")
        .parquet(f"{gen_dir}/documents.parquet")
    )
    (
        spark.read.format("synthetic_embeddings")
        .option("rows", rows)
        .option("partitions", partitions)
        .option("seed", seed)
        .load()
        .write.mode("overwrite")
        .parquet(f"{gen_dir}/embeddings.parquet")
    )
    n_cust = max(rows // 5, 1)
    (
        spark.range(0, rows, 1, partitions)
        .select(
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_cust)).alias(
                "o_custkey"
            ),
            (
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)) / 100.0 + 1.0
            ).alias("o_totalprice"),
            F.timestamp_seconds(
                F.lit(915_148_800)  # 1999-01-01
                + F.pmod(F.xxhash64("id", F.lit(2)), F.lit(86_400 * 900))
            ).alias("o_orderdate"),
        )
        .write.mode("overwrite")
        .parquet(f"{gen_dir}/orders.parquet")
    )
    (
        spark.read.parquet(f"{gen_dir}/orders.parquet")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{gen_dir}/customer.parquet")
    )
    print(json.dumps({"generated": gen_dir, "rows": rows, "seed": seed}))
    spark.stop()


def shared_oracle_groups(reg) -> list[tuple[str, ...]]:
    """The listed queries grouped by identical oracle SQL, keeping
    only groups of two or more: each group must return one bag of rows."""
    groups: dict[str, list[str]] = {}
    for name in QUERIES:
        groups.setdefault(reg[name].oracle, []).append(name)
    return [tuple(g) for g in groups.values() if len(g) > 1]


def _fingerprint(df) -> list:
    """Order-insensitive bag fingerprint: [row count, hash sum]."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        # decimal accumulation: exact and overflow-free under ANSI mode
        # (a bigint sum of many xxhash64 values overflows)
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return [row["n"], str(row["h"])]


def measure(sf_dir: str, reps: int) -> int:
    """Time every listed query, check the shared-oracle groups, print
    one JSON line and return the exit status (1 on error or mismatch)."""
    from bigdata_flightanalysis_spark.queries.catalog import load_all
    from bigdata_flightanalysis_spark.session import get_session

    spark = get_session("scaling-spotcheck")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "(default)")
    reg = load_all()
    queries: dict = {}
    for name in QUERIES:
        fn = reg[name].fn
        times = []
        try:
            for i in range(reps):
                spark.sparkContext.setJobDescription(f"{name} c{cpus} rep{i}")
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                times.append(round(time.perf_counter() - t0, 2))
        except Exception as exc:  # record, keep measuring the rest
            queries[name] = {"error": str(exc)[:200], "times": times}
            continue
        queries[name] = {"min": min(times), "times": times}
        print(f"# {name}: {times}", file=sys.stderr)

    mismatches = []
    for group in shared_oracle_groups(reg):
        fps = {}
        for name in group:
            if "error" in queries[name]:
                continue
            try:
                fps[name] = queries[name]["fingerprint"] = _fingerprint(
                    reg[name].fn(spark, sf_dir)
                )
            except Exception as exc:
                queries[name]["error"] = str(exc)[:200]
        if len({tuple(fp) for fp in fps.values()}) > 1:
            mismatches.append(fps)
    print(
        json.dumps(
            {
                "metric": "scaling_spotcheck",
                "cpus": cpus,
                "sf_dir": sf_dir,
                "queries": queries,
                "mismatches": mismatches,
            }
        )
    )
    spark.stop()
    errors = any("error" in q for q in queries.values())
    return 1 if errors or mismatches else 0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gen", help="generate the corpus into this dir and exit")
    ap.add_argument("--sf", help="measure against this generated dir")
    ap.add_argument("--rows", type=int, default=300_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()
    if args.gen:
        generate(args.gen, args.rows, args.partitions, args.seed)
    elif args.sf:
        sys.exit(measure(args.sf, args.reps))
    else:
        ap.error("pass --gen DIR or --sf DIR")


if __name__ == "__main__":
    main()
