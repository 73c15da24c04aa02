#!/usr/bin/env python
"""Scale smoke: drive the dedup pipeline over a GENERATED corpus.

The sf* parquet fixtures top out at ~5k docs; this script uses the
custom Python Data Source (sources/pydatasource.py) to materialize an
arbitrarily large deterministic corpus directly in the executors (zero
input I/O) and runs the full near-dup chain over it:

    signatures -> LSH banded candidate pairs -> connected components

printing ONE JSON line of row counts + stage timings. The point is
plan validation at sizes the correctness fixtures never reach — the
banded self-join and O(log n) star rounds must hold their shape, not
fall off a quadratic cliff.

    python scripts/scale_smoke.py --rows 100000 --partitions 64

Reference run (local[32], 100k docs, 20x the sf0.1 corpus): signatures
9.8 s, 2.06 M banded candidate pairs 3.0 s, 59 k clustered docs into
8.2 k components 7.0 s — linear-shaped end to end; the small synthetic
vocabulary makes LSH collisions far DENSER than a real corpus, so the
pair/cluster stages are stress-tested above realistic load.

At 500k docs (100x the sf0.1 corpus): signatures 14.7 s, 51 M pairs
15.9 s, 340k docs clustered 79 s — every stage survives the synthetic
vocabulary's adversarial pair density (25x pairs for 5x docs; real
corpora collide orders of magnitude less) with no OOM and no
quadratic stage. At 1M docs (SPARK_GRAFT_DRIVER_MEM=48g — the
single-JVM heap lever; the default 8g OOMs under 204 M materialized
pairs): signatures 45 s, 204 M pairs 119 s, 737k docs into 105k
components 212 s — per-stage throughput holds while the pair count
grows quadratically by construction.

--mode embeddings runs the ANN near-dup chain over 100k generated
64-dim vectors through the registry path (sign-LSH buckets, triangular
blocking, exact-cosine confirm): generate 7.9 s, 110,714 confirmed
pairs in 10.2 s at 10 planes — and 174 s at the fixture-sized 4-plane
default, the measurement behind embed_near_dup_pairs' n_planes lever.
Also at 100k: standardize 1.5 s, PQ top-k 12.2 s, and incremental
ingest as two halves through the maintained store — exactly the same
110,714 pairs, 9.6 s.

--mode streaming drains the unbounded synthetic source through the
exactly-once incremental-dedup ingest (batch_id passed through, so
the replay-re-emit path is what's measured) on a processing-time
trigger (real micro-batch cadence; availableNow would collapse the
simple reader to one batch). Reference run (r15, after the ingest
pinned each batch once and stopped counting rows before their writes
landed): 100k rows, 10 micro-batches, 40.5 s (~2.5k rows/s — bounded
by the reader's driver-side generation plus the per-batch staging
write, not the sink), store unique, kept == store.

--mode analytics smokes the round-6 operators (winnowing, duplicate
spans, BM25, dup-graph triangles + k-core) at >=1M docs with a
realistic 10k-word vocabulary and 4-clique dup groups. Reference run
(local[32], 1M docs): generate 9.2 s, 22.4 M winnow fingerprints
16.5 s, span scores for all docs 17.1 s, BM25 top-10 7.0 s,
triangles 14.6 s, k-core (400k clique members) 15.5 s — 50x the
20k-doc corpus costs 4-14x the time, fixed overhead still dominant.

--mode index runs the BM25 inverted-index lifecycle with each leg
timed separately: BUILD over 90% of the corpus, REFRESH with the held-
out 10% plus an overlapping 5% replay, SERVE top-k three times,
COMPACT the replay duplicates away, re-serve, plus the inline
full-corpus-scan query for comparison. Reference run (local[32], 1M
docs, idle machine): build 34.0 s, refresh 6.2 s (batch-sized, the
900k-doc postings never rescanned), serve 5.7/1.8/1.8 s (first serve
pays file listing, steady ~1.8 s) vs inline scan 5.1 s; compact
12.7 s (~1/3 of build — index bytes, not corpus text), post-compact
serve 2.1/1.9 s with identical rows. At 20k docs steady serve was
1.4 s, so a 50x corpus grew serve only ~1.3x (bucket-pruned postings
reads) while the inline scan grew with the corpus.

--mode segmentation races the NTILE window segmentation queries
against their percentile boundary-bucket twins at --rows orders over
rows/5 customers, and checks every form partitions ALL customers with
identical spend mass. Reference run (local[32], 10M orders / 2M
customers): deciles — window 10.6 s, exact percentile_disc twopass
17.3 s, approx=True twopass 3.2 s; RFM — window 13.7 s, exact twopass
12.2 s, approx 6.6 s. At 50M orders / 10M customers: RFM window
86.9 s (its three single-task NTILE sorts scale superlinearly, 6.3x
time for 5x data) vs exact twopass 43.8 s vs approx 16.9 s; deciles
window 40.6 s vs approx 17.8 s. The shape: the window form's tail is
ONE task sorting every customer; the exact twopass swaps that for a
percentile merge task buffering the value multiset per percentile
(oracle-exact, but not smaller); approx=True (one shared
percentile_approx sketch per axis) is the true extreme-scale form —
bounded memory at any customer count, ~linear-parallel scaling
(2.6x time for 5x data), and 2-5x faster than the window form.

--mode embstore pushes --rows vectors through the maintained
bucket-partitioned embedding near-dup store in --batches equal
ingest batches (incremental_embed_near_dup_pairs), recording
per-batch wall time and pair yield — the evidence that each batch
pays for its own candidates, not a history-vs-history recompute.
Reference run (local[32], 1M vectors, 10 batches, 12 planes):
4,041,144 pairs in 466 s; per-batch time 16 -> 78 s tracks per-batch
yield 39.5k -> 844k (the uniform synthetic corpus duplicates every
batch against ALL history, so candidates scale with the store) while
cost per emitted pair FALLS 0.4 -> 0.09 ms — no store rescan. The
closing full-corpus recompute emits EXACTLY the same 4,041,144 pairs
(1M-scale differential check) in 86.7 s: per ingest at full history,
78 s incremental vs 87 s recompute — already cheaper, with the ~5x
candidate-volume gap (24 M vs 122 M joined rows) mostly masked by
fixed job overhead at this absolute scale.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_flightanalysis_spark.operators.checkpointing import eager_checkpoint
from bigdata_flightanalysis_spark.operators.graph import connected_components
from bigdata_flightanalysis_spark.queries.text import (
    _band_frame,
    _signatures_of,
)
from bigdata_flightanalysis_spark.session import get_session
from bigdata_flightanalysis_spark.sources.pydatasource import (
    SyntheticDocsDataSource,
)
from pyspark.sql import functions as F


def _smoke_embeddings(spark, args, out: dict) -> None:
    """ANN chain over generated vectors: write the corpus as an
    embeddings table, then run the REGISTRY near-dup path (sign-LSH
    buckets + triangular blocking forced on, exact-cosine confirm)."""
    import tempfile

    from bigdata_flightanalysis_spark.queries.catalog import load_all
    from bigdata_flightanalysis_spark.queries.similarity import (
        embed_near_dup_pairs,
    )
    from bigdata_flightanalysis_spark.sources.pydatasource import (
        SyntheticEmbeddingsDataSource,
    )

    load_all()
    spark.dataSource.register(SyntheticEmbeddingsDataSource)
    emb = (
        spark.read.format("synthetic_embeddings")
        .option("rows", args.rows)
        .option("partitions", args.partitions)
        .option("seed", args.seed)
        .load()
    )
    tmp = tempfile.mkdtemp(prefix="scale_emb_")
    t0 = time.perf_counter()
    emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    out["t_emb_generate_s"] = round(time.perf_counter() - t0, 2)

    # 10 planes → 1024 buckets: the granularity a corpus this size
    # needs (the registry default of 4 planes / 16 buckets is sized for
    # the sf fixtures; measured 174 s vs 10.8 s here at 100k vectors)
    t0 = time.perf_counter()
    pairs = embed_near_dup_pairs(spark, tmp, n_blocks=8, n_planes=10)
    out["n_emb_near_dup_pairs"] = pairs.count()
    out["t_emb_near_dup_s"] = round(time.perf_counter() - t0, 2)

    # Round-7 embedding operators at the same corpus size.
    from bigdata_flightanalysis_spark.operators.incremental import (
        incremental_embed_near_dup_pairs,
    )
    from bigdata_flightanalysis_spark.queries.similarity import (
        embed_standardize,
        pq_topk_frame,
    )

    t0 = time.perf_counter()
    out["n_standardized"] = embed_standardize(spark, tmp).count()
    out["t_standardize_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    out["n_pq_topk"] = pq_topk_frame(spark, tmp).count()
    out["t_pq_topk_s"] = round(time.perf_counter() - t0, 2)

    # Incremental ingest: two halves through the maintained store at
    # the 10-plane granularity the corpus size needs.
    store = f"{tmp}/vec_store"
    corpus = spark.read.parquet(f"{tmp}/embeddings.parquet")
    t0 = time.perf_counter()
    n_inc = 0
    for half in (
        corpus.where(F.col("vec_id") % 2 == 0),
        corpus.where(F.col("vec_id") % 2 == 1),
    ):
        n_inc += incremental_embed_near_dup_pairs(
            spark, half, store, n_planes=10
        ).count()
    out["n_emb_incremental_pairs"] = n_inc
    out["t_emb_incremental_s"] = round(time.perf_counter() - t0, 2)


def _smoke_analytics(spark, args, out: dict) -> None:
    """Round-6 operator smoke at >=1M docs: winnowing, duplicate
    spans, BM25 over the generated corpus, and triangles + k-core over
    its LSH dup graph.

    Uses --vocab (default 10000 here) for a REALISTIC collision
    density: the legacy 30-word vocabulary is the right stress test
    for the banded self-join itself (every band bucket collides), but
    it makes the dup GRAPH corpus-quadratic — real web corpora don't.
    With a 10k-word vocabulary the graph stays proportional to the
    injected 10% duplication (plus residual MinHash collisions), which
    is the shape triangles/k-core meet in production; the docs-mode
    run keeps covering the adversarial-density path."""
    import tempfile

    from bigdata_flightanalysis_spark.queries.retrieval import (
        doc_bm25_topk,
        doc_duplicate_spans,
        doc_winnow_fingerprints,
    )
    from bigdata_flightanalysis_spark.queries.text import (
        doc_dup_graph_kcore,
        doc_dup_graph_triangles,
    )

    vocab = args.vocab if args.vocab else 10_000
    out["vocab"] = vocab
    out["clique"] = 3  # 4-cliques per 10-block: real triangle/k-core load
    spark.dataSource.register(SyntheticDocsDataSource)
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", args.rows)
        .option("partitions", args.partitions)
        .option("seed", args.seed)
        .option("vocab", vocab)
        .option("clique", 3)
        .load()
    )
    tmp = tempfile.mkdtemp(prefix="scale_docs_")
    t0 = time.perf_counter()
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out["t_generate_s"] = round(time.perf_counter() - t0, 2)

    # query terms drawn from the synthetic vocabulary so BM25 scores
    # real postings (the registry's pinned terms live in the legacy list)
    def _bm25(spark_, dir_):
        return doc_bm25_topk(spark_, dir_, terms=("w1", "w17", "w4242"))

    for key, fn in (
        ("winnow_fingerprints", doc_winnow_fingerprints),
        ("duplicate_spans", doc_duplicate_spans),
        ("bm25_topk", _bm25),
        ("dup_graph_triangles", doc_dup_graph_triangles),
        ("dup_graph_kcore", doc_dup_graph_kcore),
    ):
        t0 = time.perf_counter()
        out[f"n_{key}"] = fn(spark, tmp).count()
        out[f"t_{key}_s"] = round(time.perf_counter() - t0, 2)


def _smoke_index(spark, args, out: dict) -> None:
    """BM25 index lifecycle at scale: BUILD the inverted index over
    90% of the generated corpus, REFRESH it with the remaining 10%
    (re-sending an overlapping slice to exercise replay), SERVE top-k
    repeatedly, COMPACT the replayed duplicates away, and re-serve —
    each leg timed separately, plus the inline full-corpus-scan query
    for comparison. The money shape: serve cost is bucket-pruned
    postings reads, independent of a corpus rescan; refresh cost
    tracks the BATCH, not the accumulated index; compaction cost
    tracks index bytes, never the corpus text."""
    import tempfile

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index_from,
        compact_text_index,
        doc_bm25_topk,
        refresh_text_index,
    )

    vocab = args.vocab if args.vocab else 10_000
    out["vocab"] = vocab
    spark.dataSource.register(SyntheticDocsDataSource)
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", args.rows)
        .option("partitions", args.partitions)
        .option("seed", args.seed)
        .option("vocab", vocab)
        .load()
    )
    tmp = tempfile.mkdtemp(prefix="scale_index_")
    t0 = time.perf_counter()
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    out["t_generate_s"] = round(time.perf_counter() - t0, 2)
    corpus = spark.read.parquet(f"{tmp}/documents.parquet")
    cut = args.rows * 9 // 10
    idx = f"{tmp}/bm25_index"

    t0 = time.perf_counter()
    build_text_index_from(spark, corpus.where(F.col("doc_id") < cut), idx)
    out["t_index_build_s"] = round(time.perf_counter() - t0, 2)

    # refresh batch = the held-out 10% PLUS an overlapping 5% replay
    t0 = time.perf_counter()
    refresh_text_index(
        spark,
        corpus.where(F.col("doc_id") >= args.rows * 85 // 100),
        idx,
    )
    out["t_index_refresh_s"] = round(time.perf_counter() - t0, 2)

    terms = ("w1", "w17", "w4242")
    serve_times = []
    for _ in range(3):
        t0 = time.perf_counter()
        out["n_serve_topk"] = bm25_index_topk(spark, idx, terms=terms).count()
        serve_times.append(round(time.perf_counter() - t0, 2))
    out["t_serve_each_s"] = serve_times

    # COMPACT: fold the replayed duplicate postings away and rewrite
    # each bucket to one file (a long refresh stream accumulates one
    # file per bucket per refresh), then re-serve — compaction cost
    # scales with index bytes (never the corpus text), and the
    # post-compaction serve shows the file-count win.
    t0 = time.perf_counter()
    compact_text_index(spark, idx)
    out["t_index_compact_s"] = round(time.perf_counter() - t0, 2)
    post_times = []
    for _ in range(2):
        t0 = time.perf_counter()
        n = bm25_index_topk(spark, idx, terms=terms).count()
        post_times.append(round(time.perf_counter() - t0, 2))
    if n != out["n_serve_topk"]:  # explicit raise: assert strips under -O
        raise RuntimeError(
            f"compaction changed the served rows: {n} != {out['n_serve_topk']}"
        )
    out["t_serve_post_compact_each_s"] = post_times

    t0 = time.perf_counter()
    out["n_inline_topk"] = doc_bm25_topk(spark, tmp, terms=terms).count()
    out["t_inline_fullscan_s"] = round(time.perf_counter() - t0, 2)


def _smoke_embstore(spark, args, out: dict) -> None:
    """Maintained embedding-store ingest at scale: --rows vectors in
    --batches equal batches through incremental_embed_near_dup_pairs,
    per-batch wall time and pair count recorded. The evidence behind
    the incremental claim: each batch pays for ITS OWN candidates
    (batch-vs-store bucket join), never a history-vs-history
    recompute, so cumulative cost stays far under re-running the full
    pairwise pass per ingest; per-batch time tracks the batch's
    candidate yield, not the store's accumulated size."""
    import tempfile

    from bigdata_flightanalysis_spark.operators.incremental import (
        incremental_embed_near_dup_pairs,
    )
    from bigdata_flightanalysis_spark.sources.pydatasource import (
        SyntheticEmbeddingsDataSource,
    )

    spark.dataSource.register(SyntheticEmbeddingsDataSource)
    emb = (
        spark.read.format("synthetic_embeddings")
        .option("rows", args.rows)
        .option("partitions", args.partitions)
        .option("seed", args.seed)
        .load()
    )
    tmp = tempfile.mkdtemp(prefix="scale_embstore_")
    t0 = time.perf_counter()
    emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
    out["t_emb_generate_s"] = round(time.perf_counter() - t0, 2)
    corpus = spark.read.parquet(f"{tmp}/embeddings.parquet")

    # ~log2(rows / 250-vector target buckets) planes: fine enough that
    # the final batch's probe join stays ~20M candidate rows at 1M
    # vectors (12 planes = 4096 buckets), coarse enough that the
    # hive-partitioned store's directory count stays filesystem-sane
    # (a 15-plane/32k-dir first attempt spent its time in partition
    # discovery, not the join)
    planes = min(16, max(10, (args.rows // 250).bit_length()))  # 16 = bank size
    out["n_planes"] = planes
    out["n_batches"] = args.batches
    store = f"{tmp}/vec_store"
    t_batches, n_pairs = [], []
    for i in range(args.batches):
        batch = corpus.where(F.col("vec_id") % args.batches == i)
        t0 = time.perf_counter()
        n = incremental_embed_near_dup_pairs(
            spark, batch, store, n_planes=planes
        ).count()
        t_batches.append(round(time.perf_counter() - t0, 2))
        n_pairs.append(n)
    out["t_batch_each_s"] = t_batches
    out["n_pairs_each"] = n_pairs
    out["n_pairs_total"] = sum(n_pairs)
    out["t_ingest_total_s"] = round(sum(t_batches), 2)

    # The comparison that justifies the store: ONE full-corpus
    # recompute at the same granularity (what a non-incremental
    # pipeline would re-run per ingest). Same corpus parquet, same
    # planes, registry one-shot path.
    from bigdata_flightanalysis_spark.queries.similarity import (
        embed_near_dup_pairs,
    )

    t0 = time.perf_counter()
    out["n_pairs_fullrecompute"] = embed_near_dup_pairs(
        spark, tmp, n_blocks=8, n_planes=planes
    ).count()
    out["t_fullrecompute_s"] = round(time.perf_counter() - t0, 2)

    # Compaction leg (round 9): each ingest appended one file per
    # touched bucket, so after --batches ingests the store holds up to
    # batches x buckets files; compact_embed_store rewrites every
    # bucket to ONE file at the recorded granularity. Recorded: file
    # counts, compact wall time, a timed full store scan before/after
    # (the listing+read cost every later probe pays), and a content
    # fingerprint proving the rewrite changed no (vec_id, bucket) row.
    import os

    from bigdata_flightanalysis_spark.operators.incremental import (
        compact_embed_store,
    )

    def _file_count() -> int:
        return sum(
            1
            for root, _d, files in os.walk(store)
            for f in files
            if f.endswith(".parquet")
        )

    def _scan_fingerprint() -> tuple[float, list]:
        t = time.perf_counter()
        fp = (
            spark.read.parquet(store)
            .agg(
                F.count(F.lit(1)).alias("n"),
                # decimal accumulation: exact and overflow-free under
                # ANSI mode (a bigint sum of 1M xxhash64 values overflows)
                F.sum(F.xxhash64("vec_id", "bucket").cast("decimal(38,0)")).alias("h"),
            )
            .collect()[0]
        )
        return round(time.perf_counter() - t, 2), [fp["n"], str(fp["h"])]

    out["files_before_compact"] = _file_count()
    t_scan_before, fp_before = _scan_fingerprint()
    out["t_store_scan_before_s"] = t_scan_before
    t0 = time.perf_counter()
    compact_embed_store(spark, store)
    out["t_compact_s"] = round(time.perf_counter() - t0, 2)
    out["files_after_compact"] = _file_count()
    t_scan_after, fp_after = _scan_fingerprint()
    out["t_store_scan_after_s"] = t_scan_after
    out["compact_content_identical"] = fp_before == fp_after
    if fp_before != fp_after:  # explicit raise: assert strips under -O
        raise RuntimeError(
            f"compaction changed store content: {fp_before} != {fp_after}"
        )


def _smoke_segmentation(spark, args, out: dict) -> None:
    """NTILE window forms vs the percentile_disc boundary-bucket twins
    at a customer count where the global window's single-task sort is
    visible: generate an orders-shaped table (--rows orders over
    rows/5 customers, deterministic xxhash64 pseudo-values), run each
    form, time them separately, and check both forms partition ALL
    customers (identical customer counts and spend mass — the twins
    bucket by value, so per-bucket rows differ by design; the totals
    must not)."""
    import tempfile

    from bigdata_flightanalysis_spark.queries.catalog import load_all

    reg = load_all()
    tmp = tempfile.mkdtemp(prefix="scale_seg_")
    n_cust = max(args.rows // 5, 1)
    out["n_customers"] = n_cust
    t0 = time.perf_counter()
    orders = spark.range(0, args.rows, 1, args.partitions).select(
        F.pmod(F.xxhash64("id", F.lit(args.seed)), F.lit(n_cust)).alias(
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
    orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
    (
        spark.read.parquet(f"{tmp}/orders.parquet")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .write.mode("overwrite")
        .parquet(f"{tmp}/customer.parquet")
    )
    # hash assignment leaves a few keys orderless — the live customer
    # count is what both forms must fully partition
    n_cust = spark.read.parquet(f"{tmp}/customer.parquet").count()
    out["n_customers"] = n_cust
    out["t_generate_s"] = round(time.perf_counter() - t0, 2)

    from bigdata_flightanalysis_spark.queries.relational_ext import (
        customer_rfm_segments_twopass,
        customer_value_deciles_twopass,
    )

    results = {}
    for name in (
        "customer_value_deciles",
        "customer_value_deciles_twopass",
        "customer_rfm_segments",
        "customer_rfm_segments_twopass",
    ):
        t0 = time.perf_counter()
        results[name] = reg[name].fn(spark, tmp).collect()
        out[f"t_{name}_s"] = round(time.perf_counter() - t0, 2)
    # the extreme-scale approx=True forms: one shared
    # percentile_approx sketch per axis, bounded memory at any
    # customer count (the exact percentile_disc boundaries buffer the
    # full value multiset once PER percentile in the merge task)
    for name, fn in (
        ("customer_value_deciles_approx", customer_value_deciles_twopass),
        ("customer_rfm_segments_approx", customer_rfm_segments_twopass),
    ):
        t0 = time.perf_counter()
        results[name] = fn(spark, tmp, approx=True).collect()
        out[f"t_{name}_s"] = round(time.perf_counter() - t0, 2)

    for base, money in (
        ("customer_value_deciles", "total_spend"),
        ("customer_rfm_segments", "total_monetary"),
    ):
        a = results[base]
        n_a = sum(r["n_customers"] for r in a)
        m_a = sum(r[money] for r in a)
        for variant in ("_twopass", "_approx"):
            b = results[base + variant]
            n_b = sum(r["n_customers"] for r in b)
            if not (n_a == n_b == n_cust):  # explicit: -O strips assert
                raise RuntimeError(
                    f"partition mass mismatch {base}{variant}: "
                    f"{n_a} vs {n_b} vs {n_cust}"
                )
            m_b = sum(r[money] for r in b)
            if abs(m_a - m_b) > 1e-9 * max(abs(m_a), 1.0):
                raise RuntimeError(
                    f"monetary mass mismatch {base}{variant}: {m_a} vs {m_b}"
                )
    out["n_decile_buckets_twopass"] = len(
        results["customer_value_deciles_twopass"]
    )
    out["n_rfm_codes_twopass"] = len(results["customer_rfm_segments_twopass"])


def _smoke_streaming(spark, args, out: dict) -> None:
    """Streaming soak: the unbounded synthetic source drained through
    the exactly-once incremental-dedup ingest (foreachBatch + the
    fingerprint store) plus the CDC latest-state sink — end-to-end
    rows/s for the streaming path, no Kafka or input files. The
    synthetic stream generates rows on the DRIVER (SimpleDataSource
    StreamReader pickles each range across the boundary), so the
    measured rate bounds the harness, not the sink — the sinks
    themselves are the same code the partition-parallel batch smokes
    drive at 1M rows."""
    import tempfile

    from bigdata_flightanalysis_spark.operators.incremental import (
        incremental_exact_dedup,
    )
    from bigdata_flightanalysis_spark.sources.pydatasource import (
        SyntheticDocsStreamDataSource,
    )

    spark.dataSource.register(SyntheticDocsStreamDataSource)
    base = tempfile.mkdtemp(prefix="scale_stream_")
    store = f"{base}/fp_store"
    kept_dir = f"{base}/kept"
    rows = args.rows
    per_batch = max(1, rows // 10)
    stream = (
        spark.readStream.format("synthetic_docs_stream")
        .option("rowsPerBatch", per_batch)
        .option("maxRows", rows)
        .load()
    )

    n_batches = 0
    n_processed = 0

    def ingest(batch_df, batch_id):
        nonlocal n_batches, n_processed
        # pin the batch once: foreachBatch frames re-execute the source
        # per action, so a bare pre-count would double the driver-side
        # generation this smoke is bounded by (halving rows_per_s)
        batch_df = eager_checkpoint(batch_df)
        n = batch_df.count()
        if n == 0:
            return
        n_batches += 1
        # batch_id passed through = the operator's exactly-once mode
        # (a replayed epoch RE-EMITS its recorded survivors); without
        # it this smoke would measure the at-most-once path while
        # asserting exactly-once invariants
        incremental_exact_dedup(
            spark, batch_df, store, batch_id=batch_id
        ).write.mode("append").parquet(kept_dir)
        # bump AFTER the store landing and kept append: the poll loop
        # stops the query the moment the tally reaches `rows`, so an
        # early bump let q.stop() interrupt the final batch mid-write
        # (flaky kept<store assert) and excluded that batch's write
        # time from the throughput while counting its rows
        n_processed += n

    # availableNow would drain the simple reader in ONE batch; a
    # processing-time trigger exercises the real micro-batch cadence.
    t0 = time.perf_counter()
    q = (
        stream.writeStream.foreachBatch(ingest)
        .outputMode("append")
        .option("checkpointLocation", f"{base}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.perf_counter() + 540
    while time.perf_counter() < deadline and n_processed < rows:
        time.sleep(0.5)
    q.stop()
    wall = time.perf_counter() - t0
    kept = spark.read.parquet(kept_dir)
    out["n_batches"] = n_batches
    out["n_processed"] = n_processed
    out["n_kept_unique"] = kept.count()
    out["t_stream_ingest_s"] = round(wall, 2)
    out["rows_per_s"] = round(n_processed / wall, 1)
    # exactly-once sanity: store fingerprints unique, kept==store size
    store_df = spark.read.parquet(store)
    n_store = store_df.count()
    if n_store != store_df.distinct().count():  # explicit: -O strips assert
        raise RuntimeError("fingerprint store contains duplicates")
    if out["n_kept_unique"] != n_store:
        raise RuntimeError(
            f"exactly-once violated: kept {out['n_kept_unique']} "
            f"!= store {n_store}"
        )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--vocab",
        type=int,
        default=0,
        help="synthetic vocabulary size (0 = legacy adversarial 30-word list)",
    )
    ap.add_argument(
        "--mode",
        choices=[
            "docs",
            "embeddings",
            "both",
            "analytics",
            "streaming",
            "index",
            "embstore",
            "segmentation",
        ],
        default="docs",
    )
    ap.add_argument(
        "--batches",
        type=int,
        default=10,
        help="ingest batch count for --mode embstore",
    )
    args = ap.parse_args()

    spark = get_session("scale-smoke")
    if args.mode == "analytics":
        out_a: dict = {"rows": args.rows, "partitions": args.partitions}
        _smoke_analytics(spark, args, out_a)
        print(json.dumps(out_a))
        spark.stop()
        return
    if args.mode == "index":
        out_i: dict = {"rows": args.rows, "partitions": args.partitions}
        _smoke_index(spark, args, out_i)
        print(json.dumps(out_i))
        spark.stop()
        return
    if args.mode == "embstore":
        out_v: dict = {"rows": args.rows, "partitions": args.partitions}
        _smoke_embstore(spark, args, out_v)
        print(json.dumps(out_v))
        spark.stop()
        return
    if args.mode == "streaming":
        out_s: dict = {"rows": args.rows}
        _smoke_streaming(spark, args, out_s)
        print(json.dumps(out_s))
        spark.stop()
        return
    if args.mode == "segmentation":
        out_g: dict = {"rows": args.rows, "partitions": args.partitions}
        _smoke_segmentation(spark, args, out_g)
        print(json.dumps(out_g))
        spark.stop()
        return
    if args.mode in ("embeddings", "both"):
        out_e: dict = {"rows": args.rows, "partitions": args.partitions}
        _smoke_embeddings(spark, args, out_e)
        print(json.dumps(out_e))
        if args.mode == "embeddings":
            spark.stop()
            return
    spark.dataSource.register(SyntheticDocsDataSource)
    docs = (
        spark.read.format("synthetic_docs")
        .option("rows", args.rows)
        .option("partitions", args.partitions)
        .option("seed", args.seed)
        .load()
    )

    out: dict = {"rows": args.rows, "partitions": args.partitions}

    t0 = time.perf_counter()
    # Large-corpus posture: materialize signatures once (the switch
    # _candidate_pairs takes when checkpointing.is_large_input holds,
    # at LARGE_INPUT_BYTES of corpus).
    sig = eager_checkpoint(_signatures_of(docs))
    out["t_signatures_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    bands = _band_frame(sig)
    a, b = bands.alias("a"), bands.alias("b")
    pairs = eager_checkpoint(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    out["n_pairs"] = pairs.count()
    out["t_pairs_s"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    cc = connected_components(pairs, "doc_a", "doc_b")
    out["n_clustered_docs"] = cc.count()
    out["n_clusters"] = cc.select("component").distinct().count()
    out["t_clusters_s"] = round(time.perf_counter() - t0, 2)

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
