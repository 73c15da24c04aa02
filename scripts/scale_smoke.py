#!/usr/bin/env python
"""Scale smoke for the two stateful legs no registry query covers.

Every other scale number comes from registry queries timed by
scripts/scaling_spotcheck.py. The two legs here keep state ACROSS
calls, which a one-shot registry query cannot express:

- ``--mode streaming``: the state spans micro-batches — the unbounded
  synthetic source drained through the exactly-once incremental-dedup
  ingest, its fingerprint store carried from batch to batch.
- ``--mode embstore``: the state spans ingests — --batches ingests into
  the maintained embedding near-dup store, a full recompute to compare,
  then compaction of the files the ingests left.

Each prints ONE JSON line and raises if its invariant breaks.

    python scripts/scale_smoke.py --mode streaming --rows 100000
    python scripts/scale_smoke.py --mode embstore --rows 1000000 --batches 10

--mode streaming runs on a processing-time trigger (real micro-batch
cadence; availableNow would collapse the simple reader to one batch)
with batch_id passed through, so the replay-re-emit path is what's
measured. Reference run (100k rows, 10 micro-batches): 40.5 s
(~2.5k rows/s — bounded by the reader's driver-side generation plus
the per-batch staging write, not the sink), store unique, kept ==
store.

--mode embstore records per-batch wall time and pair yield — the
evidence that each batch pays for its own candidates, not a
history-vs-history recompute. Reference run (local[32], 1M vectors,
10 batches, 12 planes): 4,041,144 pairs in 466 s; per-batch time
16 -> 78 s tracks per-batch yield 39.5k -> 844k (the uniform synthetic
corpus duplicates every batch against ALL history, so candidates
scale with the store) while cost per emitted pair FALLS 0.4 -> 0.09 ms
— no store rescan. The closing full-corpus recompute emits EXACTLY the
same 4,041,144 pairs (1M-scale differential check) in 86.7 s.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_flightanalysis_spark.operators.checkpointing import eager_checkpoint
from bigdata_flightanalysis_spark.session import get_session
from pyspark.sql import functions as F


def _smoke_streaming(spark, args, out: dict) -> None:
    """Streaming soak: the unbounded synthetic source drained through
    the exactly-once incremental-dedup ingest (foreachBatch + the
    fingerprint store) — end-to-end rows/s for the streaming path, no
    Kafka or input files. The synthetic stream generates rows on the
    DRIVER (SimpleDataSource StreamReader pickles each range across
    the boundary), so the measured rate bounds the harness, not the
    sink."""
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

    # Compaction leg: each ingest appended one file per touched
    # bucket, so after --batches ingests the store holds up to
    # batches x buckets files; compact_embed_store rewrites every
    # bucket to ONE file at the recorded granularity. Recorded: file
    # counts, compact wall time, a timed full store scan before/after
    # (the listing+read cost every later probe pays), and a content
    # fingerprint proving the rewrite changed no (vec_id, bucket) row.
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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("streaming", "embstore"), required=True)
    ap.add_argument("--rows", type=int, default=100_000)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--batches",
        type=int,
        default=10,
        help="ingest batch count for --mode embstore",
    )
    args = ap.parse_args()

    spark = get_session("scale-smoke")
    out: dict = {"rows": args.rows}
    if args.mode == "embstore":
        out["partitions"] = args.partitions
        _smoke_embstore(spark, args, out)
    else:
        _smoke_streaming(spark, args, out)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
