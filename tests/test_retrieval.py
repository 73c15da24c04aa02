"""Behavioral tests for the retrieval / span-dedup / CDC / shard
queries added in round 6 — semantic invariants the oracle parity sweep
(pure equality) can't express."""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.queries.retrieval import BM25_TERMS, BM25_TOPK

REG = load_all()
SF = "/root/testdata/sf0.001"


def test_bm25_scores_positive_sorted_and_hit_bearing(spark):
    rows = REG["doc_bm25_topk"].fn(spark, SF).collect()
    assert 0 < len(rows) <= BM25_TOPK
    scores = [r["bm25_score"] for r in rows]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    # every returned doc actually contains at least one query term
    hit_ids = {r["doc_id"] for r in rows}
    docs = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .where(F.col("doc_id").isin(list(hit_ids)))
        .select("doc_id", "text")
        .collect()
    )
    for d in docs:
        toks = set(d["text"].split())
        assert toks & set(BM25_TERMS), d["doc_id"]


def test_bm25_matches_independent_python_recomputation(spark):
    """Third engine: recompute BM25 in pure Python (IEEE doubles, same
    expression order) and compare the top-10 ranking AND scores."""
    import re

    docs = spark.read.parquet(f"{SF}/documents.parquet").collect()
    toks = {r["doc_id"]: re.split(r"\s+", r["text"].strip()) for r in docs}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    dfs = [sum(1 for t in toks.values() if q in t) for q in BM25_TERMS]
    scored = []
    for did, t in toks.items():
        dl = len(t)
        score = 0.0
        for q, df in zip(BM25_TERMS, dfs):
            tf = sum(1 for x in t if x == q)
            idf = (n - df + 0.5) / (df + 0.5)
            tfpart = (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl)))
            score += idf * tfpart
        if score > 0:
            scored.append((did, score))
    scored.sort(key=lambda p: (-p[1], p[0]))
    expect = scored[:BM25_TOPK]

    got = [
        (r["doc_id"], r["bm25_score"])
        for r in REG["doc_bm25_topk"].fn(spark, SF).collect()
    ]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (_, a), (_, b) in zip(got, expect):
        assert abs(a - b) < 1e-9 * max(1.0, abs(b))


def test_duplicate_spans_on_crafted_corpus(spark, tmp_path):
    """Exact-dup docs score dup_ratio 1.0; a unique page QUOTING a
    shared paragraph is partially covered (the case doc-level MinHash
    misses); fully unique text scores 0."""
    para = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    rows = [
        (1, para, "en", "s", len(para)),
        (2, para, "en", "s", len(para)),  # exact dup of 1
        (3, "unique one two three four five six seven", "en", "s", 40),
        # quotes the shared paragraph inside otherwise-unique text
        (4, f"intro words here {para} closing remarks now", "en", "s", 70),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = {
        r["doc_id"]: r
        for r in REG["doc_duplicate_spans"].fn(spark, str(tmp_path)).collect()
    }
    assert out[1]["dup_ratio"] == 1.0 and out[2]["dup_ratio"] == 1.0
    assert out[3]["dup_ratio"] == 0.0
    assert 0.0 < out[4]["dup_ratio"] < 1.0  # partially covered quoter
    # and on the real corpus every ratio is well-formed
    real = REG["doc_duplicate_spans"].fn(spark, SF).collect()
    assert all(0.0 <= r["dup_ratio"] <= 1.0 for r in real)


def test_snapshot_diff_classification_matches_key_arithmetic(spark):
    rows = REG["customer_snapshot_diff"].fn(spark, SF).collect()
    assert rows
    seen = set()
    for r in rows:
        k, ct = r["c_custkey"], r["change_type"]
        seen.add(ct)
        if ct == "added":
            assert k % 10 == 0 and k % 7 != 0
            assert r["old_acctbal"] is None and r["new_acctbal"] is not None
        elif ct == "removed":
            assert k % 7 == 0 and k % 10 != 0
            assert r["new_acctbal"] is None and r["old_acctbal"] is not None
        else:
            assert ct == "changed"
            # only the %5==0 balance bump can change a surviving row
            assert k % 5 == 0 and k % 10 != 0 and k % 7 != 0
            assert r["new_acctbal"] == r["old_acctbal"] + 100.0
    assert seen == {"added", "removed", "changed"}


def test_shuffle_shards_cover_corpus_and_replay_identically(spark):
    out1 = REG["doc_shuffle_shards"].fn(spark, SF).collect()
    n_docs_total = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert sorted(r["shard_id"] for r in out1) == list(range(16))
    assert sum(r["n_docs"] for r in out1) == n_docs_total
    # shard sizes roughly balanced (uniform hash): no shard > 3× mean
    mean = n_docs_total / 16
    assert all(r["n_docs"] < 3 * mean for r in out1)
    # the order checksum is replay-stable (same permutation every run)
    out2 = REG["doc_shuffle_shards"].fn(spark, SF).collect()
    assert [tuple(r) for r in out1] == [tuple(r) for r in out2]


def test_winnowing_guarantee_and_density(spark, tmp_path):
    """The winnowing contract (Schleimer et al. 2003): two docs sharing
    a run of >= w+k-1 words share at least one fingerprint hash, and
    the fingerprint density is far below the gram count."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        WINNOW_K,
        WINNOW_W,
    )

    shared = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
    assert len(shared.split()) >= WINNOW_W + WINNOW_K - 1
    rows = [
        (1, f"aaa bbb ccc {shared} ddd eee fff", "en", "s", 10),
        (2, f"xxx yyy {shared} zzz www qqq rrr", "en", "s", 10),
        (3, "totally different words entirely unrelated content here now", "en", "s", 10),
    ]
    spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    ).write.mode("overwrite").parquet(f"{tmp_path}/documents.parquet")

    out = REG["doc_winnow_fingerprints"].fn(spark, str(tmp_path)).collect()
    fps = {}
    for r in out:
        fps.setdefault(r["doc_id"], set()).add(r["fp_hash"])
    assert fps[1] & fps[2], "shared run must yield a shared fingerprint"
    assert not (fps[1] & fps[3]) and not (fps[2] & fps[3])

    # density on the real corpus: selected fingerprints ≪ total grams
    # (theoretical expectation 2/(w+1) = 0.4 of gram positions)
    real = REG["doc_winnow_fingerprints"].fn(spark, SF)
    n_fp = real.count()
    n_grams = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .select(F.size(F.split(F.trim("text"), r"\s+")).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert n_fp < 0.6 * n_grams


def test_bm25_index_serves_bit_identical_to_inline(spark, tmp_path):
    """build_text_index → bm25_index_topk must return EXACTLY what the
    inline doc_bm25_topk computes — scores bit-identical (the pivoted
    tf columns reproduce the same fixed-order expression tree), rows
    and tie-breaks identical. The stored index loses nothing."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        doc_bm25_topk,
    )

    idx = str(tmp_path / "bm25_index")
    build_text_index(spark, SF, idx)
    served = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    inline = [tuple(r) for r in doc_bm25_topk(spark, SF).collect()]
    assert served == inline
    assert len(served) == 10

    # the postings store is term-bucket partitioned on disk
    import os

    dirs = [
        d
        for d in os.listdir(f"{idx}/postings")
        if d.startswith("bucket=")
    ]
    assert dirs, "postings not hive-partitioned by term bucket"


def test_bm25_index_refresh_converges_to_full_build(spark, tmp_path):
    """build on half + refresh with the rest (overlap re-ingested,
    then a full replay of the second batch) must serve EXACTLY what a
    one-shot full build serves — including bit-identical scores. The
    replay can only append byte-identical postings rows, which the
    distinct-doc df and max-pivoted tfs are immune to."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        build_text_index_from,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()
    import pyspark.sql.functions as SF_

    inc = str(tmp_path / "inc")
    build_text_index_from(spark, docs.where(SF_.col("doc_id") < n // 2), inc)
    batch2 = docs.where(SF_.col("doc_id") >= n // 3)  # overlapping
    refresh_text_index(spark, batch2, inc)
    refresh_text_index(spark, batch2, inc)  # crash-replay of the batch

    full = str(tmp_path / "full")
    build_text_index(spark, SF, full)
    served_inc = [tuple(r) for r in bm25_index_topk(spark, inc).collect()]
    served_full = [tuple(r) for r in bm25_index_topk(spark, full).collect()]
    assert served_inc == served_full
    assert len(served_inc) == 10


def test_refresh_materialized_toks_tokenizes_batch_once(
    spark, tmp_path, monkeypatch
):
    """Large-input mode of build/refresh (the same is_large_input gate
    as the MinHash signatures): above the gate
    the input's tokenized form is eagerly checkpointed so the
    doc_stats leg and the postings leg both read the checkpoint and
    the input is scanned+tokenized exactly once; the served index must
    be bit-identical to the default recompute shape's."""
    from bigdata_flightanalysis_spark.operators import checkpointing
    from bigdata_flightanalysis_spark.queries import retrieval as r
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()

    # structural: below the gate the tokenized frame scans the batch
    # parquet; above it (gate forced to 0) it reads the checkpoint
    plan_small = r._gated_toks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan_small
    monkeypatch.setattr(checkpointing, "LARGE_INPUT_BYTES", 0)
    plan_large = r._gated_toks(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" not in plan_large  # checkpoint-fed

    # end-to-end: a fully gated build+refresh converges to the ungated
    gated = str(tmp_path / "gated")
    r.build_text_index_from(spark, docs.where(F.col("doc_id") < n // 2), gated)
    r.refresh_text_index(spark, docs.where(F.col("doc_id") >= n // 3), gated)
    served_gated = [tuple(x) for x in r.bm25_index_topk(spark, gated).collect()]

    monkeypatch.undo()
    plain = str(tmp_path / "plain")
    r.build_text_index_from(spark, docs.where(F.col("doc_id") < n // 2), plain)
    r.refresh_text_index(spark, docs.where(F.col("doc_id") >= n // 3), plain)
    served_plain = [tuple(x) for x in r.bm25_index_topk(spark, plain).collect()]

    assert served_gated == served_plain
    assert len(served_gated) == 10


def test_bm25_lifecycle_entries_leave_no_temp_index(spark, tmp_path, monkeypatch):
    """The two lifecycle registry entries build into tempfile.mkdtemp;
    after returning (result pinned via localCheckpoint) the index dir
    must be GONE — repeated driver/bench runs must not accumulate
    corpus-sized index dirs under /tmp (round-7 defect).

    mkdtemp is redirected into this test's own tmp_path: the cleanup
    contract is process-local, and another process may share the temp
    root, so its in-flight bm25_index_* dir would read as a leak in a
    snapshot diff of the shared root."""
    import os
    import tempfile

    real_mkdtemp = tempfile.mkdtemp
    made: list[str] = []

    def redirected(*a, **kw):
        path = real_mkdtemp(*a, **{**kw, "dir": str(tmp_path)})
        made.append(path)
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", redirected)

    def _index_dirs():
        return {
            d
            for d in os.listdir(tmp_path)
            if d.startswith(("bm25_index_", "bm25_refresh_"))
        }

    before = _index_dirs()
    rows_idx = REG["doc_bm25_index_topk"].fn(spark, SF).collect()
    rows_ref = REG["doc_bm25_refresh_topk"].fn(spark, SF).collect()
    assert len(rows_idx) == 10 and len(rows_ref) == 10
    # the redirect really hit the queries' mkdtemp call sites (else
    # this test would silently stop checking anything)
    assert any(
        os.path.basename(p).startswith(("bm25_index_", "bm25_refresh_"))
        for p in made
    ), "queries did not build under the redirected temp root"
    assert _index_dirs() == before, "temp index dirs leaked"


def test_corpus_stats_crash_window_recovers_on_serve_and_refresh(
    spark, tmp_path
):
    """Kill between refresh_text_index's two renames: live corpus_stats
    is gone, a complete .old remains. The next SERVE must restore and
    answer correctly; the next REFRESH must restore then converge to
    the full-build index (the same util.recover_layout heal the
    streaming state dirs use)."""
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        build_text_index_from,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()

    # -- serve-side recovery on a full index
    idx = str(tmp_path / "crash_serve")
    build_text_index(spark, SF, idx)
    expect = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    os.rename(f"{idx}/corpus_stats", f"{idx}/corpus_stats.old")  # the window
    assert [tuple(r) for r in bm25_index_topk(spark, idx).collect()] == expect
    assert os.path.exists(f"{idx}/corpus_stats")  # restored, not bypassed

    # -- refresh-side recovery on a half-built index
    inc = str(tmp_path / "crash_refresh")
    build_text_index_from(spark, docs.where(F.col("doc_id") < n // 2), inc)
    os.rename(f"{inc}/corpus_stats", f"{inc}/corpus_stats.old")
    refresh_text_index(spark, docs.where(F.col("doc_id") >= n // 2), inc)
    full = str(tmp_path / "full")
    build_text_index(spark, SF, full)
    assert [tuple(r) for r in bm25_index_topk(spark, inc).collect()] == [
        tuple(r) for r in bm25_index_topk(spark, full).collect()
    ]


def test_bm25_serve_only_entry_caches_index_and_matches_inline(spark):
    """doc_bm25_serve_topk: first call builds the session index, later
    calls serve from the SAME cached path (pure serve — what the bench
    row measures after warmup), and the served rows equal the inline
    doc_bm25_topk bit-for-bit."""
    from bigdata_flightanalysis_spark.queries import retrieval as R

    got1 = [tuple(r) for r in REG["doc_bm25_serve_topk"].fn(spark, SF).collect()]
    path1 = R._SERVE_INDEX_CACHE[SF]
    got2 = [tuple(r) for r in REG["doc_bm25_serve_topk"].fn(spark, SF).collect()]
    assert R._SERVE_INDEX_CACHE[SF] == path1  # no rebuild
    inline = [tuple(r) for r in REG["doc_bm25_topk"].fn(spark, SF).collect()]
    assert got1 == got2 == inline


def test_bm25_index_serve_prunes_postings_partitions(spark, tmp_path):
    """The serve scan must carry a PartitionFilter on the term-hash
    bucket — the on-disk pruning that lets a 3-term query read ≤3 of
    the postings store's partitions instead of the whole index."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
    )

    idx = str(tmp_path / "bm25_index")
    build_text_index(spark, SF, idx)
    plan = (
        bm25_index_topk(spark, idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [bucket" in plan or (
        "PartitionFilters" in plan and "bucket" in plan
    ), plan


def test_streaming_bm25_refresh_converges_to_batch_build(spark, tmp_path):
    """Stream==batch for the index-maintenance path: a document stream
    drained through a foreachBatch sink that refresh_text_index-es the
    session index per micro-batch (overlapping files — crash-replayed
    docs re-ingested) must serve EXACTLY what a one-shot full build
    serves, bit-identical scores included."""
    import glob
    import os
    import shutil
    import time as _t

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table
    from bigdata_flightanalysis_spark.streaming.events import run_foreach_batch

    docs = read_table(spark, SF, "documents")
    n = docs.count()
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    # three OVERLAPPING slices covering the corpus (replay in flight)
    slices = [(0, n // 2), (n // 3, 3 * n // 4), (n // 2, n)]
    for i, (lo, hi) in enumerate(slices):
        stage = f"{src}/.tmp{i}"
        docs.filter(
            (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        shutil.move(
            glob.glob(f"{stage}/part-*.parquet")[0], f"{src}/f{i}.parquet"
        )
        shutil.rmtree(stage)
        _t.sleep(1.1)

    idx = str(tmp_path / "stream_index")

    def refresh(batch_df, batch_id):
        refresh_text_index(spark, batch_df, idx)

    stream = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    run_foreach_batch(
        stream, refresh, checkpoint_dir=str(tmp_path / "ckpt"),
        output_mode="append",
    )

    full = str(tmp_path / "full")
    build_text_index(spark, SF, full)
    served_stream = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    served_full = [tuple(r) for r in bm25_index_topk(spark, full).collect()]
    assert served_stream == served_full
    assert len(served_stream) == 10


def test_compaction_drops_replay_rows_and_serves_identically(spark, tmp_path):
    """Torn-refresh replay rows (byte-identical postings appended
    twice) survive until compact_text_index rewrites the store:
    afterwards postings rows == distinct rows, each bucket dir holds
    ONE parquet file, and the served top-k still equals a one-shot
    full build bit-for-bit."""
    import glob
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        _index_buckets,
        _postings_of,
        _toks_of,
        _write_postings,
        bm25_index_topk,
        build_text_index,
        build_text_index_from,
        compact_text_index,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()
    idx = str(tmp_path / "compact_idx")
    build_text_index_from(spark, docs.where(F.col("doc_id") < n // 2), idx)
    batch2 = docs.where(F.col("doc_id") >= n // 2)
    refresh_text_index(spark, batch2, idx)
    # torn refresh: postings appended, doc_stats append crashed, retry
    _write_postings(
        _postings_of(_toks_of(batch2), _index_buckets(idx)), idx, mode="append"
    )

    before = spark.read.parquet(f"{idx}/postings")
    n_before, n_distinct = before.count(), before.distinct().count()
    assert n_before > n_distinct  # replay rows really present

    compact_text_index(spark, idx)
    after = spark.read.parquet(f"{idx}/postings")
    assert after.count() == n_distinct
    for bucket_dir in glob.glob(f"{idx}/postings/bucket=*"):
        files = [
            f for f in os.listdir(bucket_dir) if f.endswith(".parquet")
        ]
        assert len(files) == 1, bucket_dir
    assert not os.path.exists(f"{idx}/postings.staging")
    assert not os.path.exists(f"{idx}/postings.old")

    full = str(tmp_path / "full")
    build_text_index(spark, SF, full)
    assert [tuple(r) for r in bm25_index_topk(spark, idx).collect()] == [
        tuple(r) for r in bm25_index_topk(spark, full).collect()
    ]

    # the rewrite must preserve the hive layout the serve path prunes on
    plan = (
        bm25_index_topk(spark, idx)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan and "bucket" in plan


def test_compaction_crash_window_recovers(spark, tmp_path):
    """A crash between compact_text_index's two renames (live postings
    gone, .old complete) must heal on the next serve."""
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
    )

    idx = str(tmp_path / "crash_compact")
    build_text_index(spark, SF, idx)
    expect = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    os.rename(f"{idx}/postings", f"{idx}/postings.old")
    assert [tuple(r) for r in bm25_index_topk(spark, idx).collect()] == expect
    assert os.path.exists(f"{idx}/postings")


def test_refresh_after_compaction_keeps_converging(spark, tmp_path):
    """Realistic interleaving: build → refresh → COMPACT → refresh more
    → serve. Compaction rewrites doc_stats (the freshness source the
    next refresh anti-joins), so this pins that a mid-stream compact
    neither re-ingests seen docs nor loses them: the final serve equals
    a one-shot full build, and compacting twice is idempotent."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        build_text_index_from,
        compact_text_index,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()
    idx = str(tmp_path / "interleaved")
    build_text_index_from(spark, docs.where(F.col("doc_id") < n // 3), idx)
    refresh_text_index(
        spark,
        docs.where((F.col("doc_id") >= n // 3) & (F.col("doc_id") < n // 2)),
        idx,
    )
    compact_text_index(spark, idx)
    # overlapping batch: the n//3..n//2 slice is already ingested and
    # must be skipped by the post-compact doc_stats anti-join
    refresh_text_index(spark, docs.where(F.col("doc_id") >= n // 3), idx)
    compact_text_index(spark, idx)
    compact_text_index(spark, idx)  # idempotent

    full = str(tmp_path / "full")
    build_text_index(spark, SF, full)
    assert [tuple(r) for r in bm25_index_topk(spark, idx).collect()] == [
        tuple(r) for r in bm25_index_topk(spark, full).collect()
    ]
    # post-compact doc_stats holds each doc exactly once
    ds = spark.read.parquet(f"{idx}/doc_stats")
    assert ds.count() == ds.select("doc_id").distinct().count() == n


def test_index_serves_with_its_recorded_bucket_modulus(spark, tmp_path, monkeypatch):
    """The bucket count is a build/serve compatibility contract: an
    index built when INDEX_TERM_BUCKETS was (say) 8 must keep serving
    correctly after the constant is raised — the stored modulus wins,
    so pruning can never select the wrong partitions and drop terms."""
    import os

    from bigdata_flightanalysis_spark.queries import retrieval as R

    idx = str(tmp_path / "old_modulus")
    monkeypatch.setattr(R, "INDEX_TERM_BUCKETS", 8)
    R.build_text_index(spark, SF, idx)
    monkeypatch.undo()  # "a later release" with the constant back at 64
    assert R._index_buckets(idx) == 8
    dirs = {d for d in os.listdir(f"{idx}/postings") if d.startswith("bucket=")}
    assert len(dirs) <= 8  # really built at the old modulus

    served = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    inline = [tuple(r) for r in R.doc_bm25_topk(spark, SF).collect()]
    assert served == inline

    # and a refresh against the old index keeps using its modulus
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    n = docs.count()
    idx2 = str(tmp_path / "old_modulus_inc")
    monkeypatch.setattr(R, "INDEX_TERM_BUCKETS", 8)
    R.build_text_index_from(spark, docs.where(F.col("doc_id") < n // 2), idx2)
    monkeypatch.undo()
    R.refresh_text_index(spark, docs.where(F.col("doc_id") >= n // 2), idx2)
    dirs2 = {
        d for d in os.listdir(f"{idx2}/postings") if d.startswith("bucket=")
    }
    assert len(dirs2) <= 8  # refresh did NOT scatter into 64 buckets
    assert [tuple(r) for r in R.bm25_index_topk(spark, idx2).collect()] == inline


def test_index_rejects_foreign_tokenizer_scheme(spark, tmp_path):
    """The index stamps the tokenization scheme postings were derived
    with; refresh/serve against an index built by a release with a
    different tokenizer must raise — mixing postings across schemes
    (or probing terms the other scheme never produced) is silently
    wrong, not an error. An index with no stamp (pre-tag legacy) must
    still serve."""
    import json
    import os

    import pytest

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index_from,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    build_text_index_from(spark, docs.where(F.col("doc_id") < 40), idx)

    meta_path = os.path.join(idx, "_index_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    from bigdata_flightanalysis_spark.functions.text import TOKENIZER_TAG

    assert meta["tokenizer"] == TOKENIZER_TAG

    # legacy index: bucket modulus but no tokenizer stamp → accepted
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump({"n_buckets": meta["n_buckets"]}, f)
    assert bm25_index_topk(spark, idx).count() > 0

    # foreign scheme → refresh AND serve both refuse
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump({**meta, "tokenizer": "bpe_32k_v2"}, f)
    with pytest.raises(ValueError, match="bpe_32k_v2"):
        refresh_text_index(spark, docs.where(F.col("doc_id") >= 40), idx)
    with pytest.raises(ValueError, match="bpe_32k_v2"):
        bm25_index_topk(spark, idx)


def test_rebuild_over_foreign_index_cannot_silently_serve(spark, tmp_path):
    """A rebuild into an existing old-scheme index clears the foreign
    relations BEFORE stamping the new scheme: a completed rebuild
    serves correctly, and a torn one (crash after the stamp) fails
    loudly on missing relations instead of serving foreign postings
    under a fresh stamp."""
    import json
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index_from,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    build_text_index_from(spark, docs, idx)
    baseline = sorted(map(tuple, bm25_index_topk(spark, idx).collect()))

    # make the index look foreign-schemed, then rebuild over it
    meta_path = os.path.join(idx, "_index_meta.json")
    with open(meta_path, encoding="utf-8") as f:
        meta = json.load(f)
    with open(meta_path, "w", encoding="utf-8") as f:
        json.dump({**meta, "tokenizer": "bpe_32k_v2"}, f)
    build_text_index_from(spark, docs, idx)
    assert sorted(map(tuple, bm25_index_topk(spark, idx).collect())) == baseline

    # torn rebuild: simulate the crash-after-stamp state — the old
    # relations are already cleared, so serving must error loudly
    import shutil

    from bigdata_flightanalysis_spark.queries.retrieval import (
        _record_index_buckets,
    )

    for rel in ("postings", "doc_stats", "corpus_stats"):
        shutil.rmtree(os.path.join(idx, rel), ignore_errors=True)
    _record_index_buckets(idx)
    import pytest as _pytest

    with _pytest.raises(Exception):
        bm25_index_topk(spark, idx).collect()


def test_refresh_created_index_is_stamped(spark, tmp_path):
    """refresh_text_index onto a nonexistent path creates an index de
    novo — it must stamp modulus + tokenizer like a build, or the
    index is forever unstamped (served with the legacy constant even
    after the build constant changes)."""
    import json
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        INDEX_TERM_BUCKETS,
        refresh_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "fresh")
    refresh_text_index(spark, docs, idx)
    with open(os.path.join(idx, "_index_meta.json"), encoding="utf-8") as f:
        meta = json.load(f)
    from bigdata_flightanalysis_spark.functions.text import TOKENIZER_TAG

    assert meta == {
        "n_buckets": INDEX_TERM_BUCKETS,
        "tokenizer": TOKENIZER_TAG,
    }


def test_compaction_recomputes_corpus_stats_after_dedup(spark, tmp_path):
    """If doc_stats held duplicate doc rows (the state the defensive
    dropDuplicates exists for), corpus_stats was aggregated over the
    duplicates — compaction must recompute it from the deduped
    relation or every serve until the next refresh scores with
    inflated n_docs/avgdl."""
    from bigdata_flightanalysis_spark.queries.catalog import load_all
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index_from,
        compact_text_index,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    reg = load_all()
    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    build_text_index_from(spark, docs, idx)
    baseline = sorted(map(tuple, bm25_index_topk(spark, idx).collect()))

    # corrupt: duplicate every doc_stats row AND fold the duplicates
    # into corpus_stats (what two racing refreshes would leave)
    ds = spark.read.parquet(f"{idx}/doc_stats").localCheckpoint(eager=True)
    ds.write.mode("append").parquet(f"{idx}/doc_stats")
    from pyspark.sql import functions as F2

    (
        spark.read.parquet(f"{idx}/doc_stats")
        .agg(
            F2.count(F2.lit(1)).cast("bigint").alias("n_docs"),
            F2.sum("dl").cast("bigint").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{idx}/corpus_stats.tmp")
    )
    import shutil

    shutil.rmtree(f"{idx}/corpus_stats")
    shutil.move(f"{idx}/corpus_stats.tmp", f"{idx}/corpus_stats")
    corrupted = sorted(map(tuple, bm25_index_topk(spark, idx).collect()))
    assert corrupted != baseline  # the corruption is observable

    compact_text_index(spark, idx)
    assert sorted(map(tuple, bm25_index_topk(spark, idx).collect())) == baseline


def test_recover_removes_stale_old_next_to_healthy_live(spark, tmp_path):
    """The other swap-crash residue: the swap completed but the final
    cleanup didn't, leaving a full-relation .old next to a healthy
    live dir. Serve-only workloads must remove it (it never heals
    otherwise)."""
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index_from,
    )
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    build_text_index_from(spark, docs, idx)
    os.makedirs(f"{idx}/corpus_stats.old")
    bm25_index_topk(spark, idx).collect()
    assert not os.path.exists(f"{idx}/corpus_stats.old")


def test_compact_crash_before_corpus_swap_heals_inflated_totals(
    spark, tmp_path, monkeypatch
):
    """Round-8 advisory: a crash after compact's doc_stats swap but
    before the corpus_stats promotion used to leave totals aggregated
    over the PRE-dedup doc_stats — a serve-only workload then served
    inflated n_docs/avgdl forever. compact now stages the recomputed
    totals BEFORE any swap, and _recover_corpus_stats promotes a
    complete corpus_stats.new whose doc_stats promotion already
    happened — so the very next serve returns the clean-index scores."""
    import os

    from bigdata_flightanalysis_spark.queries import retrieval as R
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    clean_idx = str(tmp_path / "clean")
    R.build_text_index_from(spark, docs, clean_idx)
    expected = [tuple(r) for r in R.bm25_index_topk(spark, clean_idx).collect()]
    clean_totals = spark.read.parquet(f"{clean_idx}/corpus_stats").collect()[0]

    # an index whose doc_stats carries racing-refresh duplicates and
    # whose corpus_stats (as after any later refresh) is aggregated
    # over them — the inflated state compaction exists to fix
    idx = str(tmp_path / "torn")
    R.build_text_index_from(spark, docs, idx)
    dup = spark.read.parquet(f"{idx}/doc_stats")
    dup.write.mode("append").parquet(f"{idx}/doc_stats")
    (
        spark.read.parquet(f"{idx}/doc_stats")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{idx}/corpus_stats.inflated")
    )
    R.swap_layout(f"{idx}/corpus_stats.inflated", f"{idx}/corpus_stats")
    inflated = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert inflated["n_docs"] == 2 * clean_totals["n_docs"]

    # compact, crashing at the corpus_stats promotion (the 3rd swap)
    real_swap = R.swap_layout
    calls = {"n": 0}

    def crashing_swap(staging, live):
        calls["n"] += 1
        if live.endswith("/corpus_stats"):
            raise RuntimeError("simulated crash before corpus_stats swap")
        real_swap(staging, live)

    monkeypatch.setattr(R, "swap_layout", crashing_swap)
    try:
        R.compact_text_index(spark, idx)
    except RuntimeError:
        pass
    monkeypatch.setattr(R, "swap_layout", real_swap)
    assert calls["n"] == 3  # postings, doc_stats, corpus_stats
    # the torn state the advisory describes: deduped doc_stats live,
    # inflated corpus_stats live, complete .new waiting
    assert os.path.exists(f"{idx}/corpus_stats.new/_SUCCESS")
    assert not os.path.exists(f"{idx}/doc_stats.staging")
    assert (
        spark.read.parquet(f"{idx}/corpus_stats").collect()[0]["n_docs"]
        == inflated["n_docs"]
    )

    # serve-only workload: the first serve must heal the totals and
    # return the clean-index scores (no refresh/compact ever runs)
    got = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    assert got == expected
    healed = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert tuple(healed) == tuple(clean_totals)
    assert not os.path.exists(f"{idx}/corpus_stats.new")


def test_recover_removes_new_totals_when_doc_stats_unswapped(
    spark, tmp_path, monkeypatch
):
    """The dual guard: a compact crash BEFORE the doc_stats promotion
    leaves corpus_stats.new reflecting the STAGED doc_stats, not the
    live one — recovery must remove it (promoting would desync totals
    from the live relation), and the live index must keep serving its
    pre-compact state."""
    import os

    from bigdata_flightanalysis_spark.queries import retrieval as R
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    R.build_text_index_from(spark, docs, idx)
    before = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    totals_before = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]

    real_swap = R.swap_layout

    def crashing_swap(staging, live):
        raise RuntimeError("simulated crash before any swap")

    monkeypatch.setattr(R, "swap_layout", crashing_swap)
    try:
        R.compact_text_index(spark, idx)
    except RuntimeError:
        pass
    monkeypatch.setattr(R, "swap_layout", real_swap)
    assert os.path.exists(f"{idx}/corpus_stats.new/_SUCCESS")
    assert os.path.exists(f"{idx}/doc_stats.staging")

    got = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    assert got == before
    assert not os.path.exists(f"{idx}/corpus_stats.new")  # residue removed
    assert (
        tuple(spark.read.parquet(f"{idx}/corpus_stats").collect()[0])
        == tuple(totals_before)
    )
    # and the serve's recovery also reclaimed the full-relation-sized
    # staging residue the aborted compact stranded
    assert not os.path.exists(f"{idx}/doc_stats.staging")
    assert not os.path.exists(f"{idx}/postings.staging")


def test_stale_staging_residue_cannot_poison_totals_promotion(
    spark, tmp_path, monkeypatch
):
    """Advisory (r9): staging residue from an aborted compact used to
    persist until the NEXT compact — and a stale doc_stats.staging
    poisoned the corpus_stats.new promotion rule: a later refresh that
    crashed after writing its legitimate .new had it DELETED ("staging
    still present") instead of promoted, leaving totals permanently
    stale on a serve-only workload. Recovery now reclaims staging
    residue at every entry, so the refresh's .new is promoted on the
    next serve and totals match the live doc_stats."""
    import os

    from bigdata_flightanalysis_spark.queries import retrieval as R
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    R.build_text_index_from(spark, docs.where(F.col("doc_id") < 40), idx)

    # abort a compact before any swap: strands postings.staging,
    # doc_stats.staging, and a stale corpus_stats.new
    real_swap = R.swap_layout
    monkeypatch.setattr(
        R,
        "swap_layout",
        lambda s, l: (_ for _ in ()).throw(RuntimeError("compact crash")),
    )
    try:
        R.compact_text_index(spark, idx)
    except RuntimeError:
        pass
    assert os.path.exists(f"{idx}/doc_stats.staging")

    # a refresh now runs (its entry recovery reclaims the residue),
    # appends the second half, writes its legitimate corpus_stats.new
    # — and crashes before the final totals swap
    crashed = {"n": 0}

    def crash_final_swap(staging, live):
        if staging.endswith("corpus_stats.new"):
            crashed["n"] += 1
            raise RuntimeError("refresh crash before totals swap")
        real_swap(staging, live)

    monkeypatch.setattr(R, "swap_layout", crash_final_swap)
    try:
        R.refresh_text_index(spark, docs.where(F.col("doc_id") >= 40), idx)
    except RuntimeError:
        pass
    monkeypatch.setattr(R, "swap_layout", real_swap)
    assert crashed["n"] == 1
    assert not os.path.exists(f"{idx}/doc_stats.staging")  # reclaimed at entry
    assert os.path.exists(f"{idx}/corpus_stats.new/_SUCCESS")

    # next serve promotes the legitimate .new: totals == live doc_stats
    R.bm25_index_topk(spark, idx).collect()
    assert not os.path.exists(f"{idx}/corpus_stats.new")
    totals = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    live = (
        spark.read.parquet(f"{idx}/doc_stats")
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .collect()[0]
    )
    assert (totals["n_docs"], totals["sum_dl"]) == (live[0], live[1])


def test_serve_cache_raises_on_corpus_change_and_builds_once(
    spark, tmp_path, monkeypatch
):
    """The session serve-index cache is keyed by corpus content, not
    just path: if the documents under an sf_dir change in-process, the
    next serve raises loudly instead of returning stale top-k. And the
    first build is lock-serialized — concurrent first calls share ONE
    index instead of orphaning a duplicate until interpreter exit."""
    import os
    import shutil
    import threading

    from bigdata_flightanalysis_spark.queries import retrieval as R

    sf_dir = str(tmp_path / "sf")
    os.makedirs(sf_dir)
    src = f"{SF}/documents.parquet"
    dst = f"{sf_dir}/documents.parquet"
    (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    builds = {"n": 0}
    real_build = R.build_text_index

    def counting_build(spark_, sf_dir_, path_):
        builds["n"] += 1
        real_build(spark_, sf_dir_, path_)

    monkeypatch.setattr(R, "build_text_index", counting_build)

    paths = []
    errs = []

    def first_call():
        try:
            paths.append(R._served_index_path(spark, sf_dir))
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    threads = [threading.Thread(target=first_call) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs and len(set(paths)) == 1 and builds["n"] == 1

    # unchanged corpus: cache hit, no rebuild, no error
    assert R._served_index_path(spark, sf_dir) == paths[0]
    assert builds["n"] == 1

    # mutate the corpus (any data-file mtime change): loud error
    target = dst
    if os.path.isdir(dst):
        target = next(
            os.path.join(r, f)
            for r, _d, fs in os.walk(dst)
            for f in fs
            if f.endswith(".parquet")
        )
    st = os.stat(target)
    os.utime(target, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    import pytest as _pytest

    with _pytest.raises(ValueError, match="changed since"):
        R._served_index_path(spark, sf_dir)
    _SERVE = R._SERVE_INDEX_CACHE.pop(sf_dir, None)  # clean up for other tests
    assert _SERVE is not None


def test_refresh_refuses_torn_build_state(spark, tmp_path):
    """A build crash between the doc_stats and postings writes leaves
    doc_stats without postings. Serve/compact fail loudly on the
    missing relation — but a refresh used to make it silently WORSE:
    its anti-join saw every torn-build doc as ingested and appended no
    postings for them, and the healed-looking index served zero-score
    results for half the corpus. Refresh must refuse this state and
    point at the build."""
    import os
    import shutil

    import pytest

    from bigdata_flightanalysis_spark.queries import retrieval as R
    from bigdata_flightanalysis_spark.sources.readers import read_table

    docs = read_table(spark, SF, "documents")
    idx = str(tmp_path / "idx")
    R.build_text_index_from(spark, docs.where(F.col("doc_id") < 40), idx)
    shutil.rmtree(f"{idx}/postings")  # the torn-build crash state

    with pytest.raises(ValueError, match="torn build"):
        R.refresh_text_index(spark, docs.where(F.col("doc_id") >= 40), idx)
    # the documented recovery heals it: full rebuild, then serve works
    R.build_text_index_from(spark, docs, idx)
    assert R.bm25_index_topk(spark, idx).count() > 0

    # a crash DURING the postings write (not just before it) leaves
    # the dir present — Spark creates it at job start — but without
    # the _SUCCESS completeness marker; dir existence alone used to
    # let this state through, silently skipping every listed doc
    assert os.path.exists(f"{idx}/postings/_SUCCESS")
    os.remove(f"{idx}/postings/_SUCCESS")
    with pytest.raises(ValueError, match="torn build"):
        R.refresh_text_index(spark, docs, idx)
    R.build_text_index_from(spark, docs, idx)
    assert R.bm25_index_topk(spark, idx).count() > 0
    # and the INVERSE state (postings without doc_stats — a torn first
    # refresh) stays replay-safe: the retry converges, no refusal
    idx2 = str(tmp_path / "idx2")
    R.refresh_text_index(spark, docs, idx2)
    shutil.rmtree(f"{idx2}/doc_stats")
    shutil.rmtree(f"{idx2}/corpus_stats")
    R.refresh_text_index(spark, docs, idx2)
    got = [tuple(r) for r in R.bm25_index_topk(spark, idx2).collect()]
    expect = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    assert got == expect


def test_index_maintenance_serializes_refresh_against_compact(spark, tmp_path):
    """The BM25 index has the same rewrite-vs-append race as the dedup
    stores (r9 verdict defect #2): a refresh appending between a
    compaction's postings read and its swaps lands rows in the dir the
    compaction rmtree's. Refresh/compact/rebuild now hold the index's
    per-path maintenance lock: (a) a refresh entering while the lock
    is held must block; (b) a compaction racing a refresh must lose
    zero postings, serving identically to a sequential control."""
    import threading

    from bigdata_flightanalysis_spark.queries import retrieval as R
    from bigdata_flightanalysis_spark.sources.readers import read_table
    from bigdata_flightanalysis_spark.util import path_lock

    docs = read_table(spark, SF, "documents")
    half1 = docs.where(F.col("doc_id") < 40)
    half2 = docs.where(F.col("doc_id") >= 40)

    idx = str(tmp_path / "idx")
    R.build_text_index_from(spark, half1, idx)

    # (a) lock held (an in-flight compaction) => refresh blocks
    done = threading.Event()

    def refresh2():
        R.refresh_text_index(spark, half2, idx)
        done.set()

    t = threading.Thread(target=refresh2)
    with path_lock(idx):
        t.start()
        assert not done.wait(3.0), "refresh ran during in-flight maintenance"
    t.join(120)
    assert done.is_set()

    # (b) concurrent compact + a replayed refresh (its append anti-join
    # makes the replay a no-op IF it sees consistent state): the index
    # must serve identically to a sequential control afterwards
    errs = []

    def run(fn, *args):
        try:
            fn(spark, *args)
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    t_compact = threading.Thread(target=run, args=(R.compact_text_index, idx))
    t_refresh = threading.Thread(
        target=run, args=(R.refresh_text_index, half2, idx)
    )
    t_compact.start()
    t_refresh.start()
    t_compact.join(300)
    t_refresh.join(300)
    assert not errs

    control = str(tmp_path / "control")
    R.build_text_index_from(spark, docs, control)
    got = [tuple(r) for r in R.bm25_index_topk(spark, idx).collect()]
    expect = [tuple(r) for r in R.bm25_index_topk(spark, control).collect()]
    assert got == expect
    n_docs = spark.read.parquet(f"{idx}/doc_stats").select("doc_id").distinct().count()
    assert n_docs == docs.count()  # zero lost docs


def test_bm25_serve_tolerates_duplicate_doc_stats(spark, tmp_path):
    """Cross-host refreshes (flock serializes same-host only) can both
    append a doc their anti-joins saw as unseen. The serve path must
    dedup doc_stats like compact does — without it the duplicated doc
    occupies two of the k served slots and the refresh-recomputed
    corpus totals inflate n_docs/avgdl (r14 review)."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        doc_bm25_topk,
    )

    idx = str(tmp_path / "bm25_index")
    build_text_index(spark, SF, idx)
    # simulate the racing-refresh state: re-append one served doc's
    # doc_stats row verbatim
    stats = spark.read.parquet(f"{idx}/doc_stats")
    served = bm25_index_topk(spark, idx).collect()
    dup_id = served[0]["doc_id"]
    stats.where(F.col("doc_id") == dup_id).write.mode("append").parquet(
        f"{idx}/doc_stats"
    )
    again = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    inline = [tuple(r) for r in doc_bm25_topk(spark, SF).collect()]
    assert again == inline  # no duplicated slot, scores unchanged
    ids = [r[0] for r in again]
    assert len(ids) == len(set(ids))


def test_rebuild_clears_stale_corpus_stats_residue(spark, tmp_path):
    """A refresh that crashed AFTER writing a complete corpus_stats.new
    but BEFORE its swap leaves the .new behind; a rebuild over the
    index used to keep it, and the next serve's recovery hook promoted
    the stale totals OVER the fresh build's — silently skewing every
    served score forever on a serve-only workload (r16 review). The
    rebuild now clears .new/.staging residue for every relation."""
    import os

    from bigdata_flightanalysis_spark.queries.retrieval import (
        _recover_corpus_stats,
        build_text_index,
    )

    idx = str(tmp_path / "bm25_residue")
    build_text_index(spark, SF, idx)
    # fabricate the crashed-refresh residue: a COMPLETE .new with
    # absurd totals (and no doc_stats.staging, so recovery trusts it)
    stale = f"{idx}/corpus_stats.new"
    spark.createDataFrame(
        [(999999, 999999999)], "n_docs bigint, sum_dl bigint"
    ).coalesce(1).write.mode("overwrite").parquet(stale)
    assert os.path.exists(f"{stale}/_SUCCESS")
    # the operator's documented recovery: re-run the build
    build_text_index(spark, SF, idx)
    assert not os.path.exists(stale), "rebuild must clear .new residue"
    _recover_corpus_stats(idx)
    row = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert row["n_docs"] == n_docs, "stale totals must not survive a rebuild"


def test_with_temp_index_removes_dir_when_populate_raises(spark):
    """The shared lifecycle scaffold must reclaim the temp index (and
    its sibling .lock) even when a build/refresh leg raises — the
    three unshared copies leaked a corpus-sized dir per failure (r16
    review)."""
    import os

    import pytest as _pytest

    from bigdata_flightanalysis_spark.queries.retrieval import (
        _with_temp_index,
    )

    seen = {}

    def boom(index_path):
        seen["path"] = index_path
        raise RuntimeError("populate failed")

    with _pytest.raises(RuntimeError, match="populate failed"):
        _with_temp_index(spark, "bm25_leak_", boom)
    assert not os.path.exists(seen["path"])
    assert not os.path.exists(seen["path"] + ".lock")


def test_serve_bm25_topk_matches_lazy_form(spark, tmp_path):
    """The locked+pinned serve wrapper returns exactly the lazy form's
    rows, and the pinned frame survives index removal."""
    from bigdata_flightanalysis_spark.queries.retrieval import (
        bm25_index_topk,
        build_text_index,
        serve_bm25_topk,
    )
    from bigdata_flightanalysis_spark.util import remove_layout

    idx = str(tmp_path / "bm25_pin")
    build_text_index(spark, SF, idx)
    lazy_rows = [tuple(r) for r in bm25_index_topk(spark, idx).collect()]
    pinned = serve_bm25_topk(spark, idx)
    remove_layout(idx)
    assert [tuple(r) for r in pinned.collect()] == lazy_rows
