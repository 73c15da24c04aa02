"""Incremental corpus operators: dedup a NEW ingest batch against the
accumulated history without rescanning the historical corpus.

The batch complement to the streaming `dropDuplicatesWithinWatermark`
path: a crawl/ingest pipeline lands batches daily; re-deduplicating
100 TB of history per batch is not viable, so history is represented
by its fingerprint store (64-bit hash per kept doc — ~10⁻⁴ of corpus
bytes), and each new batch pays one anti-join against it.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_flightanalysis_spark.functions.text import md5_long, normalize_text
from bigdata_flightanalysis_spark.operators.checkpointing import eager_checkpoint
from bigdata_flightanalysis_spark.util import _remove_any, recover_layout, swap_layout


# What the exact-dedup fingerprint store's rows are a function of; a
# release that changes the normalization or hash must bump this (and
# rebuild stores) rather than silently probe incomparable fingerprints.
_FP_SCHEME = {"scheme": "exact", "fp": "md5_60bit_normalized_ws"}


# --- store maintenance serialization ---------------------------------
# A store rewrite (compact/rebucket) snapshot-reads the live store,
# writes a staging dir, then two-rename swaps it in. An ingest that
# appends BETWEEN the snapshot read and the swap lands its rows in the
# dir that becomes `.old` — which the rewrite then rmtree's: silent
# history loss (r9 verdict defect #2). Every ingest and rewrite
# therefore serializes on a per-store re-entrant lock (re-entrant
# because compact_embed_store delegates to rebucket_embed_store).
# Same pattern as retrieval's _SERVE_INDEX_LOCK. The lock couples an
# in-process RLock with an OS-level flock on a sibling
# ``<store>.lock`` file, so maintenance from SEPARATE processes on
# the same host serializes too (advisory, not NFS-safe — multi-host
# maintenance still needs an external coordinator). The lock registry
# itself lives in util.path_lock — shared with the BM25 index's
# maintenance legs, which have the identical race.
import functools as _functools
import inspect as _inspect

from bigdata_flightanalysis_spark.util import path_lock as _store_lock


def _serialized_on_store(fn):
    """Run ``fn`` holding the lock of its ``*_path`` argument. The
    eager checkpoints inside each ingest pin the returned frames
    to the pre-append snapshot, so nothing reads the store after the
    lock is released."""
    sig = _inspect.signature(fn)
    pname = next(p for p in sig.parameters if p.endswith("_path"))

    @_functools.wraps(fn)
    def wrapper(*args, **kwargs):
        bound = sig.bind(*args, **kwargs)
        with _store_lock(bound.arguments[pname]):
            return fn(*args, **kwargs)

    return wrapper


def fingerprint_docs(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fp): the 60-bit md5 fingerprint of normalized text — the
    same family the oracle-checked `doc_fingerprints` query uses."""
    return df.select(
        F.col(id_col).alias("id"),
        md5_long(normalize_text(text_col)).alias("fp"),
    )


def _batch_fingerprint(batch_unique: DataFrame) -> str:
    """Order-independent identity of an ingest batch: (count,
    xor-of-xxhash64) over its within-batch-unique fingerprints.
    Deterministic for a replayed batch, computed BEFORE the store
    anti-join so it does not depend on store state."""
    row = batch_unique.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.bit_xor(F.xxhash64("fp")), F.lit(0)).alias("h"),
    ).first()
    return f"{row['n']}-{row['h'] & (1 << 64) - 1:016x}"


def _single_part_file(tmp: str) -> str:
    """The one data file of a just-written ``coalesce(1)`` directory.

    ``glob.escape`` keeps metacharacters in a store path (``[``, ``*``,
    ``?`` — legal in paths, special to glob) from silently matching
    nothing; an absent part file (the write unexpectedly produced no
    output) fails with a named error instead of a bare IndexError
    between staging and landing."""
    import glob as _glob

    parts = _glob.glob(os.path.join(_glob.escape(tmp), "part-*.parquet"))
    if not parts:
        raise FileNotFoundError(
            f"no part-*.parquet produced under {tmp!r}; "
            "the staging write landed no data file"
        )
    return parts[0]


def _land_fps(fps: DataFrame, state_path: str, content_fp: str) -> None:
    """Land a batch's fingerprints in the live store as ONE
    deterministically-named file (``ingest-<content fp>.parquet``):
    the single os.rename is atomic (no torn multi-file append; the
    name keys on the CONTENT fingerprint, so it is stable across
    replays), and a replay that finds the target already present
    skips — no duplicate files. (Duplicate fp ROWS would be harmless
    anyway — the store is a seen-set probed by left_anti — but
    idempotent naming keeps replays from growing the store.) The one
    landing of both delivery modes of :func:`incremental_exact_dedup`."""
    target = os.path.join(state_path, f"ingest-{content_fp}.parquet")
    if os.path.exists(target):
        return
    tmp = state_path + ".pending.fpout"
    _remove_any(tmp)
    fps.select("fp").coalesce(1).write.mode("overwrite").parquet(tmp)
    os.makedirs(state_path, exist_ok=True)
    os.rename(_single_part_file(tmp), target)
    _remove_any(tmp)


def _recover_pending_batch(
    spark: SparkSession,
    state_path: str,
    pending: str,
    bid_key: str,
    content_fp: str,
):
    """Replay detection for :func:`incremental_exact_dedup`
    (exactly-once mode): if the pending staging belongs to THIS batch
    (same ``batch_id`` AND same content fingerprint) and committed
    completely, the call is a replay — re-land the fps idempotently
    and return the RECORDED survivor ids (the anti-join would see the
    batch's own fps in the store and silently emit nothing, the
    r14-review data-loss window). An incomplete staging, one from a
    DIFFERENT (abandoned) batch, or a replayed id whose content
    changed (out of contract) is discarded — the store is exactly as
    if that staging never started.

    The recorded survivor frame is MATERIALIZED (eager checkpoint)
    before returning, matching the fresh path's pinning contract: the
    pending dir it reads is rmtree'd by the NEXT batch's recovery
    sweep, so a lazy frame consumed after that batch starts would fail
    with FileNotFound."""
    from bigdata_flightanalysis_spark.util import read_sidecar

    meta = read_sidecar(pending + ".meta.json")
    complete = os.path.exists(os.path.join(pending, "_SUCCESS"))
    if (
        not (os.path.exists(pending) and complete and meta)
        or meta.get("batch") != bid_key
        or meta.get("content") != content_fp
    ):
        _remove_any(pending)
        _remove_any(pending + ".meta.json")
        return None
    _land_fps(spark.read.parquet(pending), state_path, content_fp)
    return eager_checkpoint(spark.read.parquet(pending).select("id"))


@_serialized_on_store
def incremental_exact_dedup(
    spark: SparkSession,
    new_docs: DataFrame,
    state_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    batch_id: int | str | None = None,
) -> DataFrame:
    """Return the subset of ``new_docs`` not seen before (exact text
    dedup), and extend the fingerprint store with the survivors.

    Steps, one shuffle each:
    1. within-batch dedup — keep the lowest id per fingerprint
       (row_number window, deterministic);
    2. cross-history dedup — LEFT ANTI join against the store on the
       fingerprint key (at scale: the store is bucketed by fp so this
       is a shuffle-free merge per bucket);
    3. land the survivors' fingerprints as ONE atomically-renamed
       store file (never a torn multi-file append, r14 review).

    Delivery semantics depend on ``batch_id``:

    - ``batch_id=None`` (content-dedup mode): a resubmitted
      identical-content batch returns EMPTY — its fps are already in
      the store. At-most-once under crash replay: a crash after the
      (atomic) landing but before the caller consumed the survivors
      loses that delivery, the documented trade; a crash BEFORE the
      landing is fully safe (nothing landed, replay recomputes the
      identical survivors).
    - ``batch_id=<epoch id>`` (exactly-once mode — pass foreachBatch's
      ``batch_id``): survivors (fp, id) are staged under the batch id
      before the landing and retained until the NEXT batch, so a
      replay of the same batch id RE-EMITS the recorded survivors at
      every crash point (the bare anti-join would see the batch's own
      landed fps and silently emit nothing — permanent doc loss). A
      replayed id with CHANGED content (out of contract) is processed
      as a new batch; duplicate-content batches under NEW ids still
      dedup to empty.

    Input contract: ``id_col`` is unique per batch row. The final
    semi-join maps survivors back to full rows BY ID, so a malformed
    batch carrying one id with two DIFFERENT texts returns both rows
    whenever either text survives — ids are document identities here,
    not row numbers (same identity contract as the band and embedding
    stores' update rule).

    The survivor set is MATERIALIZED (eager checkpoint) before the
    append: the anti-join plan reads ``state_path``, so a lazy return
    value re-evaluated after the append (file-listing refresh, cache
    eviction, checkpoint loss) would anti-join the batch against its
    own just-appended fingerprints and come back empty. After materialization the returned frame is pinned to the
    pre-append snapshot regardless of when the caller collects it.
    """
    # the store's fingerprints are a function of the (normalize, hash)
    # scheme — probing a store written by a release with a different
    # scheme would treat every historical doc as unseen and silently
    # re-admit duplicates, so the scheme is stamped and enforced like
    # the band/embedding stores' bucket parameters
    # heal a compact_flat_store crash window first (no live dir but a
    # complete .old) — otherwise this ingest would see "no store" and
    # silently restart history from its own batch
    recover_layout(state_path)
    _check_store_meta(
        state_path,
        _FP_SCHEME,
        legacy_check=lambda: _legacy_fp_store_check(state_path),
    )
    fps = fingerprint_docs(new_docs, id_col, text_col)
    w = Window.partitionBy("fp").orderBy("id")
    # materialized ONCE: _batch_fingerprint's action and the
    # store anti-join below otherwise each re-run the full
    # normalize+hash pass and the row_number shuffle (r16 review)
    batch_unique = eager_checkpoint(
        fps.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    content_fp = _batch_fingerprint(batch_unique)
    pending = state_path + ".pending"
    if batch_id is not None:
        # Replay detection BEFORE the anti-join: a replayed batch
        # whose previous attempt staged (and possibly landed) its fps
        # would otherwise anti-join its own fingerprints and silently
        # emit nothing — permanent loss of those documents downstream.
        recorded = _recover_pending_batch(
            spark, state_path, pending, str(batch_id), content_fp
        )
        if recorded is not None:
            _record_store_meta(state_path, _FP_SCHEME)
            return new_docs.join(
                recorded.select(F.col("id").alias(id_col)),
                id_col,
                "left_semi",
            )
    if os.path.exists(state_path):
        seen = spark.read.parquet(state_path)
        fresh = batch_unique.join(seen, "fp", "left_anti")
    else:
        fresh = batch_unique
    fresh = eager_checkpoint(fresh)
    if batch_id is not None:
        # Stage (fp, id) + batch marker, THEN land the fps as one
        # atomic file. Meta is written only after the staging job
        # commits, so a torn staging has no marker and is discarded on
        # replay; the staging (with the survivor ids) is retained
        # until the NEXT batch arrives, so a replay at ANY later
        # crash point — including after the fps landed — re-emits the
        # same survivors instead of dropping them.
        from bigdata_flightanalysis_spark.util import stamp_sidecar

        _remove_any(pending + ".meta.json")
        _remove_any(pending)
        fresh.select("fp", "id").coalesce(1).write.mode("overwrite").parquet(
            pending
        )
        stamp_sidecar(
            pending + ".meta.json",
            {"batch": str(batch_id), "content": content_fp},
            overwrite=True,
        )
        _land_fps(spark.read.parquet(pending), state_path, content_fp)
    else:
        # content-dedup mode: no staging, but the landing is still the
        # single atomic rename — a crash can never leave a torn
        # multi-file append for the replay to anti-join against
        from bigdata_flightanalysis_spark.util import read_sidecar

        # Reclaim a TORN exactly-once staging (dir without a complete
        # marker + meta sidecar): guaranteed residue that only
        # _recover_pending_batch used to sweep, so a deployment that
        # crashed mid-staging and then switched to content mode leaked
        # a batch-sized dir forever (r16 review). A COMPLETE
        # pending+meta is NOT residue — it is the retained replay
        # record of a (possibly paused) exactly-once stream, and
        # sweeping it here would turn a later replay of that batch
        # into silent data loss.
        if os.path.exists(pending) and not (
            os.path.exists(os.path.join(pending, "_SUCCESS"))
            and read_sidecar(pending + ".meta.json")
        ):
            _remove_any(pending)
            _remove_any(pending + ".meta.json")
        _land_fps(fresh, state_path, content_fp)
    _record_store_meta(state_path, _FP_SCHEME)
    return new_docs.join(
        fresh.select(F.col("id").alias(id_col)), id_col, "left_semi"
    )


@_serialized_on_store
def incremental_near_dup_pairs(
    spark: SparkSession,
    new_docs: DataFrame,
    store_path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Near-dup candidates of a NEW ingest batch against the
    accumulated LSH band store, extending the store with the batch.

    The MinHash twin of :func:`incremental_exact_dedup`: history is
    represented by its (doc_id, band, bucket) band store (~10⁻⁴ of
    corpus bytes, the same relation `doc_near_dup_incremental` probes),
    so each batch pays one signature pass over ITS OWN text plus a
    (band, bucket) equi-join against the store — the historical corpus
    text is never rescanned. Returns distinct (doc_a, doc_b) candidate
    pairs involving at least one batch doc (batch-vs-history and
    batch-vs-batch).

    Replay safety: the batch's bands are materialized (eager
    checkpoint) BEFORE the append, pinning the returned pairs
    to the pre-append store snapshot; the append itself anti-joins the
    store first, so replaying a batch whose append committed neither
    duplicates store rows nor changes the emitted pair set (pairs are
    a pure function of batch bands × store bands, and self-pairs are
    excluded by id).
    """
    from bigdata_flightanalysis_spark.queries.text import (
        BAND_SIZE,
        N_PERM,
        _band_frame,
        _signatures_of,
    )
    from bigdata_flightanalysis_spark.functions.text import TOKENIZER_TAG

    # the store's buckets are a function of the signature scheme — a
    # band store from a different (n_perm, band_size) release would
    # probe on incomparable buckets and silently miss every pair
    # heal a compact_flat_store crash window first (see
    # incremental_exact_dedup)
    recover_layout(store_path)
    _check_store_meta(
        store_path,
        {
            "scheme": "minhash",
            "n_perm": N_PERM,
            "band_size": BAND_SIZE,
            # signatures are shingles of tokenize() output, so the
            # store layout is ALSO a function of the tokenizer
            # version (r16: v2 filters boundary empty tokens) —
            # probing a v1-built store with v2 signatures silently
            # misses whitespace-edged near-dups
            "tokenizer": TOKENIZER_TAG,
        },
        legacy_check=lambda: _legacy_band_store_check(
            store_path, N_PERM, BAND_SIZE
        ),
    )
    docs = new_docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    batch_bands = eager_checkpoint(_band_frame(_signatures_of(docs)))
    if os.path.exists(store_path):
        store = spark.read.parquet(store_path)
        probe = store.unionByName(batch_bands)
        # bucket is in the replay key, matching the embed twin: a
        # replayed doc carries identical buckets (appends nothing),
        # while an out-of-contract re-send of a doc_id with DIFFERENT
        # text lands as second rows in the new buckets — both versions
        # then participate in later probes — instead of being silently
        # dropped (which would miss every near-dup of the new text).
        # Updates still require rebuilding the store, as documented on
        # incremental_embed_near_dup_pairs.
        to_append = batch_bands.join(
            store, ["doc_id", "band", "bucket"], "left_anti"
        )
    else:
        probe = batch_bands
        to_append = batch_bands
    a, b = batch_bands.alias("a"), probe.alias("b")
    pairs = eager_checkpoint(
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.least("a.doc_id", "b.doc_id").alias("doc_a"),
            F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
        )
        .distinct()
    )
    to_append.write.mode("append").parquet(store_path)
    _record_store_meta(
        store_path,
        {
            "scheme": "minhash",
            "n_perm": N_PERM,
            "band_size": BAND_SIZE,
            # signatures are shingles of tokenize() output, so the
            # store layout is ALSO a function of the tokenizer
            # version (r16: v2 filters boundary empty tokens) —
            # probing a v1-built store with v2 signatures silently
            # misses whitespace-edged near-dups
            "tokenizer": TOKENIZER_TAG,
        },
    )
    return pairs


@_serialized_on_store
def incremental_embed_near_dup_pairs(
    spark: SparkSession,
    new_vectors: DataFrame,
    store_path: str,
    *,
    id_col: str = "vec_id",
    emb_col: str = "embedding",
    n_planes: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs of a NEW vector batch against the
    accumulated bucket store, extending the store with the batch — the
    ANN twin of :func:`incremental_near_dup_pairs` and the maintained-
    store form of the registry's ``embed_near_dup_incremental``.

    The store holds (vec_id, bucket, e, nrm): unlike the MinHash band
    store, the exact-cosine confirm needs the historical VECTORS, so
    the store is the embedding relation laid out by bucket — at scale
    partitioned on bucket, so a batch's probe scan touches only its
    buckets (partition pruning), never the whole history. Each batch
    pays one bucketing pass over ITS OWN vectors plus the bucket
    equi-join. Returns distinct (vec_a, vec_b, cosine) pairs with
    cosine ≥ NEAR_DUP_TAU involving at least one batch vector.

    Replay safety mirrors the MinHash form: the batch's bucketed rows
    are materialized before the append (pairs pinned to the pre-append
    snapshot), and the append anti-joins the store on (vec_id, bucket)
    — bucket is in the key so the anti-join partition-prunes to the
    batch's buckets, and a replayed vec_id carries the identical
    embedding hence the identical bucket — so a crash-replayed batch
    neither duplicates store rows nor changes the emitted pair set.

    The store is APPEND-ONLY keyed by vector identity: re-sending a
    vec_id with a DIFFERENT embedding is an update, which no append
    key-choice can honor (the old row stays in the store either way)
    — it lands as a second row in the new embedding's bucket, and
    both versions then participate in later probes. Updates require
    rebuilding the store, the same contract as the fingerprint and
    band stores.

    ``n_planes`` (default: the registry's NEAR_DUP_PLANES) is the same
    bucket-granularity scale lever as ``embed_near_dup_pairs``: a
    store of n vectors wants roughly log2(n / target_bucket_size)
    planes or the probe join's buckets run hot. The store is bound to
    one granularity — changing n_planes requires rebucketing (one pass
    over the store's vectors), the usual index-rebuild trade-off. The
    granularity is RECORDED in the store (``_store_meta.json``, an
    underscore-prefixed sidecar Spark's parquet reader ignores) and
    ENFORCED: probing with a different ``n_planes`` raises ValueError
    instead of silently missing every cross-granularity pair.
    """
    from bigdata_flightanalysis_spark.functions.vector import l2_norm
    from bigdata_flightanalysis_spark.queries.similarity import (
        NEAR_DUP_PLANES,
        NEAR_DUP_TAU,
        _pair_cosine,
        _spark_bucket,
    )

    if n_planes is None:
        n_planes = NEAR_DUP_PLANES
    recover_layout(store_path)
    _check_store_granularity(store_path, n_planes)
    batch = eager_checkpoint(
        new_vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).cast("array<double>").alias("e"),
            l2_norm(F.col(emb_col)).alias("nrm"),
            _spark_bucket(F.col(emb_col), n_planes).alias("bucket"),
        )
    )
    if os.path.exists(store_path):
        store = spark.read.parquet(store_path)
        probe = store.unionByName(batch)
        # bucket joins the replay anti-join's key: a replayed vec_id
        # carries the identical embedding, hence the identical bucket
        # (rebucket_embed_store rewrites store AND enforces the new
        # n_planes on later batches, so granularity can't diverge) —
        # and with the partition column in the equi-key this leg can
        # partition-prune to the batch's buckets instead of scanning
        # every bucket's vec_ids
        # materialized: the isEmpty() gate below and the append write
        # otherwise each run the store-probe anti-join (r16 review —
        # the flat-store paths already pay it once)
        to_append = eager_checkpoint(
            batch.join(store, ["vec_id", "bucket"], "left_anti")
        )
    else:
        # batch is already checkpointed: isEmpty/write re-read blocks
        probe = batch
        to_append = batch
    a, b = batch.alias("a"), probe.alias("b")
    pairs = eager_checkpoint(
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.least("a.vec_id", "b.vec_id").alias("vec_a"),
            F.greatest("a.vec_id", "b.vec_id").alias("vec_b"),
            _pair_cosine("a", "b").alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_TAU)
        .distinct()
    )
    # The store is LAID OUT by bucket (hive-partitioned directories):
    # the probe equi-joins on the partition column, so dynamic
    # partition pruning can skip every bucket the batch doesn't touch
    # — the disk-level realization of the "probe touches only the
    # batch's buckets" contract in the docstring. Repartition on the
    # partition column first: without it every input task writes a
    # file per bucket it sees (tasks × buckets small files per batch,
    # and the store's file listing grows superlinearly — measured as
    # +10%/batch ingest drift at 4 batches); with it each non-empty
    # bucket gets exactly ONE file per batch, and write parallelism
    # is the bucket count (the n_planes granularity knob).
    # An EMPTY append to a hive-partitioned path writes a dir holding
    # only _SUCCESS (no schema-bearing data file, unlike flat writes),
    # and every later read of that store dies with UNABLE_TO_INFER_SCHEMA
    # — an empty FIRST batch would permanently brick the store
    # (reproduced; regression-tested). Skip the write instead; the
    # granularity stamp only applies once the store dir exists.
    if not to_append.isEmpty():
        to_append.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(store_path)
    if os.path.exists(store_path):
        _record_store_granularity(store_path, n_planes)
    return pairs


def _meta_path(store_path: str) -> str:
    # Underscore-prefixed so Spark's parquet file listing skips it
    # (same convention as _SUCCESS); lives INSIDE the store dir so the
    # store stays one self-describing unit.
    return os.path.join(store_path, "_store_meta.json")


def _check_store_meta(store_path, meta, legacy_check=None) -> None:
    """Raise if an existing store was built with different parameters
    than this call is applying — a mismatched probe joins on keys
    derived from a different scheme and silently MISSES pairs rather
    than erroring (``util.check_sidecar``, strict comparison: the
    store layout is a pure function of EVERY parameter).

    Legacy policy: a store with no sidecar (pre-round-8) is accepted
    and stamped on the next append — but only after ``legacy_check``
    (when given) vets its on-disk layout structurally. Without that
    vet, a legacy store actually built under different parameters
    would take this call's append (mixing granularities in the data)
    and then be permanently certified with the WRONG stamp, defeating
    every future mismatch detection."""
    from bigdata_flightanalysis_spark.util import check_sidecar

    if not os.path.exists(store_path):
        return
    check_sidecar(
        _meta_path(store_path), meta, what="store", legacy_check=legacy_check
    )


def _record_store_meta(store_path: str, meta: dict) -> None:
    from bigdata_flightanalysis_spark.util import stamp_sidecar

    # overwrite=False: the FIRST stamp is authoritative, appends never
    # re-stamp (rebucket_embed_store re-stamps via its staging dir)
    stamp_sidecar(_meta_path(store_path), meta)


# --- legacy (unstamped-store) structural vets -------------------------
# Footer-stats / dirlist probes only — no data scan, no SparkSession —
# and they run at most once per store: after the first vetted append
# the store is stamped and the sidecar comparison takes over. Each
# returns an error string (reject the store) or None (accept + stamp).
# Best-effort by construction: a legacy store built at a STRICTLY
# COARSER granularity emits only values the finer scheme also allows,
# which no structural probe can distinguish — the stamp exists because
# vetting can't be complete.


def _legacy_fp_store_check(state_path: str) -> str | None:
    from bigdata_flightanalysis_spark.util import parquet_stat_bounds

    lo, hi = parquet_stat_bounds(state_path, "fp")
    if lo is not None and (lo < 0 or hi >= 1 << 60):
        return (
            f"fingerprint range [{lo}, {hi}] outside the 60-bit md5 "
            f"scheme ({_FP_SCHEME['fp']})"
        )
    return None


def _legacy_band_store_check(store_path: str, n_perm: int, band_size: int) -> str | None:
    from bigdata_flightanalysis_spark.util import parquet_stat_bounds

    lo, hi = parquet_stat_bounds(store_path, "band")
    if lo is not None and (lo < 0 or hi >= n_perm // band_size):
        return (
            f"band ids span [{lo}, {hi}], outside this release's "
            f"scheme (n_perm={n_perm}, band_size={band_size} → "
            f"{n_perm // band_size} bands)"
        )
    return None


def _legacy_embed_store_check(store_path: str, n_planes: int) -> str | None:
    entries = os.listdir(store_path)
    buckets = [
        int(d.split("=", 1)[1])
        for d in entries
        if d.startswith("bucket=")
    ]
    if buckets and (min(buckets) < 0 or max(buckets) >= 1 << n_planes):
        return (
            f"bucket dirs span [{min(buckets)}, {max(buckets)}], "
            f"outside n_planes={n_planes} (< {1 << n_planes} required)"
        )
    if any(e.endswith(".parquet") for e in entries):
        # root-level data files = a FLAT layout (bucket as a data
        # column, the query-side near-dup form) — appending
        # hive-partitioned dirs into it would leave a mixed layout
        # that breaks partition discovery on every later read
        return (
            "flat layout (root-level parquet files, no bucket= "
            "partition dirs) — rebuild via rebucket_embed_store "
            "before incremental ingest"
        )
    return None


def _check_store_granularity(store_path: str, n_planes: int) -> None:
    _check_store_meta(
        store_path,
        {"n_planes": n_planes},
        legacy_check=lambda: _legacy_embed_store_check(store_path, n_planes),
    )


def _record_store_granularity(store_path: str, n_planes: int) -> None:
    _record_store_meta(store_path, {"n_planes": n_planes})


@_serialized_on_store
def rebucket_embed_store(
    spark: SparkSession, store_path: str, n_planes: int
) -> None:
    """Change the store's LSH granularity — the index rebuild
    :func:`_check_store_granularity`'s error message points to: ONE
    pass over the stored vectors recomputes every bucket at the new
    plane count (float→double casting is exact, so buckets equal what
    a from-scratch ingest at this granularity assigns), rewrites the
    store hive-partitioned on the new bucket, and records the new
    granularity. The staging dir is published with
    :func:`util.swap_layout` and healed by :func:`util.recover_layout`,
    so a crash at any point leaves a usable store at ONE consistent
    granularity."""
    from bigdata_flightanalysis_spark.queries.similarity import _spark_bucket
    from bigdata_flightanalysis_spark.util import stamp_sidecar

    # the heal also clears an orphaned .staging (we hold the lock)
    recover_layout(store_path)
    staging = store_path + ".staging"
    store = spark.read.parquet(store_path)
    (
        store.drop("bucket")
        .withColumn("bucket", _spark_bucket(F.col("e"), n_planes))
        .repartition("bucket")
        .write.partitionBy("bucket")
        .parquet(staging)
    )
    stamp_sidecar(
        os.path.join(staging, "_store_meta.json"),
        {"n_planes": n_planes},
        overwrite=True,
    )
    swap_layout(staging, store_path)


@_serialized_on_store
def compact_embed_store(spark: SparkSession, store_path: str) -> None:
    """File-count compaction for the maintained embedding store: each
    ingest appends ONE file per touched bucket
    (:func:`incremental_embed_near_dup_pairs`'s repartition-then-append),
    so a long refresh stream grows the store's file listing — and every
    later probe's listing cost — without bound: the exact condition
    ``compact_text_index`` fixes for the BM25 postings. Compaction is a
    rebucket at the RECORDED granularity: one pass over the stored
    vectors rewrites every bucket to a single file via the same
    staging + two-rename ``.old`` crash recovery, with bucket
    assignments (hence all future pair sets) unchanged. An unstamped
    legacy store has no recorded granularity to preserve — rebucket it
    explicitly instead."""
    from bigdata_flightanalysis_spark.util import read_sidecar

    recover_layout(store_path)
    n_planes = read_sidecar(_meta_path(store_path)).get("n_planes")
    if n_planes is None:
        # distinguish the two unstamped cases structurally: a legacy
        # embed store HAS bucket= hive dirs (rebucket is the right
        # advice), while a flat band/fingerprint store does not — for
        # those, following the rebucket advice dies on a missing 'e'
        # column; point at compact_flat_store instead (r16 review)
        bucketed = os.path.isdir(store_path) and any(
            d.startswith("bucket=") for d in os.listdir(store_path)
        )
        if bucketed:
            raise ValueError(
                f"store at {store_path} has no recorded granularity to "
                "compact at — run rebucket_embed_store(spark, store_path, "
                "n_planes) with the granularity it was built at"
            )
        raise ValueError(
            f"store at {store_path} has no n_planes stamp and no "
            "bucket= partition layout — this is a flat store; use "
            "compact_flat_store, which compacts by bytes"
        )
    rebucket_embed_store(spark, store_path, int(n_planes))


@_serialized_on_store
def compact_flat_store(spark: SparkSession, store_path: str) -> None:
    """File-count compaction for the flat append-only stores (the
    MinHash band store and the exact-dedup fingerprint store): each
    ingest batch appends its own file set, so a long ingest stream
    grows the listing unboundedly. Rewrites the store sized by BYTES
    — one output file per ~128 MB, the parquet sweet spot — so the
    file count is a function of data volume, not of ingest history or
    session parallelism; duplicate rows two RACING ingests can both
    admit (their anti-joins each saw the other's rows as absent —
    harmless to probe semantics, they only cost bytes) are dropped.
    Probe results are identical before and after (asserted in tests).
    Same :func:`util.swap_layout` publish as every other store
    rewrite; :func:`util.recover_layout` heals a crash between the
    renames on the next ingest."""
    import math

    recover_layout(store_path)
    from bigdata_flightanalysis_spark.util import read_sidecar as _rs

    if _rs(_meta_path(store_path)).get("n_planes") is not None:
        # the n_planes stamp marks a bucket-PARTITIONED embed store: a
        # flat rewrite here would demote bucket to a data column while
        # keeping the stamp valid, and the next partitioned ingest
        # append would leave a mixed layout that breaks every later
        # read — point at the partition-preserving compactor instead
        raise ValueError(
            f"{store_path} is a bucket-partitioned embedding store "
            "(n_planes stamped) — use compact_embed_store, which "
            "preserves the partition layout"
        )
    total_bytes = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _d, files in os.walk(store_path)
        for f in files
        if f.endswith(".parquet")
    )
    n_files = max(1, math.ceil(total_bytes / (128 << 20)))
    meta = None
    sidecar = _meta_path(store_path)
    if os.path.exists(sidecar):
        from bigdata_flightanalysis_spark.util import read_sidecar

        meta = read_sidecar(sidecar)
    staging = store_path + ".staging"
    (
        spark.read.parquet(store_path)
        .dropDuplicates()
        .repartition(n_files)
        .write.parquet(staging)
    )
    if meta is not None:
        from bigdata_flightanalysis_spark.util import stamp_sidecar

        stamp_sidecar(
            os.path.join(staging, "_store_meta.json"), meta, overwrite=True
        )
    swap_layout(staging, store_path)


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (the materialized-view counterpart
# of the dedup stores above): keep ONE mergeable state row per key and
# fold each new batch in with an associative/commutative ⊕ — the
# history's raw rows are never rescanned.
# ---------------------------------------------------------------------------


def partial_aggregate(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable per-key aggregate state: (keys…, n, sum_dec, mn, mx).

    The sum accumulates in DECIMAL(38,6) so merging is EXACT and
    order-independent (double partials would make the final sum depend
    on batch arrival order); the double cast happens once, in
    :func:`finalize_aggregate`.

    ``n`` is a ROW count (``COUNT(*)``), not a non-null value count —
    so :func:`finalize_aggregate`'s ``avg_value = sum/n`` divides the
    null-skipping sum by ALL rows, which differs from SQL ``AVG`` when
    ``value_col`` has NULLs. This is the semantics the driver-checked
    oracle pins (``events_incremental_agg_merge``: ``COUNT(*)`` and
    ``SUM/COUNT(*)``); pass a pre-filtered frame if NULL-skipping
    averages are wanted.
    """
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col(value_col).cast("decimal(38,6)")).alias("sum_dec"),
        F.min(value_col).alias("mn"),
        F.max(value_col).alias("mx"),
    )


def merge_aggregate_state(state: DataFrame, batch: DataFrame, keys: list[str]) -> DataFrame:
    """state ⊕ batch: union the two partial frames and re-reduce.

    ⊕ is associative and commutative (counts add, exact decimals add,
    min/max re-reduce), so ANY sequence of merges over any batch
    split reaches the identical state — asserted in tests. NOT
    idempotent by itself: replaying a batch double-counts; exactly-once
    comes from the caller's batch-id tracking (see
    ``cdc_upsert_foreach_batch`` / streaming checkpoints), the same
    division of labor as every mergeable-state system.
    """
    return (
        state.unionByName(batch)
        .groupBy(*keys)
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            # sum(DECIMAL(38,6)) stays DECIMAL(38,6) — the state schema
            # is stable under arbitrarily many merges
            F.sum("sum_dec").alias("sum_dec"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )


def finalize_aggregate(state: DataFrame, keys: list[str]) -> DataFrame:
    """Serve-side view of the state: the one place decimals become
    doubles (sum, avg) — so every served number is independent of how
    many increments built the state."""
    return state.select(
        *keys,
        F.col("n").alias("n_rows"),
        F.col("sum_dec").cast("double").alias("sum_value"),
        (F.col("sum_dec").cast("double") / F.col("n")).alias("avg_value"),
        F.col("mn").alias("min_value"),
        F.col("mx").alias("max_value"),
    )
