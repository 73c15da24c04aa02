"""Structured Streaming twins of the batch event-time queries
(``queries/events.py``), over the same events parquet.

Shapes, not toys: each operator is the production streaming form —
event-time windows under a watermark, watermark-scoped dedup, and an
``applyInPandasWithState`` custom stateful aggregator. Tests drive
them with ``Trigger.AvailableNow`` against a memory sink and assert
the result equals the oracle-checked batch query, which is the
strongest equivalence statement a bounded replay can make.

At scale the same code runs against a Kafka/file-drop source by
swapping ``stream_events``; everything downstream is source-agnostic.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from bigdata_flightanalysis_spark.operators.checkpointing import eager_checkpoint
from bigdata_flightanalysis_spark.util import path_lock, recover_layout, swap_layout

_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"

#: Events schema with ``ts`` as raw int64 epoch-nanoseconds — the
#: shape synthetic replay fixtures write (pyarrow int64 columns) and
#: older Sparks surface for TIMESTAMP(NANOS) under ``nanosAsLong``.
#: Real files should use ``events_stream_schema`` (probed) instead;
#: either way ``sources.readers.normalize_event_ts`` converts to the
#: contract TIMESTAMP type.
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Schema the FILE SOURCE must declare (streaming reads cannot
    infer). Probed from a batch scan of the same file rather than
    hard-coded, so the declared type of ``ts`` always matches what the
    installed Spark surfaces for the parquet column (int64 under
    ``nanosAsLong`` on older Sparks, TIMESTAMP_NTZ on 4.x) — a
    hard-coded LongType against an NTZ file silently reads garbage.
    The probe is footer-only metadata, no data scan. The legacy
    ``nanosAsLong`` flag is set only when the probe FAILS on a
    TIMESTAMP(NANOS) footer (same failure-gated policy as
    ``sources.readers._read_events``) — setting it unconditionally
    leaked the flag into every later parquet read on the session."""
    from bigdata_flightanalysis_spark.sources.readers import (
        read_parquet_nanos_gated,
    )

    # the shared failure-gated probe (sources.readers) — one gate
    # condition for the batch reader and this schema probe
    return read_parquet_nanos_gated(spark, f"{sf_dir}/events.parquet").schema


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream of the events table (one file = one replay).

    ``ts`` goes through the same dtype-guarded normalization as the
    batch reader (``sources.readers.normalize_event_ts``) so stream
    and batch see identical timestamps.
    """
    from bigdata_flightanalysis_spark.sources.readers import normalize_event_ts

    schema = events_stream_schema(spark, sf_dir)
    # The file source requires a DIRECTORY (it tails new files in it);
    # the testdata dir mixes all ten tables, so stage a dir containing
    # just the events file (symlink — no data copy).
    stage = tempfile.mkdtemp(prefix="events_stream_")
    # the stage must outlive the (lazy) stream, so defer cleanup to
    # interpreter exit — it holds one symlink, never data
    atexit.register(shutil.rmtree, stage, ignore_errors=True)
    # absolute target: a relative sf_dir would make the link resolve
    # relative to the /tmp stage dir and dangle
    os.symlink(
        os.path.abspath(f"{sf_dir}/events.parquet"),
        f"{stage}/events.parquet",
    )
    raw = spark.readStream.schema(schema).parquet(stage)
    return normalize_event_ts(raw)


def streaming_tumbling_hourly(events: DataFrame) -> DataFrame:
    """Tumbling 1-hour window counts/sums under a 1-hour watermark —
    streaming twin of ``events_tumbling_hourly``."""
    from bigdata_flightanalysis_spark.functions.scalar import dsum

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def streaming_sliding_hourly(events: DataFrame) -> DataFrame:
    """Sliding window (1 hour size, 30 min slide) under a watermark —
    streaming twin of ``events_sliding_hourly``; each event lands in
    exactly two windows."""
    from bigdata_flightanalysis_spark.functions.scalar import dsum

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


def streaming_session_windows(events: DataFrame) -> DataFrame:
    """Per-user session windows (30-minute gap) — streaming twin of
    ``events_session_windows``."""
    from bigdata_flightanalysis_spark.functions.scalar import dsum

    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), dsum("value", "sum_value"))
        .select(
            "user_id",
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("session_start"),
            F.date_format(F.col("w.end"), _TS_FMT_SPARK).alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def streaming_unique_first_events(events: DataFrame) -> DataFrame:
    """First event per (user_id, event_type) with state expiry —
    ``dropDuplicatesWithinWatermark``, the streaming dedup form whose
    state store stays bounded by the watermark horizon.

    CONTRACT (r15 review): this keeps the first-ARRIVED row per key —
    the only semantics the operator offers in append mode (a keyed
    min-by aggregate has no window for the watermark to close, so it
    cannot emit in append mode). It equals the batch twin
    ``events_dedup_first_per_user_type`` (earliest (ts, event_id) per
    key) only when rows arrive in event-time order — true for the
    bounded single-file replay the tests run (asserted there), NOT
    guaranteed for a multi-partition source at scale. A production
    exactly-first pipeline should treat this as the dedup PRE-pass and
    resolve ties downstream (e.g. the batch twin over the deduped
    landing), or run the twin as a periodic batch reconciliation."""
    return (
        events.withWatermark("ts", "2 hours")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", _TS_FMT_SPARK).alias("first_ts"),
        )
    )


def streaming_sliding_distinct_users(events: DataFrame) -> DataFrame:
    """Distinct users per sliding window (1 h size, 30 min slide) over
    first-per-(user,type) deduped events — streaming twin of
    ``events_sliding_distinct_users``, built as a CHAIN of stateful
    operators (supported in append mode since Spark 3.4):

      dropDuplicatesWithinWatermark(user,type)
        → sliding-window (window, user) aggregate  (per-window user dedup)
        → aggregate grouped ON the window column    (count users per window)

    Distinct aggregation isn't allowed on streams, so exact
    distinct-users is the two-level form: first collapse to one row per
    (window, user), then count rows per window — the second level
    groups directly on the time-window column emitted by the first
    (the chained-aggregation form; a mid-chain ``withWatermark`` on a
    derived column is disallowed with multiple stateful operators, the
    watermark propagates through instead). State at every level is
    watermark-bounded.
    """
    deduped = events.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    per_user = deduped.groupBy(
        F.window("ts", "1 hour", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_rows"))
    return (
        per_user.groupBy("w")
        .agg(F.count("*").alias("n_users"))
        .select(
            F.date_format(F.col("w.start"), _TS_FMT_SPARK).alias("window_start"),
            "n_users",
        )
    )


_USER_STATS_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
        T.StructField("mx", T.DoubleType()),
    ]
)


def _fold_user_stats(n, total, mx, pdfs):
    """Accumulate (n, total, mx) over a batch of pandas frames — the
    ONE fold both stateful user-stats operators share (r16 review: the
    legacy applyInPandasWithState form and the transformWithState twin
    carried verbatim copies; the two are migration-gate-asserted equal
    to the same batch aggregate, so their NULL semantics must never
    drift).

    NULL semantics must match the batch aggregates: F.sum / F.max
    ignore NULLs and return NULL when every value is NULL. pandas
    renders NULL as NaN, and an unguarded .max() over an all-NaN
    column returns NaN (not None) — which then STICKS through every
    later max() — while sum() returns 0.0 where the batch twin
    returns NULL."""
    for pdf in pdfs:
        n += len(pdf)
        vals = pdf["value"].dropna()
        if len(vals):
            s = float(vals.sum())
            total = s if total is None else total + s
            bm = float(vals.max())
            mx = bm if mx is None else max(mx, bm)
    return n, total, mx


def streaming_user_stats_stateful(events: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): running
    per-user count / sum / max maintained in a typed state store,
    emitted as update rows each micro-batch. The pattern slot for any
    bespoke accumulator Spark's built-ins can't express."""

    def update(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterable[pd.DataFrame]:
        n, total, mx = state.get if state.exists else (0, None, None)
        n, total, mx = _fold_user_stats(n, total, mx, pdfs)
        state.update((n, total, mx))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "max_value": [mx],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=_USER_STATS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_purchase_click_join(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Stream-stream inner join: each purchase joined to the same
    user's clicks in the preceding hour. Both sides carry watermarks so
    the join state is bounded — Spark retains click state only long
    enough for a matching purchase to still arrive (the time-range
    condition defines the horizon).

    Streaming twin of the batch bucketed range join
    (``events_range_join_error_context`` shape): same pairs, incremental
    state instead of a bucket equi-join.
    """
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    ).withWatermark("p_ts", "1 hour")
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("c_ts"),
    ).withWatermark("c_ts", "2 hours")
    joined = p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    )
    return joined.select(
        "purchase_id",
        F.col("p_user").alias("user_id"),
        "click_id",
        (F.unix_micros(F.col("p_ts")) - F.unix_micros(F.col("c_ts"))).alias(
            "lead_us"
        ),
    )


def run_to_memory(
    stream: DataFrame, spark: SparkSession, *, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to completion (AvailableNow) into a
    memory sink; return the sink's contents as a batch DataFrame."""
    name = f"sink_{uuid.uuid4().hex[:12]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    q.stop()
    # snapshot the (now-static) sink contents and drop the memory
    # table: the query is stopped so the view can only ever hold this
    # data, and leaving one uuid-named in-memory table per call leaks
    # driver memory for the session's lifetime (bench loops, long test
    # sessions). The returned DataFrame reads an eager checkpoint of
    # the data instead.
    out = eager_checkpoint(spark.table(name))
    spark.catalog.dropTempView(name)
    return out


def streaming_enrich_with_dim(
    stream: DataFrame,
    dim: DataFrame,
    *,
    stream_key: str = "user_id",
    dim_key: str = "c_custkey",
) -> DataFrame:
    """Stream-static join: enrich each micro-batch with a batch
    dimension table. The static side needs no watermark and keeps no
    state — Spark re-plans it per micro-batch (so a dim refresh is
    picked up on the next trigger). Broadcast: the dim ships to
    executors once per batch instead of shuffling the stream.

    LEFT join so stream rows never block on dim completeness — the
    production posture for enrichment (drop-on-miss loses events).
    """
    return stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], "left"
    )


def upsert_foreach_batch(path: str, key_cols: list[str]):
    """``foreachBatch`` sink: idempotent keyed upsert into a parquet
    state directory — the exactly-once pattern for sinks without
    transactional MERGE.

    Each call merges the micro-batch into the current state keeping the
    highest ``_v`` (ingest version = batch id) per key, writes the new
    state to a staging dir, and atomically renames it in. Replaying a
    batch after a crash-restart converges to the same state (same keys,
    same version → same winner; intra-version ties content-hash-broken,
    so the winner is a pure function of the data), which together with
    the checkpoint's batch-id tracking gives end-to-end exactly-once.

    Lineage contract: ``_v`` IS the checkpoint's batch id, so the
    state dir is bound to ONE checkpoint lineage. Re-attaching with a
    fresh (or anonymous, ``checkpoint_dir=None``) checkpoint against
    EXISTING state restarts batch ids at 0 and the old state's higher
    ``_v`` out-wins every new row until the ids catch up — pair a
    durable ``checkpoint_dir`` with a durable state path, or reset the
    state (``rmtree``, the defined reset) together with the
    checkpoint.

    The directory rename is atomic on POSIX and HDFS; object stores
    (S3/GCS) need a table format (Delta/Iceberg/Hudi) for the same
    guarantee — this sink is the format-free equivalent for
    filesystem-backed state.
    """
    from pyspark.sql.window import Window

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # The read-merge-swap must be one critical section: state-dir
        # MAINTENANCE (cdc_compact_tombstones, fsck) swapping between
        # this read and this swap would have ITS rewrite rmtree'd away
        # — or worse, this batch's rows lost to the maintenance swap
        # while the checkpoint still records the batch as committed.
        # Same per-path lock (RLock + same-host flock) as the dedup
        # stores and the BM25 index.
        reserved = {"_v", "_rn"} & set(batch_df.columns)
        if reserved:
            # withColumn would silently REPLACE caller data with batch
            # ids/ranks and the post-merge drop would delete it (r16
            # review — the deduplicate_exact/zorder reserved-name rule)
            raise ValueError(
                f"upsert sink reserves columns {sorted(reserved)}"
            )
        with path_lock(path):
            # heal BEFORE the contract check and the read: with only
            # .old left by a swap crash, the batch would read as a
            # reset and rebuild state from its own rows alone; replay
            # idempotence converges the rolled-back batch instead
            recover_layout(path)
            _check_state_contract(
                path, {"sink": "upsert", "key_cols": key_cols}
            )
            new = batch_df.withColumn("_v", F.lit(batch_id).cast("long"))
            if os.path.exists(path):
                new = new.unionByName(spark.read.parquet(path))
            # content-hash tie-break: two rows for one key in one
            # micro-batch share _v, and row_number over a tied order
            # picks by partition order — nondeterministic across
            # replays, so a crash-replayed batch could converge to a
            # DIFFERENT state than the first attempt. The hash is a
            # pure function of row content, so the winner is too.
            content = F.xxhash64(*[F.col(c) for c in batch_df.columns])
            w = Window.partitionBy(*key_cols).orderBy(
                F.col("_v").desc(), content.desc()
            )
            merged = (
                new.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            _swap_state_dir(merged, path)

    return _apply


def _check_state_contract(path: str, contract: dict) -> None:
    """The state dir is bound to the sink parameters that shaped it
    (key columns; for CDC also changelog order and tombstone marker):
    re-attaching a sink with different parameters would merge with the
    wrong window partitioning and silently corrupt the state. The
    contract is recorded in a sidecar NEXT to the dir (``.contract
    .json`` — outside it, so the staging-dir swap never clobbers it)
    on first use and enforced on every re-attach. Same defect class
    and cure as the embedding store's n_planes and the BM25 index's
    bucket modulus.

    ``rmtree(state_path)`` is the defined reset everywhere in this
    codebase — but the sidecar lives NEXT to the dir and survives it,
    so a reset + re-attach with different parameters must re-stamp,
    not raise against state that no longer exists. Callers run
    :func:`util.recover_layout` first: a crash between the swap
    renames leaves only ``.old``, and reading that as "no state"
    would let a wrong-keyed sink stamp a new contract and then merge
    the recovered history on the wrong keys.

    Comparison is over the NORMALIZED contract (:func:`_normalize_
    contract`): ``key_cols`` compare as a sorted list — partitioning
    is a set operation, so the same keys in a different order (or as
    a tuple, which the JSON round-trip would render as a list) are
    the same contract; ``order_cols`` keep their order — changelog
    ordering semantics DO depend on it."""
    contract = _normalize_contract(contract)
    sidecar = path + ".contract.json"
    if not os.path.exists(path):
        if os.path.exists(sidecar):
            os.remove(sidecar)
    from bigdata_flightanalysis_spark.util import read_sidecar, stamp_sidecar

    recorded = _normalize_contract(read_sidecar(sidecar)) if os.path.exists(sidecar) else None
    if recorded is not None:
        if recorded != contract:
            raise ValueError(
                f"state dir {path} was written with sink contract "
                f"{recorded}; re-attaching with {contract} would merge "
                "on the wrong keys/order — use a new state path or "
                "rebuild the state"
            )
    else:
        # atomic: a crash mid-write must leave the sidecar absent
        # (stamped on next attach), never truncated
        stamp_sidecar(sidecar, contract)


def _normalize_contract(contract: dict) -> dict:
    """Canonical form for contract comparison: sequences become lists
    (what the JSON round-trip yields anyway), and ``key_cols`` is
    SORTED — key order doesn't change the merge's partitioning, so a
    re-attach with the same keys permuted must not be rejected. Every
    other sequence (``order_cols``) keeps its order: the changelog
    winner depends on it."""
    out = {}
    for k, v in contract.items():
        if isinstance(v, (list, tuple)):
            v = sorted(v) if k == "key_cols" else list(v)
        out[k] = v
    return out


def _swap_state_dir(merged: DataFrame, path: str) -> None:
    """Write ``merged`` to ``path.staging`` and publish it with
    :func:`util.swap_layout`; every reader heals first with
    :func:`util.recover_layout`. Object stores need a table format
    (Delta/Iceberg/Hudi) for the same guarantee."""
    staging = path + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    swap_layout(staging, path)


def run_foreach_batch(
    stream: DataFrame,
    sink_fn,
    *,
    checkpoint_dir: str | None = None,
    output_mode: str = "update",
) -> None:
    """Drive a streaming frame through a ``foreachBatch`` sink to
    completion (AvailableNow).

    Pass ``checkpoint_dir`` to make the run resumable (crash-replay
    tests do); without it an anonymous temp checkpoint is used and
    removed afterwards — the caller never learns its path, so it can
    never be resumed and keeping it would only leak a dir per run.
    """
    checkpoint = checkpoint_dir or tempfile.mkdtemp(prefix="fb_ckpt_")
    try:
        q = (
            stream.writeStream.foreachBatch(sink_fn)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        q.stop()
    finally:
        if checkpoint_dir is None:
            shutil.rmtree(checkpoint, ignore_errors=True)


def cdc_upsert_foreach_batch(
    path: str,
    key_cols: list[str],
    *,
    order_cols: list[str],
    tombstone_col: str,
    tombstone_value: str,
):
    """``foreachBatch`` CDC sink: latest-wins upsert WITH tombstones —
    the streaming twin of the ``events_cdc_latest_state`` batch query.

    Differences from :func:`upsert_foreach_batch`:

    - the winner per key follows the CHANGELOG order (``order_cols``,
      e.g. ``["ts", "event_id"]``, batch id as final tie-break), not
      ingest order — so out-of-order and replayed micro-batches
      converge to the same state;
    - tombstone rows (``tombstone_col == tombstone_value``) are
      RETAINED in the state rather than dropped at merge time: a
      retained tombstone keeps out-winning any late-arriving older
      upsert for the same key (dropping it would let stale changes
      resurrect deleted keys). Readers take the live view through
      :func:`cdc_snapshot`, which filters tombstones out;
      :func:`cdc_compact_tombstones` is the retention-window GC that
      finally drops tombstones older than the max expected lateness.

    Same atomic staging-dir swap and replay idempotence as the plain
    upsert sink.
    """
    from pyspark.sql.window import Window

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Same critical section as the upsert sink: racing state
        # maintenance must not interleave with the read-merge-swap.
        # The contract check belongs INSIDE it too — it mutates disk
        # (stamps on first attach, deletes a stale sidecar on reset
        # detection) and probes state-dir existence, so outside the
        # lock it could race fsck, compaction, or another first-
        # attaching sink.
        reserved = {"_v", "_rn"} & set(batch_df.columns)
        if reserved:
            # same reserved-name rule as the plain upsert sink
            raise ValueError(
                f"cdc_upsert sink reserves columns {sorted(reserved)}"
            )
        with path_lock(path):
            recover_layout(path)
            _check_state_contract(
                path,
                {
                    "sink": "cdc_upsert",
                    "key_cols": key_cols,
                    "order_cols": order_cols,
                    "tombstone_col": tombstone_col,
                    "tombstone_value": tombstone_value,
                },
            )
            new = batch_df.withColumn("_v", F.lit(batch_id).cast("long"))
            if os.path.exists(path):
                new = new.unionByName(spark.read.parquet(path))
            # content hash as the FINAL tie-break (after order_cols and
            # _v) — same replay-convergence reasoning as the plain
            # upsert sink: ties must not be broken by partition order
            order = [F.col(c).desc() for c in order_cols] + [
                F.col("_v").desc(),
                F.xxhash64(*[F.col(c) for c in batch_df.columns]).desc(),
            ]
            w = Window.partitionBy(*key_cols).orderBy(*order)
            merged = (
                new.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
            _swap_state_dir(merged, path)

    return _apply


def cdc_snapshot(
    spark: SparkSession,
    path: str,
    tombstone_col: str,
    tombstone_value: str,
    *,
    heal: bool = True,
) -> DataFrame:
    """Live view over a :func:`cdc_upsert_foreach_batch` state dir:
    tombstoned keys removed, bookkeeping column dropped. Heals the
    sink's two-rename crash window first (live dir gone, complete
    ``.old``) — every reader of a swapped dir must, or a crash at the
    wrong instant fails reads until the next micro-batch happens to
    run.

    The heal MUTATES the state dir, so it runs under the state's
    maintenance lock — the sink's read-merge-swap holds the same
    lock, so a snapshot can no longer catch it exactly mid-swap and
    rename ``.old`` back under its feet (the failure mode this
    parameter was introduced for), as long as reader and sink share a
    host (the lock's flock layer is same-host; multi-host coordination
    is external). ``heal=False`` remains for readers that must not
    touch disk at all — e.g. an ad-hoc query from a remote host while
    the stream is live: at worst it raises path-not-found during the
    microseconds-wide swap window instead of mutating foreign
    state."""
    # negated null-safe equality: a NULL tombstone column must mean
    # "not tombstoned" (plain != would be NULL and filter the row out,
    # silently dropping never-deleted keys from the live view)
    live = ~F.col(tombstone_col).eqNullSafe(F.lit(tombstone_value))
    if heal:
        with path_lock(path):
            recover_layout(path)
            # resolve the parquet footer INSIDE the lock: a sink
            # blocked on this lock could otherwise reach its swap's
            # no-live-dir instant between our heal and our read.
            # (The returned frame is lazy — a swap between this return
            # and the caller's action re-exposes the window; readers
            # needing a pinned view materialize it, same residual as
            # every maintained-layout reader.)
            return (
                spark.read.parquet(path).where(live).drop("_v")
            )
    return spark.read.parquet(path).where(live).drop("_v")


def cdc_compact_tombstones(
    spark: SparkSession,
    path: str,
    *,
    tombstone_col: str,
    tombstone_value: str,
    order_col: str,
    older_than,
) -> int:
    """Retention-window compaction for a CDC state dir: finally drop
    tombstone rows whose ``order_col`` is older than ``older_than``
    — the garbage-collection step the sink docstring defers to
    production. Returns the number of tombstones dropped.

    Safety contract: a tombstone may be dropped only once no
    out-of-order change older than it can still arrive, i.e.
    ``older_than`` must trail the stream's maximum expected lateness
    (the same reasoning as a watermark). Within the window, retained
    tombstones keep out-winning late stale upserts; after compaction,
    a replayed change older than the dropped tombstone WOULD resurrect
    its key — that is the documented trade-off of any tombstone GC
    (Cassandra's gc_grace_seconds, Kafka compaction's
    delete.retention.ms), not a defect of this one.

    The live view (:func:`cdc_snapshot`) is UNCHANGED by compaction —
    tombstoned keys were already filtered out of it; only the state
    dir shrinks. Uses the same crash-recovered staging-dir swap as the
    sinks, so a crash mid-compaction loses nothing.
    """
    # Maintenance racing an attached sink's read-merge-swap would
    # lose whichever side swaps first (the sink's committed batch, in
    # the worst case) — hold the state's maintenance lock across the
    # read-count-swap, exactly like the dedup stores' compactions.
    with path_lock(path):
        recover_layout(path)
        # Verify the caller's parameters against the recorded sink
        # contract BEFORE the irreversible drop: compacting with a
        # wrong tombstone_value (or the wrong column) would classify
        # LIVE rows as dead tombstones and permanently delete them —
        # the one operation in this family where a parameter mismatch
        # destroys data instead of raising downstream. An unstamped
        # (legacy) state dir has nothing to check against and is
        # accepted, same policy as the stores' legacy vets.
        from bigdata_flightanalysis_spark.util import read_sidecar

        recorded = read_sidecar(path + ".contract.json")
        # The sink kind comes first: a dir stamped by the PLAIN upsert
        # sink ({"sink": "upsert", "key_cols": ...}) has none of the
        # CDC parameter keys, so every per-parameter .get() below
        # returns None and the checks would all vacuously pass —
        # letting the irreversible drop proceed against a non-CDC
        # state dir, the exact wrong-target loss this guard exists to
        # prevent. Unstamped legacy dirs (no sidecar → no "sink" key)
        # stay accepted, same policy as the per-parameter checks.
        rec_sink = recorded.get("sink")
        if rec_sink is not None and rec_sink != "cdc_upsert":
            raise ValueError(
                f"{path}: state dir was written by the {rec_sink!r} "
                "sink, not cdc_upsert — it holds no tombstone "
                "semantics, and compacting it would drop live rows"
            )
        for param, got in (
            ("tombstone_col", tombstone_col),
            ("tombstone_value", tombstone_value),
        ):
            want = recorded.get(param)
            if want is not None and want != got:
                raise ValueError(
                    f"{path}: {param}={got!r} does not match the "
                    f"recorded sink contract ({want!r}) — compacting "
                    "with mismatched parameters would drop live rows"
                )
        rec_order = recorded.get("order_cols")
        if rec_order is not None and order_col not in rec_order:
            raise ValueError(
                f"{path}: order_col={order_col!r} is not one of the "
                f"recorded changelog order columns {rec_order} — the "
                "retention cutoff must be on the ordering the sink "
                "merges by"
            )
        state = spark.read.parquet(path)
        # eqNullSafe + coalesce: a NULL tombstone_col means LIVE (the
        # same convention cdc_snapshot pins with eqNullSafe), and a
        # NULL order_col must not make the predicate NULL — plain ==
        # turned both into NULL, which where(~NULL) silently DROPPED
        # from the kept set without counting it in n_drop: an
        # irreversible GC deleting live keys with no trace.
        is_dead_tombstone = F.coalesce(
            F.col(tombstone_col).eqNullSafe(F.lit(tombstone_value))
            & (F.col(order_col) < F.lit(older_than)),
            F.lit(False),
        )
        n_drop = state.where(is_dead_tombstone).count()
        if n_drop:
            _swap_state_dir(state.where(~is_dead_tombstone), path)
    return n_drop


def streaming_user_stats_tws(events: DataFrame) -> DataFrame:
    """The ``transformWithStateInPandas`` twin of
    :func:`streaming_user_stats_stateful` — Spark 4.x's successor API
    for custom stateful operators (arbitrary named state slots with
    per-slot schemas and optional TTL, timers, initial-state seeding)
    over the same running per-user count / sum / max semantics.

    Kept alongside the ``applyInPandasWithState`` form deliberately:
    tests assert both emit the SAME final state as the batch aggregate,
    so the engine can migrate stateful pipelines API-by-API with a
    regression gate.

    Dependency gate: the transformWithState runtime speaks protobuf to
    its state server, so this operator needs the optional ``protobuf``
    package at runtime (the test skips where it is absent); the legacy
    twin has no such dependency.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserStatsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "stats", "n bigint, total double, mx double"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, total, mx = self._state.get()
            else:
                n, total, mx = 0, None, None
            n, total, mx = _fold_user_stats(n, total, mx, rows)
            self._state.update((n, total, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "total_value": [total],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserStatsProcessor(),
        outputStructType=_USER_STATS_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
