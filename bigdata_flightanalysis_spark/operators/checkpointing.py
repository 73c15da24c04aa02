"""Shared materialization posture for iterative / multi-consumer plans.

Two postures, selectable per deployment via an explicit
``checkpoint_dir`` argument or the ``SPARK_GRAFT_CHECKPOINT_DIR`` env
contract:

- **reliable checkpoint** (dir configured): blocks land on shared
  storage (HDFS / object store) — survives executor loss, the right
  100 TB posture for a multi-executor cluster where a lost
  ``localCheckpoint`` block fails the job mid-iteration.
- **localCheckpoint** (default): executor-local storage; right for
  single-JVM local mode, where re-running a lost block is cheaper than
  reliable-store I/O.

Both truncate lineage — the property iterative algorithms need so the
plan doesn't grow unboundedly round over round. Materialization timing
is the caller's choice per call: EAGER (a Spark job runs at the call,
the default) or LAZY (``lazy=True`` — the frame is marked for
checkpointing and the CALLER'S next action over it materializes it).
Lineage/plan truncation is identical either way: ``checkpoint``/
``localCheckpoint`` wrap the frame in a ``LogicalRDD`` at the call, in
both modes. Lazy exists because the eager form costs one dedicated
Spark job per call, and iterative operators that immediately run a
cheap action anyway (a convergence checksum, a count) were paying two
job launches per round for one round's work (guide §1.2/§2.4: remove
passes). Use lazy ONLY when exactly one action follows before the
next consumer: a frame consumed by two CONCURRENT stages while still
unmaterialized can be computed twice (cache races), which is what
eager exists to prevent.

``setCheckpointDir`` mutates GLOBAL SparkContext state (and nests a
fresh UUID subdir per call), so the reliable path is scoped: the dir
is set once per algorithm run and the previous value restored after —
a caller-scoped temp dir (e.g. a pytest ``tmp_path``) must not leak
into later, unrelated ``checkpoint()`` calls on the same shared
session. Spark has no unset, so a previously-UNSET dir does stay set
after the scope — the one documented residue. Restores go through the
remembered USER-level path (``_USER_DIR_FOR``): restoring
``getCheckpointDir()``'s UUID-resolved value verbatim would nest one
UUID level per scope use.
"""

from __future__ import annotations

import os
import threading
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession


def _resolve_dir(checkpoint_dir: str | None) -> str | None:
    return checkpoint_dir or os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")


#: getCheckpointDir() returns the dir WITH the per-set UUID subdir
#: Spark appends, so restoring it verbatim would nest one UUID level
#: per scope use (/ckpt/<uuid1>/<uuid2>/...). This maps each
#: UUID-resolved dir back to the user-level path that produced it, so
#: exits restore the ORIGINAL path whenever the previous dir was set
#: through this module; dirs set externally still restore verbatim
#: (one level of inexactness, then mapped from there on). Bounded: a
#: scope's exit pops both its own resolution and the superseded
#: previous one (the restore mints a FRESH resolution that carries the
#: mapping forward), so the map holds at most one entry per active
#: nesting level plus the single prev-None residue. Mutations are
#: lock-guarded for dict consistency; note the checkpoint dir itself
#: is GLOBAL SparkContext state, so concurrent scopes on different
#: threads of one context still race on the dir value — scope use is
#: effectively single-threaded per context by design.
_USER_DIR_FOR: dict[str, str] = {}
_USER_DIR_LOCK = threading.Lock()


@contextmanager
def checkpoint_scope(
    spark: SparkSession, checkpoint_dir: str | None = None
) -> Iterator[Callable[..., DataFrame]]:
    """Yield a ``(DataFrame, *, lazy=False) -> DataFrame`` materializer.

    With a configured dir the materializer is reliable
    ``checkpoint()`` — the SparkContext checkpoint dir is set ONCE for
    the scope and restored on exit; without one it is
    ``localCheckpoint()`` and no global state is touched. Iterative
    operators call this once around their loop so N rounds don't
    re-set the dir N times.

    ``lazy=True`` defers materialization to the caller's next action
    (see the module docstring for when that is safe). The reliable
    posture captures its checkpoint directory when the marked frame is
    CREATED, so a lazy frame materialized after the scope exits still
    lands in this scope's dir.
    """
    resolved = _resolve_dir(checkpoint_dir)
    if not resolved:
        yield lambda df, *, lazy=False: df.localCheckpoint(eager=not lazy)
        return
    sc = spark.sparkContext
    prev = sc.getCheckpointDir()
    sc.setCheckpointDir(resolved)
    cur = sc.getCheckpointDir()
    if cur is not None:
        with _USER_DIR_LOCK:
            _USER_DIR_FOR[cur] = resolved
    # NOTE (r16 optimization, measured): classic Spark (≤3.x) computed
    # an eager reliable checkpoint TWICE — materialize via count(),
    # then the checkpoint write job re-ran the lineage — so the
    # standard recipe was persist-before-checkpoint-then-unpersist.
    # Spark 4.1's Dataset.checkpoint instead calls
    # internalRdd.doCheckpoint() directly: ONE job computes the frame
    # and writes the files. A persist wrapper here was tried and
    # REVERTED — it adds cache-population work to that single job for
    # nothing. tests/test_sources_ext.py pins the computes-once
    # property with an accumulator, so a Spark upgrade that regresses
    # it fails loudly instead of silently doubling every round.
    try:
        yield lambda df, *, lazy=False: df.checkpoint(eager=not lazy)
    finally:
        if prev is not None:
            # With nested scopes the ACTIVE dir at exit time is not
            # this scope's own `cur`: an inner scope's exit restored
            # our dir through a FRESH resolution that superseded it.
            # Capture the active dir so its mapping is dropped too —
            # popping only `cur` leaked one entry per nested-scope
            # cycle (r15 driver ADVICE).
            active = sc.getCheckpointDir()
            # restore the user-level path, not the UUID-resolved one
            with _USER_DIR_LOCK:
                restore_to = _USER_DIR_FOR.get(prev, prev)
            sc.setCheckpointDir(restore_to)
            after = sc.getCheckpointDir()
            with _USER_DIR_LOCK:
                if after is not None:
                    _USER_DIR_FOR[after] = _USER_DIR_FOR.get(
                        restore_to, restore_to
                    )
                # `after` is a FRESH resolution of the same user-level
                # path and carries the mapping from here on, so the
                # superseded prev resolution, this scope's own, and
                # whatever resolution was active at exit can all be
                # dropped — this bounds the map instead of leaking
                # one entry per scope use
                _USER_DIR_FOR.pop(prev, None)
                if cur is not None:
                    _USER_DIR_FOR.pop(cur, None)
                if active is not None and active != after:
                    _USER_DIR_FOR.pop(active, None)
        # prev None: no restore possible, cur STAYS the active dir
        # (the documented residue) — keep its mapping so a LATER
        # scope's exit still restores the user-level path (that later
        # exit pops it via the prev-superseded rule above)


def eager_checkpoint(df: DataFrame, checkpoint_dir: str | None = None) -> DataFrame:
    """One-shot form of :func:`checkpoint_scope` for a single frame."""
    with checkpoint_scope(df.sparkSession, checkpoint_dir) as ck:
        return ck(df)


@contextmanager
def static_partitioning_scope(
    spark: SparkSession, shuffle_partitions: int | None = None
) -> Iterator[None]:
    """Compile checkpoints INSIDE this scope with AQE disabled so the
    resulting ``LogicalRDD`` captures the frame's output partitioning.
    ``shuffle_partitions`` additionally pins
    ``spark.sql.shuffle.partitions`` for plans compiled inside the
    scope, so every exchange of an iterative loop lands on ONE
    size-derived width and stays mutually co-partitioned — without it,
    a loop state captured at width P would collide with aggregates
    compiled at the session default and re-introduce reconciling
    exchanges.

    Why: ``Dataset.checkpoint``/``localCheckpoint`` record the child
    physical plan's ``outputPartitioning`` into the replacement
    ``LogicalRDD`` — but under AQE the physical plan is an
    ``AdaptiveSparkPlan`` whose partitioning is unknown at compile
    time, so every checkpoint degrades to ``UnknownPartitioning`` and
    every later join/aggregate over it re-shuffles (measured: the
    per-round rank⋈edges join in ``pagerank`` re-exchanged the FULL
    edge list every round). With AQE off at compile time, a frame
    whose plan ends in a hash exchange (an aggregate, an equi-join, a
    keyed ``repartition``) is captured as
    ``hashpartitioning(key, spark.sql.shuffle.partitions)``, and
    downstream plans keyed the same way elide the exchange outright
    (guide §2.4: operations keyed the same way share one exchange).

    Trade-offs, deliberate: plans compiled inside the scope get no AQE
    partition coalescing or skew-join splitting. Use it only around
    checkpoints of iterative-loop state whose SAME key is re-joined
    every round — there, one fixed-width shuffle at
    ``spark.sql.shuffle.partitions`` (the session's scale knob: ~2-3x
    total cores on a cluster) replaces a per-round re-shuffle of the
    big side, and a co-partitioned join could not be skew-split
    anyway. The flag is restored even on error; like the checkpoint
    dir, it is session-global state, so scope use is effectively
    single-threaded per session by design."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


#: The one scale-posture knee. At or above this Catalyst-estimated
#: input size, the five large-input plan switches take their cluster
#: shape: MinHash and SimHash signatures checkpointed before the
#: banded self-join, degree-oriented triangle edges, blocked embedding
#: pairs, and BM25 build/refresh tokens checkpointed once. Below it the
#: recompute shapes win; materializing cost 3x at sf0.1 for the MinHash
#: signatures. Tests patch this constant to force the large shape.
LARGE_INPUT_BYTES = 1 << 30


def is_large_input(df: DataFrame) -> bool:
    """Whether ``df`` is large enough for the cluster plan shape,
    judged by Catalyst's size estimate of its optimized plan. For a
    parquet scan that is the files' total size on any Hadoop
    filesystem; filters keep the full estimate, which errs toward
    the large shape."""
    size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) >= LARGE_INPUT_BYTES


#: Target bytes per partition for size-derived loop widths (the same
#: order as AQE's advisoryPartitionSizeInBytes default, which cannot
#: steer these plans because the scope above compiles them AQE-free).
#: Parameterised for deployments via env; the local default keeps
#: bench partitioning proportional to actual data.
LOOP_PARTITION_BYTES = int(
    os.environ.get("SPARK_GRAFT_LOOP_PARTITION_BYTES", str(64 * 1024 * 1024))
)


def loop_width(spark: SparkSession, est_bytes: float) -> int:
    """Size-derived partition count for an iterative loop's state
    frames: enough partitions to keep each under
    ``LOOP_PARTITION_BYTES``, floored at 1, capped at the session's
    ``spark.sql.shuffle.partitions`` (the deployment's scale knob —
    ~2-3x total cores on a cluster). Derived from input size rather
    than a constant, so tiny local runs get single-task rounds while a
    100 TB edge list fans out to the cluster's full width (guide
    §2.2/§2.5: partition counts must follow data, not config).

    A non-numeric ``spark.sql.shuffle.partitions`` (``auto`` on some
    managed platforms) caps at ``defaultParallelism`` instead. Call it
    outside :func:`static_partitioning_scope`, which pins that conf to
    a loop's width and would be read back as the cap."""
    try:
        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except ValueError:
        cap = spark.sparkContext.defaultParallelism
    return max(1, min(cap, -(-int(est_bytes) // LOOP_PARTITION_BYTES)))
