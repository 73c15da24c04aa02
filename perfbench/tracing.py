"""In-memory span recorder for the traced run.

A span is (id, name, parent, run, op, start, end). Every span gets its own
Spark job group, so after it closes the jobs it launched itself are
read back from ``statusTracker()`` and their stages from the status
store. Wrappers around the engine's public calls are installed only
in the traced run (``install``); while ``enabled`` is off they call
straight through, which gives the traced run its untraced baseline.
"""

from __future__ import annotations

import contextlib
import functools
import sys
import time

PKG = "bigdata_flightanalysis_spark"

#: (module, function, span name) of every engine call the traced run wraps.
TARGETS = (
    ("session", "get_session", "session.get_session"),
    ("sources.readers", "read_table", "sources.read_table"),
    ("sources.readers", "read_csv", "sources.read_csv"),
    ("sources.writers", "write_parquet", "sources.write"),
    ("sources.writers", "write_csv", "sources.write"),
    ("plans.introspect", "executed_plan", "plans.plan"),
    ("operators.graph", "connected_components", "operators.graph"),
    ("operators.graph", "k_core", "operators.graph"),
    ("operators.graph", "pagerank", "operators.graph"),
    ("operators.checkpointing", "eager_checkpoint", "operators.materialize"),
    ("operators.incremental", "incremental_exact_dedup", "operators.incremental"),
    ("operators.incremental", "incremental_near_dup_pairs", "operators.incremental"),
    ("pipeline.flights", "clean_flights_2019", "pipeline.clean"),
    ("pipeline.flights", "clean_flights_2023", "pipeline.clean"),
    ("pipeline.flights", "fit_kmeans", "pipeline.kmeans_fit"),
    ("pipeline.flights", "silhouette", "pipeline.silhouette"),
)
#: DataFrame methods that materialize (or pin) a frame.
DF_MATERIALIZE = ("localCheckpoint", "checkpoint", "persist")

#: executed-plan nodes that move rows across the Arrow/Python boundary
PYTHON_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "MapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
)

STAGE_FIELDS = {
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.input_bytes": ("inputBytes", 1),
    "spark.output_bytes": ("outputBytes", 1),
    "spark.tasks": ("numTasks", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
}


def _sc():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: str | None = None
        self.errors: set[str] = set()
        self.enabled = False

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "run": self.run_id,
            "op": self.op,
            "jobs": [],
            "spark": {},
        }
        self.spans.append(rec)
        sc = _sc()
        group = f"perfbench-{self.run_id}-{sid}"
        prev = None
        if sc is not None:
            prev = sc.getLocalProperty("spark.jobGroup.id")
            sc.setJobGroup(group, name)
        self.stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.stack.pop()
            if sc is not None and _sc() is sc:
                if prev is not None:
                    sc.setJobGroup(prev, "")
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                self._read_jobs(sc, group, rec)

    def _read_jobs(self, sc, group: str, rec: dict) -> None:
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        rec["jobs"] = sorted(tracker.getJobIdsForGroup(group))
        stats = rec["spark"]
        skew = 0.0
        for jid in rec["jobs"]:
            info = tracker.getJobInfo(jid)
            for stage_id in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage_id)
                except Exception:  # noqa: BLE001 — a skipped stage has no attempt
                    continue
                stats["spark.stages"] = stats.get("spark.stages", 0) + 1
                for key, (field, scale) in STAGE_FIELDS.items():
                    stats[key] = stats.get(key, 0) + getattr(sd, field)() * scale
                skew = max(skew, self._skew(store, sd))
        stats["spark.task_skew_max"] = skew

    def _skew(self, store, sd) -> float:
        """max / median task run time of one stage (1.0 when uniform)."""
        if sd.numTasks() < 2:
            return 1.0
        try:
            gw = _sc()._gateway
            q = gw.new_array(gw.jvm.double, 2)
            q[0], q[1] = 0.5, 1.0
            dist = store.taskSummary(sd.stageId(), sd.attemptId(), q)
            if not dist.isDefined():
                return 1.0
            run = dist.get().executorRunTime()
            med, top = run.apply(0), run.apply(1)
        except Exception:  # noqa: BLE001 — recorded as not obtained
            self.errors.add("spark.task_skew_max")
            return 0.0
        return top / med if med > 0 else 1.0

    def wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced


def install(tracer: Tracer) -> int:
    """Route every TARGETS call through a span: rebind the function in
    each engine module that holds a reference to it (``from x import f``
    copies the binding), plus the DataFrame materialization methods.
    Returns the number of bindings replaced."""
    import importlib

    replaced = 0
    for mod_name, fn_name, span_name in TARGETS:
        mod = importlib.import_module(f"{PKG}.{mod_name}")
        original = getattr(mod, fn_name)
        wrapper = tracer.wrap(original, span_name)
        for m in list(sys.modules.values()):
            if not getattr(m, "__name__", "").startswith(PKG):
                continue
            for attr, val in list(vars(m).items()):
                if val is original:
                    setattr(m, attr, wrapper)
                    replaced += 1
    df_cls = _dataframe_class()
    for meth in DF_MATERIALIZE:
        setattr(df_cls, meth, tracer.wrap(getattr(df_cls, meth), "operators.materialize"))
        replaced += 1
    return replaced


def _dataframe_class():
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pyspark < 4
        from pyspark.sql import DataFrame
    return DataFrame


def python_rows(spark, job_ids: set[int]) -> int:
    """Rows out of the Python-boundary nodes of every SQL execution
    whose jobs are in ``job_ids``, read from the SQL status store."""
    if not job_ids:
        return 0
    store = spark._jsparkSession.sharedState().statusStore()
    total = 0
    executions = store.executionsList().iterator()
    while executions.hasNext():
        ex = executions.next()
        keys = ex.jobs().keysIterator()
        jobs = set()
        while keys.hasNext():
            jobs.add(int(keys.next()))
        if not jobs & job_ids:
            continue
        values = store.executionMetrics(ex.executionId())
        nodes = store.planGraph(ex.executionId()).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            if node.name() not in PYTHON_NODES:
                continue
            metrics = node.metrics().iterator()
            while metrics.hasNext():
                m = metrics.next()
                if m.name() == "number of output rows":
                    raw = values.get(m.accumulatorId())
                    if raw.isDefined():
                        total += int(str(raw.get()).replace(",", "").split()[0])
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0.0) for s in spans}
