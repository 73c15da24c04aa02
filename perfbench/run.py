#!/usr/bin/env python3
"""Benchmark of the bigdata_flightanalysis_spark engine, run as a library.

    python3 perfbench/run.py --workload dedup-corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, its per-layer
metrics with ``--trace 1``. The line before it carries the full detail
(stamps, unbounded metrics, per-query medians, check results), also
written to ``.perfbench/results/``. Exits 1 when any output check
fails, 2 when the engine or the machine cannot run the benchmark.

Everything the run reads or writes stays under the repository root:
inputs are cached per seed in ``.perfbench/inputs``, Spark and Python
temp files go to ``.perfbench/tmp``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
SETUP_REPS = 3
DEFAULT_CORES = 4
DEFAULT_DRIVER_MEM = "2g"
CLK = os.sysconf("SC_CLK_TCK")
NCPU = os.cpu_count() or 1
#: per-layer metrics of the stream-ingest workload, which is not built
NOT_BUILT = (
    "operators.incremental_s",
    "operators.store_bytes",
    "streaming.queue_wait_s",
    "streaming.trigger_overhead_s",
)


def fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def cores() -> int:
    n = os.environ.get("SPARK_GRAFT_CPUS")
    return int(n) if n else min(DEFAULT_CORES, os.cpu_count() or 1)


def configure_env(n_cores: int) -> None:
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # reliable checkpoints would write outside the checkout
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)


def session_conf() -> dict[str, str]:
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
    }


# --------------------------------------------------------------------------
# /proc readings
# --------------------------------------------------------------------------


def tree_cpu_s(root: int) -> float:
    """CPU seconds of ``root`` and all its descendants: the driver
    Python, its JVM, the PySpark daemon and its Python workers. Threads
    count with their process, exited children once reaped."""
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is field 3 (state) of proc(5); then utime, stime,
        # cutime, cstime are fields 14-17
        procs[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    ticks = 0
    todo = [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return ticks / CLK


def own_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK if len(fields) > 8 else 0.0


class RssSampler:
    """Peak of (driver Python RSS + JVM RSS), sampled from /proc."""

    def __init__(self, pids: list[int], period: float = 0.1):
        self.pids, self.period = pids, period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _rss(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            return 0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(self._rss(p) for p in self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# --------------------------------------------------------------------------
# Timed loop
# --------------------------------------------------------------------------


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


class Runner:
    def __init__(self, workload, tracer):
        self.wl, self.tracer = workload, tracer
        self.attempted = 0
        self.errors: dict[str, str] = {}
        self.spark = None

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def n_passes(self, seconds: float) -> int:
        # fixed by the workload's nominal pass time, never by how fast
        # this run is, so every run measures equally warm passes
        return max(1, round(seconds / self.wl.pass_s))

    def setup(self, ctx) -> tuple[object, list[float]]:
        """SETUP_REPS session starts, each followed by the registry load
        and the warm-up call; the first also launches the JVM."""
        from bigdata_flightanalysis_spark import session
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        times = []
        spark = None
        for i in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = T_PROCESS if i == 0 else time.perf_counter()
            spark = session.get_session("perfbench", extra_conf=session_conf())
            load_all()
            self.wl.warm(spark, ctx)
            times.append(time.perf_counter() - t0)
        return spark, times

    def run_op(self, op, plan_counts: dict) -> dict | None:
        """One operation: build + plan + action. Returns its wall time,
        process-tree CPU time and driver CPU time, or None when it raised
        or its output check failed."""
        from bigdata_flightanalysis_spark.plans import introspect

        self.attempted += 1
        if self.tracer:
            self.tracer.op = op.name
        obj = None
        cpu0, steal0, drv0 = tree_cpu_s(os.getpid()), steal_s(), own_cpu_s()
        try:
            t0 = time.perf_counter()
            with self.span("op"):
                with self.span("queries.build"):
                    obj = op.build()
                if self.tracer and self.tracer.enabled:
                    for k, v in introspect.plan_stats(op.plan_df(obj)).items():
                        plan_counts[k] = plan_counts.get(k, 0) + v
                with self.span("spark.action"):
                    op.action(obj)
            wall = time.perf_counter() - t0
        except Exception as exc:  # noqa: BLE001 — one op, one failure
            self.errors[f"{op.name}#{self.attempted}"] = f"{type(exc).__name__}: {exc}"[:300]
            return None
        drv, steal = own_cpu_s() - drv0, steal_s() - steal0
        cpu = tree_cpu_s(os.getpid()) - cpu0
        # the guest kernel charges a tick the hypervisor stole to the task
        # that was running; remove the expected stolen share of each
        not_stolen = 1.0 - min(1.0, steal / (NCPU * wall))
        sample = {
            "op": op.name,
            "wall": wall,
            "cpu": cpu * not_stolen,
            "driver_cpu": drv * not_stolen,
            "raw_cpu": cpu,
            "raw_driver_cpu": drv,
            "steal": steal,
        }
        err = op.check(obj)
        if err:
            self.errors[f"{op.name}#{self.attempted}"] = err
            return None
        return sample

    def loop(self, ctx, seconds: float) -> dict:
        """Closed loop of whole passes, so every run pools the same mix
        of operations."""
        res = _new_loop()
        for _ in range(self.n_passes(seconds)):
            self._pass(ctx, res)
        return res

    def traced_loop(self, ctx, seconds: float) -> tuple[dict, dict]:
        """Twice the passes of ``loop``, every other one traced, so the
        untraced baseline sees the same warm-up and host drift. Returns
        (untraced, traced)."""
        runs = (_new_loop(), _new_loop())
        for i in range(2 * self.n_passes(seconds)):
            self.tracer.enabled = bool(i % 2)
            self._pass(ctx, runs[i % 2])
        self.tracer.enabled = False
        return runs

    def _pass(self, ctx, res: dict) -> None:
        wall = 0.0
        for op in self.wl.ops(self.spark, ctx):
            sample = self.run_op(op, res["plan_counts"])
            if sample is not None:
                res["samples"].append(sample)
                wall += sample["wall"]
        res["passes"].append(wall)


def _new_loop() -> dict:
    return {"passes": [], "samples": [], "plan_counts": {}}


# --------------------------------------------------------------------------
# Metrics
# --------------------------------------------------------------------------


def op_medians(samples: list[dict], key: str = "wall") -> dict[str, float]:
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s[key])
    return {name: statistics.median(v) for name, v in by_op.items()}


def per_pass(timed: dict, key: str) -> float:
    return sum(s[key] for s in timed["samples"]) / len(timed["passes"])


def end_to_end(setup_times: list[float], timed: dict) -> dict:
    """The bounded metrics: set-up time and CPU seconds per pass, net of
    hypervisor steal. On a shared host steal swings wall-clock times by
    up to 0.28 of their median between runs; CPU time about half as
    much."""
    return {
        "setup_s": (statistics.median(setup_times), "s"),
        "run_cpu_s": (per_pass(timed, "cpu"), "s"),
    }


def unbounded(timed: dict, peak_rss: int) -> dict:
    """Latency and memory a user sees, the driver's own CPU time, the
    steal, and CPU time before steal is netted out; reported in the
    detail line only."""
    times = [s["wall"] for s in timed["samples"]]
    medians = op_medians(timed["samples"])
    return {
        # a pass of per-operation medians
        "run_s": (sum(medians.values()), "s"),
        "query_s_p50": (statistics.median(times), "s"),
        "query_s_p90": (p90(times), "s"),
        "query_geomean_s": (geomean(medians.values()), "s"),
        "peak_rss_mb": (peak_rss / 2**20, "MB"),
        "driver_cpu_s": (per_pass(timed, "driver_cpu"), "s"),
        "steal_s": (per_pass(timed, "steal"), "s"),
        "run_cpu_raw_s": (per_pass(timed, "raw_cpu"), "s"),
        "driver_cpu_raw_s": (per_pass(timed, "raw_driver_cpu"), "s"),
    }


def per_layer(tracer, spark, traced, untraced, setup_spans, n_cores) -> dict:
    """Per-pass layer numbers from the traced passes' spans."""
    import tracing as tr

    spans = [s for s in tracer.spans if s["id"] >= traced["first_span"]]
    n_pass = len(traced["passes"])
    by_id = {s["id"]: s for s in spans}
    self_t = tr.self_times(spans)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def named(name):
        return [s for s in spans if s["name"] == name]

    def subtree(s):
        yield s
        for c in children.get(s["id"], ()):
            yield from subtree(c)

    def outermost(name):
        # spans of ``name`` not nested in another one (graph ops recurse)
        out = []
        for s in named(name):
            p = s["parent"]
            while p is not None and by_id[p]["name"] != name:
                p = by_id[p]["parent"]
            if p is None:
                out.append(s)
        return out

    def self_time(name):
        return sum(self_t[s["id"]] for s in named(name)) / n_pass

    def jobs_under(name):
        return sum(len(d["jobs"]) for s in outermost(name) for d in subtree(s)) / n_pass

    def calls(name):
        return len(named(name)) / n_pass

    spark_tot: dict[str, float] = {}
    for s in spans:
        for k, v in s["spark"].items():
            if k == "spark.task_skew_max":
                spark_tot[k] = max(spark_tot.get(k, 0.0), v)
            else:
                spark_tot[k] = spark_tot.get(k, 0) + v / n_pass
    all_jobs = sum(len(s["jobs"]) for s in spans) / n_pass
    build_jobs = jobs_under("queries.build")
    op_wall = sum(s["end"] - s["start"] for s in named("op")) / n_pass
    try:
        py_rows = tr.python_rows(spark, {j for s in spans for j in s["jobs"]}) / n_pass
    except Exception:  # noqa: BLE001 — reported as not obtained
        tracer.errors.add("functions.python_rows")
        py_rows = 0
    get_session = [s["end"] - s["start"] for s in setup_spans if s["name"] == "session.get_session"]
    pc = {k: v / n_pass for k, v in traced["plan_counts"].items()}
    m = {
        "session.get_session_s": (statistics.median(get_session) if get_session else 0.0, "s"),
        "sources.read_table_s": (self_time("sources.read_table"), "s"),
        "sources.read_table_calls": (calls("sources.read_table"), "count"),
        "sources.read_csv_s": (self_time("sources.read_csv"), "s"),
        "sources.write_s": (self_time("sources.write"), "s"),
        "queries.build_s": (self_time("queries.build"), "s"),
        "queries.build_jobs": (build_jobs, "count"),
        "queries.eager_job_share": (build_jobs / all_jobs if all_jobs else 0.0, "ratio"),
        "plans.plan_s": (self_time("plans.plan"), "s"),
        "plans.hash_exchanges": (pc.get("hash_exchanges", 0), "count"),
        "plans.range_exchanges": (pc.get("range_exchanges", 0), "count"),
        "plans.scans": (pc.get("scans", 0), "count"),
        "plans.sort_merge_joins": (pc.get("sort_merge_joins", 0), "count"),
        "plans.broadcast_joins": (pc.get("broadcast_joins", 0), "count"),
        "plans.windows": (pc.get("windows", 0), "count"),
        "plans.python_nodes": (pc.get("python_row_udfs", 0) + pc.get("arrow_python", 0), "count"),
        "spark.action_s": (self_time("spark.action"), "s"),
        "spark.jobs": (all_jobs, "count"),
        "spark.idle_core_s": (op_wall * n_cores - spark_tot.get("spark.executor_run_s", 0), "s"),
        "functions.python_rows": (py_rows, "count"),
        "operators.graph_s": (sum(s["end"] - s["start"] for s in outermost("operators.graph")) / n_pass, "s"),
        "operators.graph_jobs": (jobs_under("operators.graph"), "count"),
        "operators.materialize_s": (self_time("operators.materialize"), "s"),
        "operators.materializations": (calls("operators.materialize"), "count"),
        "pipeline.clean_s": (self_time("pipeline.clean"), "s"),
        "pipeline.kmeans_fit_s": (self_time("pipeline.kmeans_fit"), "s"),
        "pipeline.silhouette_s": (self_time("pipeline.silhouette"), "s"),
        "tracing.overhead_s": (
            sum(op_medians(traced["samples"]).values())
            - sum(op_medians(untraced["samples"]).values()),
            "s",
        ),
    }
    for key in tr.STAGE_FIELDS:
        unit = "s" if key.endswith("_s") else "bytes" if key.endswith("_bytes") else "count"
        m[key] = (spark_tot.get(key, 0), unit)
    m["spark.stages"] = (spark_tot.get("spark.stages", 0), "count")
    m["spark.task_skew_max"] = (spark_tot.get("spark.task_skew_max", 0.0), "ratio")
    return m


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — kill below
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "bigdata_flightanalysis_spark")):
        return fail(f"engine package not found under {ROOT}; run from a full checkout")
    nproc = NCPU
    n_cores = cores()
    if n_cores > nproc:
        return fail(f"local[{n_cores}] asked for more cores than nproc={nproc}")
    try:
        import pyspark
    except ImportError as exc:
        return fail(f"pyspark not importable: {exc}")
    configure_env(n_cores)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        return fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]

    t0 = time.perf_counter()
    ctx = wl.prepare(os.path.join(WORK, "inputs"), args.seed)
    t_inputs = time.perf_counter() - t0
    ctx["run_dir"] = os.path.join(WORK, "runs", f"{wl.name}-{os.getpid()}")

    tracer = None
    if args.trace:
        import tracing as tr
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        load_all()
        tracer = tr.Tracer(f"{args.workload}-{args.seed}")
        tr.install(tracer)
        tracer.enabled = True
    runner = Runner(wl, tracer)
    global T_PROCESS
    T_PROCESS += t_inputs  # input generation is not set-up
    spark, setup_times = runner.setup(ctx)
    runner.spark = spark
    setup_spans = list(tracer.spans) if tracer else []
    if tracer:
        tracer.enabled = False

    t0 = time.perf_counter()
    check = wl.check(spark, ctx)
    runner.attempted += len(check)
    runner.errors.update({f"check:{k}": v for k, v in check.items() if v})
    t_check = time.perf_counter() - t0

    from pyspark import SparkContext

    jvm = getattr(SparkContext._gateway, "proc", None)
    with RssSampler([os.getpid()] + ([jvm.pid] if jvm is not None else [])) as rss:
        if tracer:
            first = len(tracer.spans)
            timed, traced = runner.traced_loop(ctx, args.seconds)
            traced["first_span"] = first
        else:
            timed = runner.loop(ctx, args.seconds)

    failed = len(runner.errors)
    stamps = {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": spark.sparkContext.master,
        "pyspark": pyspark.__version__,
        "driver_memory": spark.sparkContext.getConf().get("spark.driver.memory", "?"),
    }
    if tracer:
        metrics = per_layer(tracer, spark, traced, timed, setup_spans, n_cores)
    else:
        metrics = end_to_end(setup_times, timed)
    stop_spark(spark)
    shutil.rmtree(ctx["run_dir"], ignore_errors=True)

    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "trace": args.trace,
        "stamps": stamps,
        "inputs": ctx.get("sizes", {}),
        "input_build_s": t_inputs,
        "check_pass_s": t_check,
        "setup_reps_s": setup_times,
        "passes_s": timed["passes"],
        "n_samples": len(timed["samples"]),
        "unbounded": {k: {"value": v, "unit": u} for k, (v, u) in
                      unbounded(timed, rss.peak).items()},
        "per_query_median_s": op_medians(timed["samples"]),
        "per_query_median_cpu_s": op_medians(timed["samples"], "cpu"),
        "samples": timed["samples"],
        "attempted": runner.attempted,
        "failed": failed,
        "failed_ratio": failed / runner.attempted,
        "errors": runner.errors,
    }
    if tracer:
        detail["not_obtained"] = sorted(tracer.errors) + list(NOT_BUILT)
        detail["traced_passes_s"] = traced["passes"]
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    stem = os.path.join(WORK, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}")
    with open(stem + ".json", "w") as f:
        json.dump(detail, f, indent=1)
    if tracer:
        with open(stem + "-spans.json", "w") as f:
            json.dump(tracer.spans, f)
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": runner.attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    sys.stdout.flush()
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
