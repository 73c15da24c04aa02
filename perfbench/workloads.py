"""The benchmark workloads.

Each workload builds its inputs from the seed (cached per seed, outside
every timed window), names one cheap warm-up call for set-up, runs an
untimed check-and-warm pass, and yields the operations of one timed
pass. An operation is ``build`` (construct the frame, including any
jobs the engine runs eagerly while building), ``plan_df`` (the frame
whose physical plan the traced run counts) and ``action`` (force it).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from typing import Any, Callable

import gen
import oracle


@dataclass
class Op:
    name: str
    build: Callable[[], Any]
    plan_df: Callable[[Any], Any]
    action: Callable[[Any], None]
    #: untimed output check after the op; returns an error or None
    check: Callable[[Any], str | None] = lambda obj: None


def _noop(df) -> None:
    # the noop sink evaluates every column of every row; count() would
    # let Catalyst prune the projections the query exists to compute
    df.write.format("noop").mode("overwrite").save()


class DedupWorkload:
    """Text, similarity, graph and multimodal registry queries that read
    only documents and embeddings. One client, closed loop: each query
    starts when the previous one returned. The seed permutes the order."""

    name = "dedup-corpus"
    queries = (
        "doc_exact_dedup",
        "doc_minhash_signatures",
        "doc_near_dup_candidates",
        "doc_dup_graph_kcore",
        "embed_lsh_topk",
        "multimodal_feature_extract",
    )
    docs = 1_500
    vectors = 750
    #: nominal seconds of one warm pass on a 4-core host; sets the pass
    #: count of a run
    pass_s = 5.0

    def prepare(self, cache_root: str, seed: int) -> dict:
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        def build(d):
            # a 10k-word vocabulary with 4-doc near-dup cliques gives a
            # sparse, realistic dup graph
            gen.corpus_tables(d, self.docs, self.vectors, seed, vocab=10_000, clique=3)

        # the sizes are in the cache key, so a resized corpus never
        # reuses stale inputs
        key = f"{self.name}/docs{self.docs}-vecs{self.vectors}/seed{seed}"
        data = gen.cached(cache_root, key, build)
        reg = load_all()
        order = list(self.queries)
        random.Random(seed).shuffle(order)
        return {
            "data": data,
            "order": order,
            "oracles": {q: reg[q].oracle for q in self.queries if reg[q].oracle},
            "sizes": {f: os.path.getsize(os.path.join(data, f)) for f in sorted(os.listdir(data))
                      if f.endswith(".parquet")},
        }

    def warm(self, spark, ctx) -> None:
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        _noop(load_all()[self.queries[0]].fn(spark, ctx["data"]))

    def check(self, spark, ctx) -> dict[str, str | None]:
        """Every query once, its result hash against the oracle's. The
        oracles run in a child process meanwhile (cached per input)."""
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        reg, out, got = load_all(), {}, {}
        child = oracle.start(ctx["data"], list(ctx["oracles"]))
        try:
            for name in ctx["order"]:
                try:
                    got[name] = oracle.spark_hash(reg[name].fn(spark, ctx["data"]))
                except Exception as exc:  # noqa: BLE001 — one query, one failure
                    out[name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            child.wait()
        want = oracle.oracle_hashes(ctx["data"], ctx["oracles"])
        for name, h in got.items():
            out[name] = None if want.get(name) in (None, h) else "result differs from oracle"
        return out

    def ops(self, spark, ctx) -> list[Op]:
        from bigdata_flightanalysis_spark.queries.catalog import load_all

        reg = load_all()
        return [
            Op(name, lambda fn=reg[name].fn: fn(spark, ctx["data"]), lambda df: df, _noop)
            for name in ctx["order"]
        ]


# --------------------------------------------------------------------------
# flights-kmeans: the reference pipeline
# --------------------------------------------------------------------------

FLIGHT_ROWS_2019 = 100_000
FLIGHT_ROWS_2023 = 20_000
#: the reference's published 2019 silhouette is 0.74; this band is the check
SILHOUETTE_BAND = (0.70, 0.76)


class FlightsWorkload:
    """CSV scan -> pipeline.run_flight_pipeline -> stringified
    predictions written as parquet; one client, closed loop."""

    name = "flights-kmeans"
    pass_s = 5.0

    def prepare(self, cache_root: str, seed: int) -> dict:
        def build(d):
            gen.flight_csvs(d, FLIGHT_ROWS_2019, FLIGHT_ROWS_2023, seed)

        shape = f"rows{FLIGHT_ROWS_2019}-{FLIGHT_ROWS_2023}"
        data = gen.cached(cache_root, f"{self.name}/{shape}/seed{seed}", build)
        return {
            "data": data,
            "sizes": {f: os.path.getsize(os.path.join(data, f)) for f in ("2019.csv", "2023.csv")},
        }

    def _run(self, spark, data_dir: str):
        from bigdata_flightanalysis_spark.pipeline import run_flight_pipeline
        from bigdata_flightanalysis_spark.schemas import FLIGHTS_2019_TYPED, FLIGHTS_2023_TYPED
        from bigdata_flightanalysis_spark.sources import readers

        raw19 = readers.read_csv(spark, f"{data_dir}/2019.csv", FLIGHTS_2019_TYPED)
        raw23 = readers.read_csv(spark, f"{data_dir}/2023.csv", FLIGHTS_2023_TYPED)
        return run_flight_pipeline(raw19, raw23)

    def warm(self, spark, ctx) -> None:
        from bigdata_flightanalysis_spark.schemas import FLIGHTS_2023_TYPED
        from bigdata_flightanalysis_spark.sources import readers

        _noop(readers.read_csv(spark, f"{ctx['data']}/2023.csv", FLIGHTS_2023_TYPED))

    def check(self, spark, ctx) -> dict[str, str | None]:
        """One untimed pass over the real inputs: warms the MLlib path
        and checks its output like every timed pass does."""
        (op,) = self.ops(spark, ctx)
        res = op.build()
        op.action(res)
        return {op.name: op.check(res)}

    def ops(self, spark, ctx) -> list[Op]:
        from bigdata_flightanalysis_spark.pipeline import stringify_features
        from bigdata_flightanalysis_spark.sources import writers

        def action(res) -> None:
            for year, preds in (("2019", res.predictions_2019), ("2023", res.predictions_2023)):
                writers.write_parquet(
                    stringify_features(preds), f"{ctx['run_dir']}/predictions_{year}"
                )

        def check(res) -> str | None:
            try:
                lo, hi = SILHOUETTE_BAND
                sil = res.silhouette_2019
                counts = res.predictions_2019.groupBy("prediction").count().collect()
                total = sum(r["count"] for r in counts)
            finally:
                res.unpersist()
            if not lo <= sil <= hi:
                return f"silhouette_2019 {sil:.4f} outside [{lo}, {hi}]"
            if total != FLIGHT_ROWS_2019:
                return f"cluster counts sum to {total}, input has {FLIGHT_ROWS_2019} rows"
            return None

        return [
            Op(
                "flight_pipeline",
                lambda: self._run(spark, ctx["data"]),
                lambda res: stringify_features(res.predictions_2019),
                action,
                check,
            )
        ]


WORKLOADS = {w.name: w for w in (DedupWorkload(), FlightsWorkload())}
