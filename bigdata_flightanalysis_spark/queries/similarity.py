"""Similarity-search query suite over ``embeddings`` (SURVEY.md §7
phase 4): brute-force cosine top-k as the exactness baseline, and a
random-hyperplane LSH-bucketed variant as the scale path.

Numeric determinism: dot products fold left-to-right in double on both
engines (Spark ``F.aggregate``; DuckDB ``list_sum`` over an ordered
``list_transform``), so scores are compared exactly — asserted by the
oracle, no rounding slack needed (verified empirically in tests).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdata_flightanalysis_spark.functions.vector import (
    cosine_from_parts,
    dot_product,
    l2_norm,
)
from bigdata_flightanalysis_spark.operators.checkpointing import is_large_input
from bigdata_flightanalysis_spark.queries.catalog import register
from bigdata_flightanalysis_spark.sources.readers import read_table


def _prepared(emb: DataFrame, *extra) -> DataFrame:
    """Pair-join preparation: cast the float array to double ONCE per
    row and precompute the L2 norm per VECTOR, so the per-pair work is
    a single bare fold (dot product). Same float ops in the same order
    as the inline form — bit-identical scores, measured 4× faster on
    the bucketed pair join at sf0.1 (the inline form re-casts and
    re-computes both norms for every pair). ``extra`` takes column
    names or Column expressions (e.g. a bucket column) — the ONE
    source of truth for the (e, nrm) expression every ANN query's
    determinism argument leans on.
    """
    return emb.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("e"),
        l2_norm(F.col("embedding")).alias("nrm"),
        *extra,
    )


def _exact_cosine_rerank(cands: DataFrame) -> DataFrame:
    """Stage-2 exact rerank shared by the int8 and PQ/ADC paths: from
    candidate rows (query_id, neighbor_id, label, qe, ce) — double
    arrays — compute the exact float cosine (zero-norm guarded:
    bare 0/0 is NaN, which DESC-sorts FIRST so a zero vector would
    outrank every true neighbor; NULL sorts last like the exact path)
    and keep the top-K under the (cosine desc, neighbor_id) total
    order. ONE definition (r16 review): the two quantized paths
    carried character-identical copies of this determinism-critical
    arithmetic, which also re-implemented functions.vector's
    dot_product/l2_norm folds."""
    reranked = cands.select(
        "query_id",
        "neighbor_id",
        "label",
        cosine_from_parts(
            dot_product(F.col("qe"), F.col("ce")),
            l2_norm(F.col("qe")),
            l2_norm(F.col("ce")),
        ).alias("cosine"),
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "label", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


def _pair_cosine(a: str, b: str) -> F.Column:
    dot = F.aggregate(
        F.zip_with(F.col(f"{a}.e"), F.col(f"{b}.e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return cosine_from_parts(dot, F.col(f"{a}.nrm"), F.col(f"{b}.nrm"))

DIM = 64
N_QUERIES = 5  # vec_id < 5 are the query vectors
TOP_K = 10

# DuckDB twin of functions.vector: sequential double fold over indices.
_SQL_DOT = (
    "list_sum(list_transform(range(1, {dim} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)
_SQL_NORM = (
    "sqrt(list_sum(list_transform(range(1, {dim} + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))))"
)


def _sql_cosine(a: str, b: str, dim: int = DIM) -> str:
    dot = _SQL_DOT.format(a=a, b=b, dim=dim)
    na = _SQL_NORM.format(a=a, dim=dim)
    nb = _SQL_NORM.format(a=b, dim=dim)
    return f"CASE WHEN {na} * {nb} > 0 THEN {dot} / ({na} * {nb}) END"


@register(
    "embed_cosine_topk",
    oracle=f"""
        WITH q AS (SELECT vec_id AS query_id, embedding AS qe
                   FROM embeddings WHERE vec_id < {N_QUERIES}),
             c AS (SELECT vec_id AS neighbor_id, embedding AS ce, label
                   FROM embeddings),
             scored AS (
                 SELECT query_id, neighbor_id, label,
                        {_sql_cosine("qe", "ce")} AS cosine
                 FROM q CROSS JOIN c
                 WHERE query_id <> neighbor_id
             )
        SELECT query_id, neighbor_id, label, cosine, rn
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
        ORDER BY query_id, rn
    """,
    description=f"Brute-force cosine top-{TOP_K} for {N_QUERIES} query "
    "vectors: broadcast the (tiny) query side against the full corpus, "
    "score with pure array expressions, per-query top-k via window. "
    "At 100 TB the same plan holds — queries broadcast, corpus never "
    "shuffles, k rows per query come back.",
    tags=("similarity", "ann"),
)
def embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    pre = _prepared(emb, "label")
    q = pre.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = pre.alias("c")
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("q.vec_id").alias("query_id"),
            F.col("c.vec_id").alias("neighbor_id"),
            F.col("c.label").alias("label"),
            _pair_cosine("q", "c").alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "label", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


# --------------------------------------------------------------------------
# Random-hyperplane LSH: 8 fixed hyperplanes (seed 42) → 8-bit bucket;
# same-bucket join replaces the cross join. Deterministic (hyperplanes
# are literals), so fully oracle-checkable — both engines compute the
# identical bucketing and identical within-bucket ranking.
# --------------------------------------------------------------------------

N_PLANES = 8
#: The pool holds more planes than the default so scale callers can
#: raise ``n_planes`` (2^planes buckets must grow with the corpus or
#: buckets run hot); planes are drawn sequentially, so the first
#: N_PLANES — everything the oracle-checked queries use — are
#: unchanged by the larger pool.
MAX_PLANES = 16
_rng = np.random.default_rng(42)
HYPERPLANES: list[list[float]] = [
    [float(x) for x in _rng.standard_normal(DIM)] for _ in range(MAX_PLANES)
]


def _check_planes(n_planes: int) -> None:
    """Silent-cap guard: HYPERPLANES[:n] quietly uses fewer planes
    than asked once n exceeds the bank, which would hand a caller
    2^16 buckets when they sized for 2^20 — refuse instead (the bank
    size MAX_PLANES is the constant to grow)."""
    if n_planes > len(HYPERPLANES):
        raise ValueError(
            f"n_planes={n_planes} exceeds the {len(HYPERPLANES)}-plane "
            "hyperplane bank (MAX_PLANES); extend the bank rather than "
            "silently bucketing coarser than requested"
        )


def _sql_bucket(col: str, n_planes: int = N_PLANES) -> str:
    _check_planes(n_planes)
    bits = []
    for p, plane in enumerate(HYPERPLANES[:n_planes]):
        # string→DOUBLE parse, NOT bare literals: DuckDB types a bare
        # 17-digit literal DECIMAL(18,17), silently losing the final
        # digit (measured: 6 of plane 0's 64 coefficients round-trip
        # wrong), so a near-zero dot could flip its sign bit vs
        # Spark's exact F.lit double — '..'::DOUBLE is correctly
        # rounded and bit-identical to the Python float
        lits = "[" + ", ".join(f"'{v!r}'::DOUBLE" for v in plane) + "]"
        dot = _SQL_DOT.format(a=col, b=lits, dim=DIM)
        bits.append(f"(CASE WHEN {dot} >= 0 THEN {1 << p} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


def _spark_bucket(col: F.Column, n_planes: int = N_PLANES) -> F.Column:
    _check_planes(n_planes)
    total = F.lit(0)
    for p, plane in enumerate(HYPERPLANES[:n_planes]):
        lits = F.array(*[F.lit(v) for v in plane])
        dot = F.aggregate(
            F.zip_with(col, lits, lambda x, y: x.cast("double") * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        total = total + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return total


@register(
    "embed_lsh_topk",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding, label, {_sql_bucket("embedding")} AS bucket
            FROM embeddings
        ),
        q AS (SELECT vec_id AS query_id, embedding AS qe, bucket
              FROM b WHERE vec_id < {N_QUERIES}),
        scored AS (
            SELECT q.query_id, b.vec_id AS neighbor_id, b.label, b.bucket,
                   {_sql_cosine("q.qe", "b.embedding")} AS cosine
            FROM q JOIN b ON q.bucket = b.bucket AND q.query_id <> b.vec_id
        )
        SELECT query_id, neighbor_id, label, bucket, cosine, rn
        FROM (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                         ORDER BY cosine DESC, neighbor_id ASC) AS rn
            FROM scored
        )
        WHERE rn <= {TOP_K}
        ORDER BY query_id, rn
    """,
    description=f"LSH-bucketed ANN: {N_PLANES} fixed random hyperplanes "
    "(seed 42) → sign-bit bucket; candidates are same-bucket only, so "
    "the scale cost is a bucket-key equi-join instead of a cross join "
    "(~1/256 of the pairs at 100 TB, tunable via planes/bands).",
    tags=("similarity", "ann", "lsh"),
)
def embed_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    pre = _prepared(
        emb, "label", _spark_bucket(F.col("embedding")).alias("bucket")
    )
    q = pre.filter(F.col("vec_id") < N_QUERIES).alias("q")
    c = pre.alias("c")
    scored = c.join(
        F.broadcast(q),
        (F.col("c.bucket") == F.col("q.bucket"))
        & (F.col("q.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("q.vec_id").alias("query_id"),
        F.col("c.vec_id").alias("neighbor_id"),
        F.col("c.label").alias("label"),
        F.col("c.bucket").alias("bucket"),
        _pair_cosine("q", "c").alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "label", "bucket", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


# --------------------------------------------------------------------------
# Embedding-cosine near-dedup: coarse LSH bucket (4 planes → 16
# buckets) prunes the pair space, exact cosine filter confirms. The
# candidate set is bucket-local by construction — the oracle checks the
# same (bucketed ∧ cosine ≥ τ) semantics exactly.
# --------------------------------------------------------------------------

NEAR_DUP_PLANES = 4
NEAR_DUP_TAU = 0.35


_SQL_EMBED_NEAR_DUP_ORACLE = f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_sql_bucket("embedding", NEAR_DUP_PLANES)} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_sql_cosine("a.embedding", "b.embedding")} AS cosine
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_sql_cosine("a.embedding", "b.embedding")} >= {NEAR_DUP_TAU}
        ORDER BY vec_a, vec_b
    """


@register(
    "embed_near_dup_pairs",
    oracle=_SQL_EMBED_NEAR_DUP_ORACLE,
    description="Embedding-cosine near-duplicate pairs: "
    f"{NEAR_DUP_PLANES}-plane sign-LSH bucket equi-join prunes the "
    f"quadratic pair space, exact cosine ≥ {NEAR_DUP_TAU} confirms. On "
    "a near-dup-dense corpus a hot bucket's pair block is quadratic in "
    "ONE reducer, so above LARGE_INPUT_BYTES the self-join runs "
    "through operators.skew.blocked_self_pairs (triangular blocking: "
    "the hot bucket's pairs spread over S(S+1)/2 reducers) — identical "
    "pair set, asserted in tests/test_skew.py.",
    tags=("similarity", "dedup", "lsh"),
)
def embed_near_dup_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_blocks: int | None = None,
    n_planes: int = NEAR_DUP_PLANES,
) -> DataFrame:
    """``n_planes`` is the bucket-granularity scale lever (2^planes
    buckets): the registry entry pins the oracle-checked default; a
    corpus of n vectors wants roughly log2(n / target_bucket_size)
    planes or buckets run hot and the exact-cosine confirm pays a
    quadratic per-bucket bill — 174 s at 4 planes vs 10.8 s at 10
    planes for 100k vectors (local[32]). The maintained-store scale
    smoke (``scale_smoke.py --mode embstore``) passes planes derived
    from its corpus size. More planes trade candidate RECALL for
    pruning (collision prob per pair is (1-θ/π)^planes); production
    near-dup at low planes-recall runs multiple tables, which is this
    same query unioned over disjoint plane subsets."""
    from bigdata_flightanalysis_spark.operators.skew import blocked_self_pairs

    emb = read_table(spark, sf_dir, "embeddings")
    if n_blocks is None:
        # With only 2^n_planes buckets a large dense corpus makes every
        # bucket hot, and an unblocked join puts each bucket's
        # quadratic pair block in a single reducer: block 8 ways.
        n_blocks = 8 if is_large_input(emb) else 1
    pre = _prepared(
        emb,
        _spark_bucket(F.col("embedding"), n_planes).alias("bucket"),
    )
    pairs = blocked_self_pairs(pre, "bucket", "vec_id", n_blocks=n_blocks)
    return (
        pairs.select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _pair_cosine("a", "b").alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_TAU)
        .orderBy("vec_a", "vec_b")
    )


@register(
    "embed_near_dup_pairs_largemode",
    oracle=_SQL_EMBED_NEAR_DUP_ORACLE,
    description="The FORCED skew-blocked plan of embed_near_dup_pairs "
    "(n_blocks=8): the LSH-bucket self-join runs through triangular "
    "pair blocking so a hot bucket's quadratic pair block spreads over "
    "S(S+1)/2 reducers — the shape the pipeline switches to above "
    "LARGE_INPUT_BYTES. Same oracle, same rows; registered so the "
    "correctness harness exercises the blocked physical plan the "
    "100 TB path actually runs.",
    tags=("similarity", "dedup", "lsh", "skew", "largemode"),
)
def embed_near_dup_pairs_largemode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return embed_near_dup_pairs(spark, sf_dir, n_blocks=8)


#: vec_id % 10 == 8 plays the held-out eval benchmark (~10 % of the
#: corpus — large enough that the driver fixtures yield non-empty
#: contamination at every SF, so the check never passes vacuously).
_DECON_MOD, _DECON_REM = 10, 8


@register(
    "embed_decontamination",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_sql_bucket("embedding", NEAR_DUP_PLANES)} AS bucket
            FROM embeddings
        ),
        bench AS (SELECT * FROM b WHERE vec_id % {_DECON_MOD} = {_DECON_REM}),
        train AS (SELECT * FROM b WHERE vec_id % {_DECON_MOD} <> {_DECON_REM})
        SELECT t.vec_id,
               CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
               MAX({_sql_cosine("t.embedding", "q.embedding")}) AS max_cosine
        FROM train t JOIN bench q ON t.bucket = q.bucket
        WHERE {_sql_cosine("t.embedding", "q.embedding")} >= {NEAR_DUP_TAU}
        GROUP BY t.vec_id
        ORDER BY t.vec_id
    """,
    description="SEMANTIC decontamination — the embedding-similarity "
    "twin of the n-gram `doc_decontamination`: training vectors whose "
    "cosine against any held-out benchmark vector (vec_id % 10 == 8 "
    "stands in for the eval set) reaches the near-dup threshold are "
    "flagged with hit count and max similarity, the paraphrase-level "
    "test-set leakage n-gram overlap misses. Scale shape: the "
    "benchmark side is eval-set-sized (small) and BROADCAST; "
    "candidates are sign-LSH bucket-local, so the corpus is scanned "
    "once and never shuffled, and the exact-cosine confirm pays only "
    "bucket-colliding pairs. Same deterministic fold arithmetic as "
    "the ANN family — MAX over an identical pair set is engine-exact.",
    tags=("similarity", "decontamination", "lsh", "governance"),
)
def embed_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    pre = _prepared(
        emb,
        _spark_bucket(F.col("embedding"), NEAR_DUP_PLANES).alias("bucket"),
    )
    is_bench = (F.col("vec_id") % _DECON_MOD) == _DECON_REM
    t = pre.filter(~is_bench).alias("t")
    q = pre.filter(is_bench).alias("q")
    return (
        t.join(F.broadcast(q), F.col("t.bucket") == F.col("q.bucket"))
        .select(
            F.col("t.vec_id").alias("vec_id"),
            _pair_cosine("t", "q").alias("cosine"),
        )
        .filter(F.col("cosine") >= NEAR_DUP_TAU)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bench_hits"),
            F.max("cosine").alias("max_cosine"),
        )
        .orderBy("vec_id")
    )


#: Every 5th vector plays the "incoming batch" — same convention as
#: doc_near_dup_incremental (queries/text.py) so the two incremental
#: paths are tested against the same ingest split.
_EMB_INCR_MOD, _EMB_INCR_REM = 5, 4


@register(
    "embed_near_dup_incremental",
    oracle=f"""
        WITH b AS (
            SELECT vec_id, embedding,
                   {_sql_bucket("embedding", NEAR_DUP_PLANES)} AS bucket
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_sql_cosine("a.embedding", "b.embedding")} AS cosine
        FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE (a.vec_id % {_EMB_INCR_MOD} = {_EMB_INCR_REM}
               OR b.vec_id % {_EMB_INCR_MOD} = {_EMB_INCR_REM})
          AND {_sql_cosine("a.embedding", "b.embedding")} >= {NEAR_DUP_TAU}
        ORDER BY vec_a, vec_b
    """,
    description="INCREMENTAL embedding near-dedup — the ANN twin of "
    "`doc_near_dup_incremental`: an incoming batch (vec_id % 5 == 4) "
    "is bucketed once and probed against the persisted "
    "(vec_id, bucket, embedding) store of the already-ingested corpus; "
    "only the batch is re-bucketed, and with the store "
    "hash/partition-laid-out by bucket the probe join touches only the "
    "batch's buckets, never the whole history. Exact cosine ≥ τ "
    "confirms (symmetric fold — orientation-independent, so "
    "batch-vs-batch pairs dedup exactly). The oracle is the "
    "full-corpus bucketed pair set restricted to pairs touching the "
    "batch: hash-matching proves incremental ingest finds EXACTLY the "
    "pairs a full recompute would. The maintained-store form is "
    "operators/incremental.py:incremental_embed_near_dup_pairs "
    "(replay-safe append; streaming-ingest E2E in "
    "tests/test_incremental.py proves emitted pairs == one-shot set).",
    tags=("similarity", "dedup", "lsh", "incremental"),
)
def embed_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    pre = _prepared(
        emb,
        _spark_bucket(F.col("embedding"), NEAR_DUP_PLANES).alias("bucket"),
    )
    is_new = (F.col("vec_id") % _EMB_INCR_MOD) == _EMB_INCR_REM
    # In production the store is a maintained bucket-partitioned table
    # (append the batch after each ingest); derived here from the "old"
    # slice so the query is self-contained on driver testdata.
    store = pre.filter(~is_new)
    batch = pre.filter(is_new)
    probe_side = store.unionByName(batch)  # batch-vs-store AND batch-vs-batch
    a, b = batch.alias("a"), probe_side.alias("b")
    return (
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
        .orderBy("vec_a", "vec_b")
    )


@register(
    "embed_label_centroids",
    oracle=f"""
        SELECT label, COUNT(*) AS n_vectors,
               {", ".join(
                   f"CAST(SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(38,12))) AS DOUBLE)"
                   f" / COUNT(*) AS c_{i}" for i in range(4)
               )}
        FROM embeddings
        GROUP BY label
        ORDER BY label
    """,
    description="Per-label centroid (first 4 dims shown) via exact "
    "decimal accumulation — the map-side-combinable aggregation shape "
    "that a distributed KMeans iteration uses.",
    tags=("similarity", "ml"),
)
def embed_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings")
    aggs = [
        (
            F.sum(F.element_at("embedding", i + 1).cast("double").cast("decimal(38,12)"))
            .cast("double")
            / F.count("*")
        ).alias(f"c_{i}")
        for i in range(4)
    ]
    return (
        emb.groupBy("label")
        .agg(F.count("*").alias("n_vectors"), *aggs)
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# MLlib KMeans over embeddings — the fit is iterative and not
# SQL-reproducible, so each query emits its contract (row counts and
# invariant booleans) and the oracle expects those literal values.
# --------------------------------------------------------------------------


IVF_K = 16
IVF_NPROBE = 4


def ivf_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed IVF top-k result (query_id, neighbor_id, list_id,
    cosine, rn) — the real ANN output. Exposed for tests; the
    registered query wraps it in the recall-contract summary (the
    neighbor set depends on the KMeans fit, which no SQL engine can
    reproduce, so the checkable surface is the recall bound)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = read_table(spark, sf_dir, "embeddings")
    feat = emb.select(
        "vec_id",
        "embedding",
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features"),
    )
    if feat.isEmpty():  # clear error beats MLlib's opaque stage failure
        raise ValueError("IVF index build requires a non-empty embeddings table")
    model = KMeans(k=IVF_K, seed=42, featuresCol="features").fit(feat)
    assigned = model.transform(feat).select(
        "vec_id", "embedding", F.col("prediction").alias("list_id")
    )
    # _prepared is the one source of truth for the (e, nrm) expression
    # every ANN determinism argument leans on — no inline copy
    pre = _prepared(assigned, "list_id")

    # Probe plan: per query, the IVF_NPROBE nearest centroids by
    # (squared) euclidean distance. Centroids are a k-row literal —
    # driver-side math on k vectors, broadcast back out.
    centers = [[float(x) for x in c] for c in model.clusterCenters()]
    q = pre.filter(F.col("vec_id") < N_QUERIES)
    dist_cols = []
    for cid, c in enumerate(centers):
        lits = F.array(*[F.lit(v) for v in c])
        d = F.aggregate(
            F.zip_with(F.col("e"), lits, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        dist_cols.append(F.struct(d.alias("dist"), F.lit(cid).alias("cid")))
    probes = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
        F.explode(
            F.slice(F.array_sort(F.array(*dist_cols)), 1, IVF_NPROBE)
        ).alias("p"),
    ).select("query_id", "qe", "qnrm", F.col("p.cid").alias("list_id"))

    cand = pre.join(F.broadcast(probes), "list_id").filter(
        F.col("query_id") != F.col("vec_id")
    )
    dot = F.aggregate(
        F.zip_with(F.col("qe"), F.col("e"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        "list_id",
        cosine_from_parts(dot, F.col("qnrm"), F.col("nrm")).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("query_id", "neighbor_id", "list_id", "cosine", "rn")
        .orderBy("query_id", "rn")
    )


def _recall_vs_exact(approx: DataFrame, exact: DataFrame) -> DataFrame:
    """Per-query recall of an ANN result against the exact top-k:
    (query_id, n_neighbors, n_hits). Both inputs are N_QUERIES×TOP_K
    rows, so the join is driver-trivial at any corpus scale."""
    hits = (
        approx.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "left_semi",
        )
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        approx.groupBy("query_id")
        .agg(F.count("*").alias("n_neighbors"))
        .join(hits, "query_id", "left")
        .na.fill({"n_hits": 0})
    )


@register(
    "embed_ivf_topk",
    oracle=f"""
        SELECT vec_id AS query_id,
               CAST({TOP_K} AS BIGINT) AS n_neighbors,
               TRUE AS recall_ge_030
        FROM embeddings WHERE vec_id < {N_QUERIES}
        ORDER BY query_id
    """,
    description=f"IVF-style ANN: KMeans (k={IVF_K}, seed=42) partitions "
    "the corpus into inverted lists; each query probes its "
    f"{IVF_NPROBE} nearest centroids and scores exact cosine only "
    "inside those lists — at 100 TB the corpus is hash-partitioned by "
    "list id, the (tiny) probe plan broadcasts, and the scan touches "
    f"~{IVF_NPROBE}/{IVF_K} of the data. The neighbor set depends on "
    "the iterative centroid fit (not SQL-reproducible), so the query "
    "emits the ANN contract instead: exactly top-k rows per query and "
    f"a Spark-computed recall-vs-exact ≥ 0.3 bound (what "
    f"{IVF_NPROBE}/{IVF_K} probing honestly delivers on isotropic "
    "synthetic vectors); the oracle expects literal TRUE, so the hash "
    "matches iff the bound holds. Detailed neighbors: "
    "ivf_topk_frame(), invariant-tested in tests/test_ivf.py.",
    tags=("similarity", "ann", "ivf"),
)
def embed_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = _recall_vs_exact(
        ivf_topk_frame(spark, sf_dir), embed_cosine_topk(spark, sf_dir)
    )
    return rec.select(
        "query_id",
        "n_neighbors",
        (F.col("n_hits") / F.lit(float(TOP_K)) >= 0.3).alias("recall_ge_030"),
    ).orderBy("query_id")


_KMEANS_EMB_K = 8


def kmeans_clusters_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed per-cluster sizes of KMeans(k=8, seed=42, MLlib) over
    the embedding column — (cluster, n_vectors). Exposed for tests and
    downstream use; the registered query wraps it in a contract summary
    (the size vector depends on the iterative centroid fit, so it is
    not SQL-reproducible). Mirrors the reference's clustering stage
    (Code/flight_analysis.py:135-141)."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        array_to_vector(F.col("embedding").cast("array<double>")).alias(
            "features"
        ),
    )
    if emb.isEmpty():  # clear error beats MLlib's opaque stage failure
        raise ValueError("KMeans clustering requires a non-empty embeddings table")
    model = KMeans(k=_KMEANS_EMB_K, seed=42, featuresCol="features").fit(emb)
    pred = model.transform(emb)
    return (
        pred.groupBy(F.col("prediction").alias("cluster"))
        .agg(F.count("*").alias("n_vectors"))
        .orderBy("cluster")
    )


@register(
    "kmeans_embedding_clusters",
    oracle=f"""
        SELECT CAST({_KMEANS_EMB_K} AS BIGINT) AS k,
               CAST(COUNT(*) AS BIGINT) AS n_vectors,
               TRUE AS all_assigned,
               TRUE AS nonempty_le_k,
               TRUE AS nonempty_ge_2,
               TRUE AS seed_stable
        FROM embeddings
    """,
    description=f"KMeans (k={_KMEANS_EMB_K}, seed=42, MLlib) over the "
    "embedding column, verified via the same contract trick that made "
    "PageRank and IVF oracle-checkable: the cluster-size vector "
    "depends on the iterative centroid fit (not SQL-reproducible), so "
    "the query emits the clustering CONTRACT — k, corpus size, "
    "all-rows-assigned (Σ cluster sizes == COUNT(*) embeddings), "
    "non-empty cluster count within (2, k], and seed-stability (two "
    "independent seed=42 fits produce the identical size multiset) — "
    "as literal booleans the oracle expects TRUE; the hash matches iff "
    "every invariant holds. Detailed sizes: kmeans_clusters_frame(), "
    "seed-determinism tested in tests/test_ivf.py. "
    "Mirrors the reference's clustering stage "
    "(Code/flight_analysis.py:135-141).",
    tags=("similarity", "ml", "contract"),
)
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    sizes = kmeans_clusters_frame(spark, sf_dir)
    sizes2 = kmeans_clusters_frame(spark, sf_dir)
    corpus_n = read_table(spark, sf_dir, "embeddings").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors")
    )
    s1 = sizes.agg(
        F.sum("n_vectors").cast("bigint").alias("assigned"),
        F.count(F.lit(1)).cast("bigint").alias("nonempty"),
        F.sort_array(F.collect_list("n_vectors")).alias("size_multiset"),
    )
    s2 = sizes2.agg(
        F.sort_array(F.collect_list("n_vectors")).alias("size_multiset_2")
    )
    return (
        s1.crossJoin(s2)
        .crossJoin(corpus_n)
        .select(
            F.lit(_KMEANS_EMB_K).cast("bigint").alias("k"),
            "n_vectors",
            (F.col("assigned") == F.col("n_vectors")).alias("all_assigned"),
            (F.col("nonempty") <= F.lit(_KMEANS_EMB_K)).alias("nonempty_le_k"),
            (F.col("nonempty") >= F.lit(2)).alias("nonempty_ge_2"),
            (F.col("size_multiset") == F.col("size_multiset_2")).alias(
                "seed_stable"
            ),
        )
    )


@register(
    "embed_standardize",
    oracle=f"""
        WITH e AS (
            -- NULL-embedding rows are excluded on BOTH sides: Spark's
            -- posexplode emits no rows for a NULL array while this
            -- range()-driven unnest would emit DIM x-NULL rows,
            -- inflating every dimension's n (r16 review)
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev
            FROM embeddings WHERE embedding IS NOT NULL
        ),
        dims AS (
            SELECT vec_id, t.i AS pos, t.x AS x FROM (
                SELECT vec_id,
                       unnest(list_transform(range(1, {DIM} + 1),
                              i -> {{'i': i, 'x': ev[i]}})) AS t
                FROM e
            )
        ),
        st AS (
            SELECT pos,
                   COUNT(*) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,9))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(x * x AS DECIMAL(38,9))) AS DOUBLE) AS sxx
            FROM dims GROUP BY pos
        ),
        ms AS (
            SELECT pos, sx / n AS mean,
                   sqrt(sxx / n - (sx / n) * (sx / n)) AS std
            FROM st
        )
        SELECT d.vec_id,
               string_agg(
                   CAST(CAST(floor(
                       CASE WHEN m.std <> 0
                            THEN (d.x - m.mean) / m.std ELSE 0.0 END
                       * 1000.0 + 0.5) AS BIGINT) AS VARCHAR),
                   ',' ORDER BY d.pos) AS z_milli
        FROM dims d JOIN ms m USING (pos)
        GROUP BY d.vec_id
        ORDER BY vec_id
    """,
    description="Per-dimension z-score standardization of the "
    "embedding column (the feature-scaling pass ANN quantizers and "
    "clustering run on so no dimension dominates the metric): "
    "population mean/std per dimension from ONE posexplode + "
    "map-side-combined aggregate (DIM rows cross the shuffle, decimal "
    "accumulation for engine-exact moments), packed into two "
    "DIM-length arrays on a single broadcast row, then applied with "
    "zip_with — the corpus is touched in one narrow pass and never "
    "shuffles. Zero-variance dimensions standardize to 0 (guarded in "
    "both engines). Output z-scores are quantized to 1e-3 and emitted "
    "as an int CSV string: double→string rendering differs across "
    "engines, floor(z·1000+0.5) of the identical expression tree does "
    "not.",
    tags=("similarity", "ml", "scaling"),
)
def embed_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = (
        read_table(spark, sf_dir, "embeddings")
        # matches the oracle's WHERE embedding IS NOT NULL — a missing
        # vector can't be standardized and must not skew the moments
        .where(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    )
    dims = emb.select(F.posexplode("e").alias("pos", "x"))
    mean = F.col("sx") / F.col("n")
    stats = (
        dims.groupBy("pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("x").cast("decimal(38,9)")).cast("double").alias("sx"),
            F.sum((F.col("x") * F.col("x")).cast("decimal(38,9)"))
            .cast("double")
            .alias("sxx"),
        )
        .select(
            "pos",
            mean.alias("mean"),
            F.sqrt(F.col("sxx") / F.col("n") - mean * mean).alias("std"),
        )
    )
    packed = stats.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mean"))),
            lambda s: s["mean"],
        ).alias("means"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "std"))),
            lambda s: s["std"],
        ).alias("stds"),
    )
    centered = F.zip_with("e", F.col("means"), lambda x, m: x - m)
    z = F.zip_with(
        centered,
        F.col("stds"),
        lambda d, s: F.when(s != 0, d / s).otherwise(F.lit(0.0)),
    )
    q = F.transform(z, lambda v: F.floor(v * 1000.0 + F.lit(0.5)).cast("long"))
    return (
        emb.crossJoin(F.broadcast(packed))
        .select(
            "vec_id", F.array_join(q.cast("array<string>"), ",").alias("z_milli")
        )
        .orderBy("vec_id")
    )


@register(
    "embed_quantize_int8",
    oracle="""
        SELECT vec_id, maxabs,
               -- zero-vector guard on BOTH engines: 127/0 is an ANSI
               -- exception on Spark and NULL here — a zero vector
               -- quantizes to all-zero codes by definition
               array_to_string(list_transform(
                   e,
                   x -> CAST(floor(
                       CASE WHEN maxabs > 0 THEN x * (127.0 / maxabs)
                            ELSE 0.0 END
                       + 0.5) AS INT)
               ), ',') AS q
        FROM (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
                   list_max(list_transform(CAST(embedding AS DOUBLE[]),
                                           x -> abs(x))) AS maxabs
            FROM embeddings
        )
        ORDER BY vec_id
    """,
    description="Symmetric int8 quantization (the 4× embedding-store "
    "compression every vector index at corpus scale runs on): "
    "per-vector scale 127/max|x|, values floor(x·scale + 0.5). "
    "Deliberately NOT round(): Spark rounds HALF_UP, DuckDB "
    "HALF_EVEN — floor(+0.5) is the same total function on both. "
    "All arithmetic in double after one explicit cast from the "
    "float32 storage type; pure narrow transformation, zero "
    "shuffles except the presentation sort. The int8 vector is "
    "emitted as a CSV string — final schemas are scalar-only so the "
    "differential harness's pandas canonicalizer never sees a list "
    "cell.",
    tags=("similarity", "quantization"),
)
def embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    maxabs = F.array_max(F.transform("e", lambda x: F.abs(x)))
    scaled = emb.select("vec_id", "e", maxabs.alias("maxabs"))
    # zero-vector guard: 127/0 throws under ANSI (the oracle's CASE is
    # the same pin) — a zero vector quantizes to all-zero codes
    q = F.transform(
        "e",
        lambda x: F.floor(
            F.when(
                F.col("maxabs") > 0, x * (F.lit(127.0) / F.col("maxabs"))
            ).otherwise(F.lit(0.0))
            + F.lit(0.5)
        ).cast("int"),
    )
    return (
        scaled.select(
            "vec_id",
            "maxabs",
            F.array_join(q.cast("array<string>"), ",").alias("q"),
        )
        .orderBy("vec_id")
    )


def quantized_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed int8-rerank top-k (query_id, neighbor_id, label,
    cosine, rn). Exposed for tests; the registered query wraps it in
    the recall-contract summary (candidate order under quantization is
    engine-arithmetic-specific, so the checkable surface is recall)."""
    emb = read_table(spark, sf_dir, "embeddings")
    # int8-quantized corpus: q = floor(x·(127/maxabs) + 0.5), zero
    # vectors to all-zero codes (127/0 throws under ANSI — the same
    # guard as embed_quantize_int8)
    e_dbl = F.col("embedding").cast("array<double>")
    maxabs = F.array_max(F.transform(e_dbl, lambda x: F.abs(x)))
    corpus = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        e_dbl.alias("ce"),
        F.transform(
            e_dbl,
            lambda x: F.floor(
                F.when(maxabs > 0, x * (F.lit(127.0) / maxabs)).otherwise(
                    F.lit(0.0)
                )
                + F.lit(0.5)
            ).cast("int"),
        ).alias("cq"),
    )
    queries = corpus.filter(F.col("neighbor_id") < N_QUERIES).select(
        F.col("neighbor_id").alias("query_id"),
        F.col("ce").alias("qe"),
        F.col("cq").alias("qq"),
    )
    # stage 1: integer dot product on quantized vectors
    int_dot = F.aggregate(
        F.zip_with("qq", "cq", lambda a, b: (a * b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cand_k = 3 * TOP_K
    scored = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id", "neighbor_id", "label", "qe", "ce",
            int_dot.alias("idot"),
        )
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("idot").desc(), F.col("neighbor_id").asc()
    )
    cands = scored.withColumn("crn", F.row_number().over(w1)).filter(
        F.col("crn") <= cand_k
    )
    # stage 2: exact float cosine rerank of the survivors only
    return _exact_cosine_rerank(cands)


@register(
    "embed_quantized_topk",
    oracle=f"""
        SELECT vec_id AS query_id,
               CAST({TOP_K} AS BIGINT) AS n_neighbors,
               TRUE AS recall_ge_090
        FROM embeddings WHERE vec_id < {N_QUERIES}
        ORDER BY query_id
    """,
    description="Asymmetric quantized ANN: corpus vectors stored int8 "
    "(embed_quantize_int8's 4× compression), queries kept float. "
    "Stage 1 scores int-dot-product against the quantized corpus and "
    "keeps 3k candidates per query (integer math — SIMD-friendly and "
    "cheap at corpus scale); stage 2 reranks only those candidates "
    "with exact float cosine. Same broadcast-queries/corpus-never-"
    "shuffles plan as the brute-force query. The query emits the ANN "
    "contract — exactly top-k rows per query plus a Spark-computed "
    "recall-vs-exact ≥ 0.9 bound (the 3x candidate margin recovers "
    "the exact set on 8-bit-quantized ~unit vectors); the oracle "
    "expects literal TRUE, so the hash matches iff the bound holds. "
    "Detailed neighbors: quantized_topk_frame(), recall-tested in "
    "tests/test_ivf.py.",
    tags=("similarity", "ann", "quantization"),
)
def embed_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = _recall_vs_exact(
        quantized_topk_frame(spark, sf_dir), embed_cosine_topk(spark, sf_dir)
    )
    return rec.select(
        "query_id",
        "n_neighbors",
        (F.col("n_hits") / F.lit(float(TOP_K)) >= 0.9).alias("recall_ge_090"),
    ).orderBy("query_id")


# --------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the codebook-compression end of the
# ANN family: int8 keeps 1 byte per DIMENSION, PQ keeps 1 byte per
# SUBSPACE (here 8 codes for 64 dims = 64× smaller than float64).
# --------------------------------------------------------------------------

PQ_M = 8            # subspaces
PQ_SUB_DIM = 8      # 64 dims / 8
PQ_CODEBOOK_K = 16  # centroids per subspace → 4-bit codes, 16^8 cells
PQ_TRAIN_N = 2048   # bounded, DETERMINISTIC codebook training sample
PQ_CAND_MULT = 5    # stage-1 ADC candidates per query = mult × top-k


def _pq_codebooks(train: list[list[float]]) -> list[list[list[float]]]:
    """Seeded numpy Lloyd per subspace on the bounded training sample.

    Codebook training is the one deliberately driver-side step: PQ
    codebooks never need the full corpus (the canonical recipe trains
    on a small sample), so the engine collects a FIXED-SIZE,
    deterministic sample (vec_id-ordered, ≤ PQ_TRAIN_N rows — bounded
    at any corpus scale, like the compat top-K collect) and runs
    15 exact Lloyd iterations in numpy. No MLlib fit: 8 subspace
    KMeans fits cost ~10 s of job overhead at test SF for identical
    codebook quality from a sample.
    """
    import numpy as np

    x = np.asarray(train, dtype=np.float64)
    books: list[list[list[float]]] = []
    for m in range(PQ_M):
        sub = x[:, m * PQ_SUB_DIM : (m + 1) * PQ_SUB_DIM]
        rng = np.random.default_rng(42 + m)
        # replace=True only when the sample is smaller than K (tiny
        # corpora) — without-replacement is impossible there and the
        # duplicate seeds collapse via Lloyd's mean step
        centers = sub[
            rng.choice(len(sub), PQ_CODEBOOK_K, replace=len(sub) < PQ_CODEBOOK_K)
        ]
        for _ in range(15):
            d = ((sub[:, None, :] - centers[None, :, :]) ** 2).sum(axis=2)
            assign = d.argmin(axis=1)
            for c in range(PQ_CODEBOOK_K):
                mask = assign == c
                if mask.any():
                    centers[c] = sub[mask].mean(axis=0)
        books.append([[float(v) for v in c] for c in centers])
    return books


def _pq_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("e")
    )


def pq_codebook_frame(spark: SparkSession, emb: DataFrame) -> DataFrame:
    """(m, c, center) codebook relation: seeded Lloyd on the bounded
    deterministic sample (see _pq_codebooks)."""
    train = [
        r["e"]
        for r in emb.orderBy("vec_id").limit(PQ_TRAIN_N).select("e").collect()
    ]
    if not train:
        # empty corpus → empty codebooks → every downstream PQ join is
        # empty; an upstream filter legitimately yields zero vectors
        # and must not crash numpy training with an IndexError
        return spark.createDataFrame([], "m int, c int, center array<double>")
    codebooks = _pq_codebooks(train)
    return spark.createDataFrame(
        [
            (m, c, codebooks[m][c])
            for m in range(PQ_M)
            for c in range(PQ_CODEBOOK_K)
        ],
        "m int, c int, center array<double>",
    )


def pq_subspace_rows(emb: DataFrame) -> DataFrame:
    """(vec_id, m, sub): each vector split into its M subspace slices."""
    sub_structs = F.array(
        *[
            F.struct(
                F.lit(m).alias("m"),
                F.slice("e", m * PQ_SUB_DIM + 1, PQ_SUB_DIM).alias("sub"),
            )
            for m in range(PQ_M)
        ]
    )
    return emb.select("vec_id", F.explode(sub_structs).alias("s")).select(
        "vec_id", F.col("s.m").alias("m"), F.col("s.sub").alias("sub")
    )


def pq_encode(by_sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(vec_id, m, code): argmin centroid per (vec, m) — min over a
    struct keeps it a partial-aggregable groupBy, no window. This is
    the stored index relation: PQ_M nibbles per vector."""
    l2 = F.aggregate(
        F.zip_with("sub", "center", lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        by_sub.join(F.broadcast(cb), "m")
        .select("vec_id", "m", F.struct(l2.alias("d"), F.col("c")).alias("dc"))
        .groupBy("vec_id", "m")
        .agg(F.min("dc").alias("mn"))
        .select("vec_id", "m", F.col("mn.c").alias("code"))
    )


def pq_query_tables(q_by_sub: DataFrame, cb: DataFrame) -> DataFrame:
    """(query_id, m, c, dot): per-query ADC lookup tables — M×K rows
    per query, the only thing queries contribute to stage-1 scoring."""
    dot_sub = F.aggregate(
        F.zip_with("sub", "center", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return q_by_sub.join(F.broadcast(cb), "m").select(
        F.col("vec_id").alias("query_id"), "m", "c", dot_sub.alias("dot")
    )


def _pq_adc_rerank(
    emb: DataFrame, codes: DataFrame, qtables: DataFrame
) -> DataFrame:
    """Shared PQ stage-1 (ADC candidate generation) + stage-2 (exact
    float-cosine rerank) — ONE definition behind both the inline
    query (:func:`pq_topk_frame`) and the index-serving path
    (:func:`pq_index_topk`), so their asserted result identity is
    structural rather than two copies staying character-identical."""
    adc = (
        # string aliases, not codes["m"] == qtables["m"]: both frames
        # can descend from the same emb scan, where the df["col"] form
        # compares identical expression ids (Spark warns "trivially
        # true" and falls back to its self-join disambiguation) — the
        # aliased form states the join condition unambiguously
        codes.alias("cd")
        .join(
            F.broadcast(qtables.alias("qt")),
            (F.col("cd.m") == F.col("qt.m"))
            & (F.col("cd.code") == F.col("qt.c")),
        )
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        # decimal-exact accumulation: the M dot rows arrive in
        # shuffle-fetch order, so a plain double sum is merge-order
        # nondeterministic — candidates at the crn boundary could swap
        .agg(F.sum(F.col("dot").cast("decimal(38,18)")).cast("double").alias("adc"))
    )
    w1 = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    cands = (
        adc.withColumn("crn", F.row_number().over(w1))
        .filter(F.col("crn") <= PQ_CAND_MULT * TOP_K)
        .select("query_id", "neighbor_id")
    )
    qv = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("e").alias("qe")
    )
    cv = emb.select(
        F.col("vec_id").alias("neighbor_id"), "label", F.col("e").alias("ce")
    )
    return _exact_cosine_rerank(
        cands.join(F.broadcast(qv), "query_id").join(cv, "neighbor_id")
    )


def pq_topk_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detailed PQ-ADC top-k (query_id, neighbor_id, label, cosine,
    rn). Exposed for tests; the registered query wraps it in the
    recall-contract summary (codes depend on the seeded codebooks,
    which no SQL engine reproduces).

    Fully RELATIONAL PQ — codebooks and lookup tables are broadcast
    relations, not giant literal expressions (a first cut inlined all
    M×K centroids as literals: ~260 aggregate lambdas, megabyte task
    binaries, ~10 s of Catalyst/codegen overhead before any data
    moved; this shape plans in milliseconds):

    - codebooks: a (m, c, center) frame from a bounded deterministic
      sample (_pq_codebooks — the corpus-size-independent step);
    - encoding: explode each vector into M subspace rows, broadcast-
      join the codebook, per-(vec, m) argmin → ONE narrow (vec, m,
      code) relation, the stored index (PQ_M nibbles/vector);
    - query tables: same join on the Q×M subspace rows → (query, m,
      c, dot) — M×K rows per query, broadcast;
    - stage-1 ADC: equi-join codes with tables on (m, code) and
      map-side-combined SUM per (query, vec) — approximate inner
      products with no float vector math against the corpus and no
      cross join anywhere;
    - stage-2: exact cosine rerank of the PQ_CAND_MULT×k survivors,
      as in the int8 path.
    """
    emb = _pq_emb(spark, sf_dir)
    cb = pq_codebook_frame(spark, emb)
    by_sub = pq_subspace_rows(emb)
    codes = pq_encode(by_sub, cb)
    qtables = pq_query_tables(
        by_sub.filter(F.col("vec_id") < N_QUERIES), cb
    )
    # stage 1 (ADC) + stage 2 (exact rerank): the shared helper
    return _pq_adc_rerank(emb, codes, qtables)


@register(
    "embed_pq_topk",
    oracle=f"""
        SELECT vec_id AS query_id,
               CAST({TOP_K} AS BIGINT) AS n_neighbors,
               TRUE AS recall_ge_050
        FROM embeddings WHERE vec_id < {N_QUERIES}
        ORDER BY query_id
    """,
    description=f"Product-quantization ANN (Jégou et al. 2011): "
    f"{PQ_M} subspaces × {PQ_CODEBOOK_K} centroids, codebooks trained "
    "on a bounded deterministic sample, corpus stored as "
    f"{PQ_M} nibble codes/vector (64× smaller than float64 — the "
    "memory-footprint end of the ANN family, after int8's 8×). "
    "Stage-1 asymmetric-distance scoring is fully relational: "
    "broadcast per-query lookup tables equi-joined to the code "
    "relation on (subspace, code), summed with map-side combine — no "
    "cross join, no float vector math against the corpus; stage 2 "
    f"reranks the {PQ_CAND_MULT}×k ADC survivors with exact cosine. "
    "The query emits the ANN contract — exactly top-k rows per query "
    "plus a Spark-computed recall-vs-exact ≥ 0.5 bound (what "
    f"{PQ_M}×{PQ_CODEBOOK_K} codebooks honestly deliver on isotropic "
    "synthetic vectors; measured ≥ 0.6 at both test SFs) — the "
    "oracle expects literal TRUE, so the hash matches iff the bound "
    "holds. Detailed neighbors: pq_topk_frame(), recall-tested in "
    "tests/test_ivf.py.",
    tags=("similarity", "ann", "quantization", "pq"),
)
def embed_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    rec = _recall_vs_exact(
        pq_topk_frame(spark, sf_dir), embed_cosine_topk(spark, sf_dir)
    )
    return rec.select(
        "query_id",
        "n_neighbors",
        (F.col("n_hits") / F.lit(float(TOP_K)) >= 0.5).alias("recall_ge_050"),
    ).orderBy("query_id")


def build_pq_index(spark: SparkSession, sf_dir: str, index_path: str) -> None:
    """Materialize the PQ index: ``<path>/codebooks`` (M×K rows) and
    ``<path>/codes`` (PQ_M rows per vector, the 64×-compressed corpus
    representation). The production split — the one corpus-wide encode
    pass runs ONCE at build time; query serving never touches the
    embedding column again until the exact-rerank stage."""
    emb = _pq_emb(spark, sf_dir)
    cb = pq_codebook_frame(spark, emb)
    cb.write.mode("overwrite").parquet(f"{index_path}/codebooks")
    pq_encode(pq_subspace_rows(emb), cb).write.mode("overwrite").parquet(
        f"{index_path}/codes"
    )


def pq_index_topk(
    spark: SparkSession, sf_dir: str, index_path: str
) -> DataFrame:
    """Serve PQ ANN from a prebuilt index: identical result contract to
    :func:`pq_topk_frame` (asserted in tests), but stage 1 reads ONLY
    the stored code/codebook relations — the corpus embedding column
    is touched just for the query vectors and the k·mult rerank rows."""
    cb = spark.read.parquet(f"{index_path}/codebooks")
    codes = spark.read.parquet(f"{index_path}/codes")
    emb = _pq_emb(spark, sf_dir)
    qtables = pq_query_tables(
        pq_subspace_rows(emb.filter(F.col("vec_id") < N_QUERIES)), cb
    )
    return _pq_adc_rerank(emb, codes, qtables)
