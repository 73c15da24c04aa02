"""Deterministic sampling / splitting over ``documents`` — the
reproducibility layer of a training-data pipeline.

``df.sample()`` / ``randomSplit()`` are partition-order-dependent: the
same corpus re-partitioned differently yields a DIFFERENT split, which
silently leaks test docs into training on any re-run. The scale-safe
form is a pure hash of a stable key — every engine, every partition
layout, every rerun assigns the same doc to the same side. md5 is used
(not xxhash/crc) because both Spark and DuckDB expose identical md5
hex, so the oracle checks the assignment bit-for-bit.

Both queries are narrow (no shuffle, no join): the split predicate is
a per-row expression that pushes down to the scan at any scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.functions.text import md5_long, md5_long_sql
from bigdata_flightanalysis_spark.operators.checkpointing import eager_checkpoint
from bigdata_flightanalysis_spark.queries.catalog import register
from bigdata_flightanalysis_spark.sources.readers import read_table

# First two md5 hex chars of the key = a uniform bucket in [0, 256).
# '00'..'e5' → 230/256 ≈ 89.8% train; hex-string comparison is
# identical in both engines, no int conversion needed.
TRAIN_HEX_LT = "e6"


def hash_bucket_hex(key: Column | str, salt: str = "") -> Column:
    key_col = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(F.concat(F.lit(salt), key_col.cast("string"))), 1, 2)


def _sql_bucket(key_expr: str, salt: str = "") -> str:
    salted = f"'{salt}' || CAST({key_expr} AS VARCHAR)" if salt else f"CAST({key_expr} AS VARCHAR)"
    return f"substr(md5({salted}), 1, 2)"


@register(
    "doc_train_test_split",
    oracle=f"""
        SELECT doc_id,
               {_sql_bucket("doc_id")} AS bucket,
               CASE WHEN {_sql_bucket("doc_id")} < '{TRAIN_HEX_LT}'
                    THEN 'train' ELSE 'test' END AS split
        FROM documents
        ORDER BY doc_id
    """,
    description="Deterministic ~90/10 train/test split by md5 bucket of "
    "doc_id — identical assignment regardless of partitioning, row "
    "order, cluster size, or rerun (df.randomSplit is none of those). "
    "Narrow per-row expression: no shuffle at any scale; the oracle "
    "verifies every single assignment.",
    tags=("sampling", "split", "documents"),
)
def doc_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    bucket = hash_bucket_hex("doc_id")
    return docs.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < TRAIN_HEX_LT, F.lit("train"))
        .otherwise(F.lit("test"))
        .alias("split"),
    ).orderBy("doc_id")


# Per-language sampling fractions (hex thresholds ≈ fraction × 256):
# oversample the rare languages, downsample English — the classic
# data-mixture rebalance.
STRATA_HEX = {"en": "40", "de": "c0", "fr": "c0"}  # ≈25%, 75%, 75%
DEFAULT_HEX = "80"  # ≈50% for any other language


@register(
    "doc_stratified_sample",
    oracle=f"""
        SELECT lang, COUNT(*) AS n_sampled,
               CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
        FROM documents
        WHERE {_sql_bucket("doc_id", "strat:")} <
              CASE lang {" ".join(f"WHEN '{lg}' THEN '{hx}'" for lg, hx in STRATA_HEX.items())}
                   ELSE '{DEFAULT_HEX}' END
        GROUP BY lang
        ORDER BY lang
    """,
    description="Deterministic stratified sampling: per-language md5 "
    "fractions (sampleBy without its partition-order dependence), "
    "salted so the strata draw is independent of the train/test split "
    "draw. Filter is a pushed-down per-row predicate; the aggregate "
    "is the only shuffle.",
    tags=("sampling", "stratified", "documents"),
)
def doc_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    bucket = hash_bucket_hex("doc_id", salt="strat:")
    threshold = F.lit(DEFAULT_HEX)
    for lg, hx in reversed(STRATA_HEX.items()):
        threshold = F.when(F.col("lang") == lg, F.lit(hx)).otherwise(threshold)
    return (
        docs.filter(bucket < threshold)
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum("n_chars").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


_PACK_BUDGET = 4096  # chars per packed training sequence
# (doc_pack_sequences shards by the first md5 hex digit — a fixed
# 16-way split baked into its oracle SQL, not a tunable constant)


@register(
    "doc_pack_sequences",
    oracle=f"""
        WITH ordered AS (
            SELECT doc_id, n_chars,
                   substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
                   md5(CAST(doc_id AS VARCHAR)) AS h
            FROM documents
        ),
        packed AS (
            SELECT shard, doc_id, n_chars,
                   CAST(floor(
                       (SUM(n_chars) OVER (
                            PARTITION BY shard ORDER BY h
                            ROWS UNBOUNDED PRECEDING
                        ) - n_chars) / {_PACK_BUDGET}
                   ) AS BIGINT) AS bin
            FROM ordered
        )
        SELECT shard, bin,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bin_chars
        FROM packed
        GROUP BY shard, bin
        ORDER BY shard, bin
    """,
    description="Training-sequence packing: docs are sharded by md5 "
    "(16 independent packing streams — the parallelism unit at "
    "scale), pseudorandomly ordered WITHIN each shard by their full "
    "hash, and assigned to fixed-budget context bins by their "
    "starting offset in the shard's running character count "
    "(window cumsum — one shuffle on the shard key; each doc may "
    "straddle one bin boundary, the standard approximation that "
    "keeps packing a pure window instead of a sequential scan). "
    "Output is per-bin fill statistics.",
    tags=("sampling", "packing"),
)
def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "n_chars",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    docs = docs.withColumn("shard", F.substring("h", 1, 1))
    w = (
        Window.partitionBy("shard")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = docs.withColumn(
        "bin",
        F.floor(
            (F.sum("n_chars").over(w) - F.col("n_chars")) / _PACK_BUDGET
        ).cast("long"),
    )
    return (
        packed.groupBy("shard", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("bin_chars"),
        )
        .orderBy("shard", "bin")
    )


@register(
    "doc_quality_weighted_sample",
    oracle=f"""
        SELECT doc_id, lang, n_chars
        FROM (
            SELECT doc_id, lang, n_chars,
                   CAST({md5_long_sql("'qw|' || CAST(doc_id AS VARCHAR)")}
                        AS DOUBLE) / 1152921504606846976 AS u,
                   least(1.0, CAST(n_chars AS DOUBLE) / 400) AS keep_p
            FROM documents
        )
        WHERE u < keep_p
        ORDER BY doc_id
    """,
    description="Quality-weighted deterministic sampling: keep "
    "probability proportional to a per-doc quality proxy (here "
    "length/400, capped at 1), decided by comparing the doc's 60-bit "
    "md5 uniform draw against its own threshold — Bernoulli sampling "
    "that is partition-order-invariant and bit-reproducible across "
    "engines (unlike df.sample(weights)). Narrow: the predicate is a "
    "per-row expression, no shuffle.",
    tags=("sampling", "quality"),
)
def doc_quality_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    u = (
        md5_long(F.concat(F.lit("qw|"), F.col("doc_id").cast("string"))).cast(
            "double"
        )
        / F.lit(float(1 << 60))
    )
    keep_p = F.least(F.lit(1.0), F.col("n_chars").cast("double") / 400)
    return (
        docs.filter(u < keep_p)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# Temperature (alpha) mixing: target share of source s ∝ (n_s/N)^α,
# α = 0.5 — the standard multilingual/multi-domain flattening exponent
# family (e.g. XLM-R's alpha-sampling). α is realized as sqrt(), which
# is CORRECTLY ROUNDED by IEEE in both engines (pow() is not), so the
# per-source keep probabilities are cross-engine reproducible.
MIX_ALPHA_AS_SQRT = True  # documents the α=0.5-via-sqrt choice


def _mix_sql_ctes(rel: str) -> str:
    """per_lang→kp CTE chain computing α=0.5 keep probabilities over
    the language shares of relation ``rel`` (must expose ``lang``)."""
    return f"""per_lang AS (
            SELECT lang, COUNT(*) AS n FROM {rel} GROUP BY lang
        ), tot AS (
            SELECT CAST(SUM(n) AS BIGINT) AS total FROM per_lang
        ), sq AS (
            SELECT lang, n,
                   sqrt(CAST(n AS DOUBLE) / total) AS sq_p
            FROM per_lang, tot
        ), den AS (
            SELECT CAST(SUM(CAST(sq_p AS DECIMAL(38,18))) AS DOUBLE) AS z
            FROM sq
        ), kp AS (
            SELECT lang,
                   least(1.0, (sq_p / z) / (CAST(n AS DOUBLE) / total))
                       AS keep_p
            FROM sq, den, tot
        )"""


def alpha_keep_probs(docs: DataFrame) -> DataFrame:
    """(lang, keep_p) for α=0.5 temperature mixing over ``docs``'
    language shares — the Spark twin of :func:`_mix_sql_ctes`. One
    tiny aggregate chain, broadcast back out by callers."""
    # Materialize the per-language counts ONCE (r17, §1.2): tot, sq
    # and den below each re-derive per_lang, so without the pin the
    # corpus-sized scan+aggregate under it executed FOUR times per
    # action (measured in doc_training_manifest's plan: four
    # ExistingRDD aggregate subtrees over the survivor frame). The
    # pinned frame is language-cardinality rows — pennies to hold —
    # and every downstream leg (all ≤ n_langs rows) reads it instead.
    per_lang = eager_checkpoint(docs.groupBy("lang").agg(F.count("*").alias("n")))
    tot = per_lang.agg(F.sum("n").alias("total"))
    sq = per_lang.join(F.broadcast(tot)).select(
        "lang",
        "n",
        "total",
        F.sqrt(F.col("n").cast("double") / F.col("total")).alias("sq_p"),
    )
    den = sq.agg(
        F.sum(F.col("sq_p").cast("decimal(38,18)")).cast("double").alias("z")
    )
    return sq.join(F.broadcast(den)).select(
        "lang",
        F.least(
            F.lit(1.0),
            (F.col("sq_p") / F.col("z"))
            / (F.col("n").cast("double") / F.col("total")),
        ).alias("keep_p"),
    )


def _mix_draw(salt: str) -> Column:
    """The md5 uniform draw in [0, 1) for a doc, salted per query."""
    return md5_long(
        F.concat(F.lit(salt), F.col("doc_id").cast("string"))
    ).cast("double") / F.lit(float(1 << 60))


@register(
    "doc_temperature_mixture_sample",
    oracle=f"""
        WITH {_mix_sql_ctes("documents")}
        SELECT d.doc_id, d.lang, d.source
        FROM documents d JOIN kp ON d.lang = kp.lang
        WHERE CAST({md5_long_sql("'tmix|' || CAST(doc_id AS VARCHAR)")}
                   AS DOUBLE) / 1152921504606846976 < keep_p
        ORDER BY doc_id
    """,
    description="Temperature-based language mixing (α = 0.5): target "
    "share of each language ∝ (its corpus share)^α — XLM-R-style "
    "alpha-sampling that keeps the dominant language from drowning "
    "low-resource ones in a multilingual training mix (en is 44% of "
    "this corpus; α = 0.5 flattens it to ~33%). Per-language keep "
    "probability = min(1, target_share / actual_share), decided per "
    "doc by the same partition-order-invariant md5 Bernoulli draw as "
    "the other sampling queries (languages needing UPsampling cap at 1 "
    "— repetition factors are an epoch-level concern). The per-source "
    "scalars come from one tiny aggregate broadcast back; α is sqrt() "
    "(correctly rounded in IEEE, unlike pow) and the normalizer "
    "accumulates in DECIMAL(38,18), so keep_p is bit-reproducible "
    "across engines and partitionings.",
    tags=("sampling", "text", "mixing"),
)
def doc_temperature_mixture_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    kp = alpha_keep_probs(docs)
    return (
        docs.join(F.broadcast(kp), "lang")
        .filter(_mix_draw("tmix|") < F.col("keep_p"))
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


def _manifest_oracle() -> str:
    # Composed from the proven pieces: the MinHash/banding CTEs and
    # recursive closure of doc_dup_clusters, the survivor window of
    # doc_dedup_keep_best, and the α-mix CTEs — over SURVIVORS.
    from bigdata_flightanalysis_spark.queries.text import (
        _SQL_BANDS_CTE,
        _SQL_PAIRS_SELECT,
        _SQL_SIG_CTE,
    )

    return f"""
        WITH RECURSIVE {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, pairs AS (
            {_SQL_PAIRS_SELECT}
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION ALL
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ), cc(node, lbl) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT e.d, cc.lbl FROM cc JOIN edges e ON e.s = cc.node
            WHERE cc.lbl < e.d
        ), labels AS (
            SELECT node, MIN(lbl) AS component FROM cc GROUP BY node
        ), ranked AS (
            SELECT d.doc_id, d.lang, d.n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY COALESCE(m.component, d.doc_id)
                       ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn
            FROM documents d LEFT JOIN labels m ON d.doc_id = m.node
        ), surv AS (
            SELECT doc_id, lang, n_chars FROM ranked WHERE rn = 1
        ), {_mix_sql_ctes("surv")}
        SELECT s.doc_id, s.lang, CAST(s.n_chars AS BIGINT) AS n_chars
        FROM surv s JOIN kp ON s.lang = kp.lang
        WHERE CAST({md5_long_sql("'manifest|' || CAST(doc_id AS VARCHAR)")}
                   AS DOUBLE) / 1152921504606846976 < keep_p
        ORDER BY doc_id
    """


@register(
    "doc_training_manifest",
    oracle=_manifest_oracle(),
    description="END-TO-END training-corpus manifest — the whole "
    "curation pipeline as ONE declarative query: MinHash-LSH banding → "
    "transitive dup clusters (O(log n) star rounds) → per-cluster "
    "survivor (longest doc, tie by id; singletons pass through) → "
    "α=0.5 temperature mix computed over the SURVIVOR population "
    "(mix-after-dedup, the correct pipeline order) → deterministic "
    "md5-Bernoulli keep. Emits the (doc_id, lang, n_chars) manifest a "
    "trainer would feed to sequence packing. Every stage is the "
    "already-verified operator; the oracle recomposes them with the "
    "independent recursive-CTE closure, so the composition itself is "
    "oracle-exact end to end.",
    tags=("sampling", "text", "dedup", "mixing", "pipeline"),
)
def doc_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.operators.graph import (
        assign_components,
        connected_components,
    )
    from bigdata_flightanalysis_spark.queries.text import _candidate_pairs

    pairs = _candidate_pairs(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    labeled = assign_components(docs, "doc_id", cc, alias="cluster_id")
    # survivor per cluster: struct-max (n_chars DESC, doc_id ASC) — a
    # partial-aggregable groupBy, no window shuffle. The struct CARRIES
    # the survivor's lang and n_chars (r17, §1.2/§2.3): (q, neg_id) is
    # already unique per cluster (doc_id is unique), so the trailing
    # lang field never participates in the max comparison — it just
    # rides along, and the survivor frame falls straight out of the
    # aggregate. The previous shape re-joined the winning doc_ids back
    # to the corpus (docs ⋈ kept left-semi) to recover lang/n_chars —
    # one corpus-sized shuffle per run that this removes outright.
    surv_agg = (
        labeled.groupBy("cluster_id")
        .agg(
            F.max(
                F.struct(
                    F.col("n_chars").cast("long").alias("q"),
                    (-F.col("doc_id")).alias("neg_id"),
                    F.col("lang").alias("lang"),
                )
            ).alias("best")
        )
        .select(
            (-F.col("best.neg_id")).alias("doc_id"),
            F.col("best.lang").alias("lang"),
            F.col("best.q").alias("n_chars"),
        )
    )
    # materialized ONCE: both alpha_keep_probs' aggregate and the
    # final mixture join consume surv, and without the checkpoint the
    # label join + survivor struct-max (corpus-sized shuffles) execute
    # twice per run (r16 review). The 3-column survivor frame is far
    # cheaper to pin than to recompute — contrast
    # doc_temperature_mixture_sample, where the re-scan is a
    # column-pruned parquet read and stays UNpinned by design.
    surv = eager_checkpoint(surv_agg)
    kp = alpha_keep_probs(surv)
    return (
        surv.join(F.broadcast(kp), "lang")
        .filter(_mix_draw("manifest|") < F.col("keep_p"))
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# Deterministic global-shuffle constants: seed salts the permutation
# hash; the Mersenne prime 2^61-1 folds the exact decimal order
# checksum back into a bigint both engines compare bit-for-bit.
SHUFFLE_SEED = 77
N_SHARDS = 16
_CHECKSUM_PRIME = 2305843009213693951


@register(
    "doc_shuffle_shards",
    oracle=f"""
        WITH perm AS (
            SELECT doc_id, n_chars,
                   {md5_long_sql("CAST(doc_id AS VARCHAR)", seed=SHUFFLE_SEED)} AS h
            FROM documents
        ),
        ordered AS (
            SELECT h % {N_SHARDS} AS shard_id, n_chars, h % 1000003 AS hm,
                   ROW_NUMBER() OVER (
                       PARTITION BY h % {N_SHARDS} ORDER BY h, doc_id
                   ) AS pos
            FROM perm
        )
        SELECT shard_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               CAST(SUM(CAST(hm * pos AS DECIMAL(38,0)))
                    % {_CHECKSUM_PRIME} AS BIGINT) AS order_checksum
        FROM ordered
        GROUP BY shard_id
        ORDER BY shard_id
    """,
    description="Deterministic global shuffle → shard manifest: the "
    f"training-order permutation is h = md5(seed|doc_id), shard = h % "
    f"{N_SHARDS}, within-shard order = (h, doc_id). The manifest rolls "
    "each shard up to (n_docs, total_chars, order_checksum) where the "
    "checksum is an exact-decimal Σ (h mod p)·position folded mod "
    "2^61−1 — a bit-reproducible proof that every engine, partition "
    "layout, and rerun produces the IDENTICAL training order (what "
    "df.repartition(shuffle=true) can never give you). Scale shape: "
    "one hash-partitioned shuffle to the shard key; the within-shard "
    "sort is per-partition (writers stream in order), no global sort.",
    tags=("sampling", "shuffle"),
)
def doc_shuffle_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    perm = docs.select(
        "doc_id",
        "n_chars",
        md5_long(F.col("doc_id").cast("string"), seed=SHUFFLE_SEED).alias("h"),
    )
    shard = (F.col("h") % N_SHARDS).alias("shard_id")
    w = Window.partitionBy(F.col("h") % N_SHARDS).orderBy("h", "doc_id")
    ordered = perm.select(
        shard,
        "n_chars",
        (F.col("h") % 1000003).alias("hm"),
        F.row_number().over(w).alias("pos"),
    )
    return (
        ordered.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            (
                F.sum((F.col("hm") * F.col("pos")).cast("decimal(38,0)"))
                % F.lit(_CHECKSUM_PRIME)
            )
            .cast("bigint")
            .alias("order_checksum"),
        )
        .orderBy("shard_id")
    )


def _split_case_sql(key: str) -> str:
    return (
        f"CASE WHEN {_sql_bucket(key)} < '{TRAIN_HEX_LT}' "
        f"THEN 'train' ELSE 'test' END"
    )


def _split_leakage_oracle() -> str:
    from bigdata_flightanalysis_spark.queries.text import (
        _SQL_BANDS_CTE,
        _SQL_PAIRS_SELECT,
        _SQL_SIG_CTE,
    )

    return f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, pairs AS (
            {_SQL_PAIRS_SELECT}
        )
        SELECT doc_a, doc_b,
               {_split_case_sql("doc_a")} AS split_a,
               {_split_case_sql("doc_b")} AS split_b,
               CAST({_split_case_sql("doc_a")} <> {_split_case_sql("doc_b")}
                    AS BOOLEAN) AS leaks
        FROM pairs
        ORDER BY doc_a, doc_b
    """


@register(
    "doc_split_leakage_check",
    oracle=_split_leakage_oracle(),
    description="Cross-split contamination audit: every MinHash-LSH "
    "near-duplicate candidate pair labeled with the train/test side "
    "of each member; `leaks = true` marks a near-dup straddling the "
    "split — the evaluation-contamination case a doc-level split "
    "cannot see (a test doc's near-twin sitting in train silently "
    "inflates eval scores). Composes the banded LSH self-join with "
    "the deterministic md5 split — the split side is a PURE expression "
    "of the id, so labeling adds zero joins and zero shuffles on top "
    "of the candidate-pair plan.",
    tags=("sampling", "split", "dedup", "audit"),
)
def doc_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.queries.text import _candidate_pairs

    def split_of(col: str) -> Column:
        return (
            F.when(hash_bucket_hex(F.col(col)) < TRAIN_HEX_LT, F.lit("train"))
            .otherwise(F.lit("test"))
        )

    pairs = _candidate_pairs(spark, sf_dir)
    return pairs.select(
        "doc_a",
        "doc_b",
        split_of("doc_a").alias("split_a"),
        split_of("doc_b").alias("split_b"),
        (split_of("doc_a") != split_of("doc_b")).alias("leaks"),
    ).orderBy("doc_a", "doc_b")


# Efraimidis–Spirakis weighted sampling without replacement: each item
# draws u ~ Uniform(0,1] from the deterministic hash and gets key
# u^(1/w); the top-k keys ARE a weighted sample without replacement
# (Efraimidis & Spirakis 2006). Ranked on the equivalent ln(u)/w
# (monotone in u^(1/w), avoids pow); ln() isn't correctly rounded by
# IEEE, but an ulp flip only matters when two keys are within ~1e-16
# relatively — adjacent ranked keys sit ~1/n apart, so the doctrine of
# doc_bigram_nll_quality applies; the emitted key is micro-quantized.
ES_SAMPLE_K = 50
ES_SEED = 913
_TWO_60 = float(1 << 60)


@register(
    "doc_weighted_sample_es",
    oracle=f"""
        WITH keyed AS (
            SELECT doc_id, n_chars AS weight,
                   CASE WHEN n_chars > 0 THEN
                   ln(CAST(({md5_long_sql("CAST(doc_id AS VARCHAR)", seed=ES_SEED)} + 1)
                           AS DOUBLE) / CAST(1152921504606846976 AS DOUBLE))
                   / CAST(n_chars AS DOUBLE) END AS k
            FROM documents
        )
        SELECT doc_id, weight,
               CAST(floor(k * 1000000.0 + 0.5) AS BIGINT) AS key_micro
        FROM keyed
        ORDER BY k DESC NULLS LAST, doc_id
        LIMIT {ES_SAMPLE_K}
    """,
    description=f"Weighted sampling WITHOUT replacement (Efraimidis–"
    f"Spirakis 2006), k={ES_SAMPLE_K}, weight = n_chars: each doc "
    "draws u from the deterministic md5 hash and is ranked by "
    "ln(u)/w — the monotone twin of the paper's u^(1/w) key — so the "
    "top-k ARE an exact without-replacement weighted sample, unlike "
    "the Bernoulli samplers (which can't hit an exact k) and unlike "
    "rand()-based reservoirs (partition-order-dependent). One narrow "
    "pass + TakeOrderedAndProject: no shuffle of the corpus, "
    "reproducible on any cluster layout. Emitted key micro-quantized "
    "(ln ulp doctrine of doc_bigram_nll_quality).",
    tags=("sampling", "weighted"),
)
def doc_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    u = (
        md5_long(F.col("doc_id").cast("string"), seed=ES_SEED) + 1
    ).cast("double") / F.lit(_TWO_60)
    # zero-weight (n_chars=0) docs: probability 0, key NULL on BOTH
    # engines and sorted last — an unguarded division aborts the whole
    # query with DIVIDE_BY_ZERO under ANSI Spark while DuckDB completes
    k = F.when(
        F.col("n_chars") > 0, F.log(u) / F.col("n_chars").cast("double")
    )
    keyed = docs.select(
        "doc_id", F.col("n_chars").alias("weight"), k.alias("k")
    )
    return (
        keyed.orderBy(F.desc_nulls_last("k"), "doc_id")
        .limit(ES_SAMPLE_K)
        .select(
            "doc_id",
            "weight",
            F.floor(F.col("k") * 1000000.0 + F.lit(0.5))
            .cast("bigint")
            .alias("key_micro"),
        )
    )
