"""Text-analysis + dedup query suite over ``documents`` (SURVEY.md §7
phase 4: the LLM-training-data-pipeline surface).

Everything is built from codegen'd built-in expressions; hashing is the
md5-based 60-bit family (``functions.text.md5_long``) specifically so
MinHash signatures and fingerprints are bit-identical in the DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.functions.text import (
    LANG_STOPWORDS,
    SIMHASH_BITS,
    _perm_constants,
    md5_long,
    md5_long_sql,
    minhash_perm,
    minhash_perm_sql,
    normalize_text,
    SQL_FINGERPRINT,
    SQL_NORM_TEXT,
    SQL_TOKENS,
    punct_ratio,
    sql_fold_case,
    simhash_from_votes,
    simhash_votes,
    token_count,
    tokenize,
    word_shingles,
    stopword_hits,
)
from bigdata_flightanalysis_spark.operators.checkpointing import (
    eager_checkpoint,
    is_large_input,
)
from bigdata_flightanalysis_spark.queries.catalog import register
from bigdata_flightanalysis_spark.sources.readers import read_table

# DuckDB twins of the tokenizer/shingler. Both sides: trim → split on
# whitespace runs → 3-word shingles (short texts yield one whole-text
# shingle). The token/normalize/fingerprint fragments live beside
# their Spark definitions in functions.text (one definition for every
# oracle that must stay fingerprint-compatible with the dedup store);
# the aliases keep this module's oracle text byte-identical.
_SQL_TOKENS = SQL_TOKENS
_SQL_NORM_TEXT = SQL_NORM_TEXT
_SQL_FINGERPRINT = SQL_FINGERPRINT


def _sql_shingles(n: int = 3) -> str:
    """DuckDB twin of ``word_shingles(tokenize(text), n)``. The
    zero-token guard matches the Spark side exactly: a blank doc
    yields [] (no shingles), not the ['']-single-shingle the
    greatest(...,1) floor would fabricate from an empty token list.
    The NULL guard likewise: NULL text tokenizes to NULL on both
    engines, and Spark's word_shingles propagates NULL — without it
    the len(...)=0 test is NULL, the ELSE fires, and the transform
    fabricates a [NULL] single-shingle list (len 1, zero distinct)
    that skewed every downstream count/ratio/join against Spark's
    NULL (r16 review: doc_repetition_scores reported rep_ratio 1.0
    and doc_jaccard_pairs_sample 0.0-similarity pairs for a NULL
    doc the Spark side scored NULL)."""
    inner = (
        f"list_transform(range(1, greatest(len({_SQL_TOKENS}) - {n - 1}, 1) + 1), "
        f"i -> array_to_string({_SQL_TOKENS}[i:i+{n - 1}], ' '))"
    )
    return (
        f"(CASE WHEN {_SQL_TOKENS} IS NULL THEN NULL "
        f"WHEN len({_SQL_TOKENS}) = 0 THEN []::VARCHAR[] "
        f"ELSE {inner} END)"
    )


@register(
    "doc_token_stats",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_tokens,
               MIN(len({_SQL_TOKENS})) AS min_tokens,
               MAX(len({_SQL_TOKENS})) AS max_tokens,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Token counting (whitespace tokenizer) aggregated per "
    "language — training-data volume accounting.",
    tags=("text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", token_count("text").alias("n_tokens"), "n_chars")
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("n_tokens").cast("bigint").alias("min_tokens"),
            F.max("n_tokens").cast("bigint").alias("max_tokens"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


@register(
    "doc_quality_scores",
    oracle=f"""
        SELECT doc_id,
               len({_SQL_TOKENS}) AS n_tokens,
               n_chars,
               CASE WHEN len({_SQL_TOKENS}) > 0
                    THEN CAST(len({_SQL_TOKENS}) AS DOUBLE)
                         / len(list_distinct({_SQL_TOKENS}))
                    ELSE 0.0 END AS repetition,
               -- \\p{{L}}\\p{{N}}\\p{{M}} like the Spark side: the old
               -- ASCII class scored every non-English char as
               -- punctuation (r16 review)
               CASE WHEN length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g')) > 0
                    THEN CAST(length(regexp_replace(text, '[\\p{{L}}\\p{{N}}\\p{{M}} \\t\\n\\x0B\\f\\r]', '', 'g')) AS DOUBLE)
                         / length(regexp_replace(text, '[ \\t\\n\\x0B\\f\\r]', '', 'g'))
                    ELSE 0.0 END AS punct_ratio
        FROM documents
        ORDER BY doc_id
    """,
    description="Per-document quality features: token count, length, "
    "repetition (tokens / distinct tokens), punctuation ratio — the "
    "classic pre-training quality-filter signals.",
    tags=("text", "quality"),
)
def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    return docs.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        "n_chars",
        # blank doc → 0 tokens: bare division throws under ANSI
        # (DuckDB x/0 → NULL); both engines pin 0.0
        F.when(
            F.size(toks) > 0,
            F.size(toks).cast("double") / F.size(F.array_distinct(toks)),
        )
        .otherwise(F.lit(0.0))
        .alias("repetition"),
        punct_ratio("text").alias("punct_ratio"),
    ).orderBy("doc_id")


@register(
    "doc_fingerprints",
    oracle=f"""
        SELECT doc_id,
               {_SQL_FINGERPRINT} AS fingerprint
        FROM documents
        ORDER BY doc_id
    """,
    description="Whole-document 60-bit content fingerprint over "
    "normalized text — bit-identical across Spark and DuckDB (md5 "
    "family), the bucket key for exact dedup at scale.",
    tags=("text", "dedup"),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", md5_long(normalize_text("text")).alias("fingerprint")
    ).orderBy("doc_id")


@register(
    "doc_exact_dedup",
    oracle=f"""
        SELECT {_SQL_FINGERPRINT} AS fingerprint,
               COUNT(*) AS n_copies,
               MIN(doc_id) AS keep_doc_id
        FROM documents
        GROUP BY fingerprint
        ORDER BY fingerprint
    """,
    description="Exact dedup by content fingerprint: group on the hash, "
    "keep the lowest doc_id — single hash-aggregate shuffle, the 100 TB "
    "shape (never a driver-side distinct).",
    tags=("text", "dedup"),
)
def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            md5_long(normalize_text("text")).alias("fingerprint"), "doc_id"
        )
        .groupBy("fingerprint")
        .agg(
            F.count("*").alias("n_copies"),
            F.min("doc_id").alias("keep_doc_id"),
        )
        .orderBy("fingerprint")
    )


_SQL_BPE = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))"


@register(
    "doc_bpe_token_stats",
    oracle=f"""
        SELECT lang,
               COUNT(*) AS n_docs,
               CAST(SUM({_SQL_BPE}) AS BIGINT) AS total_bpe_tokens,
               CAST(SUM({_SQL_BPE}) AS DOUBLE) / COUNT(*)
                   AS avg_bpe_tokens,
               CAST(SUM(len({_SQL_TOKENS})) AS BIGINT) AS total_ws_tokens
        FROM documents
        GROUP BY lang
        ORDER BY lang
    """,
    description="Sub-word-ish token accounting (words + digit runs + "
    "punctuation marks — the cheap regex proxy for a BPE tokenizer's "
    "token count) vs whitespace tokens, per language. The cost model "
    "input for LLM training-data sizing.",
    tags=("text", "tokens"),
)
def doc_bpe_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.functions.text import bpe_ish_token_count

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(
            "lang",
            bpe_ish_token_count("text").alias("bpe"),
            token_count("text").alias("ws"),
        )
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("bpe").cast("bigint").alias("total_bpe_tokens"),
            (F.sum("bpe").cast("double") / F.count("*")).alias("avg_bpe_tokens"),
            F.sum("ws").cast("bigint").alias("total_ws_tokens"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Language ID — stopword-evidence heuristic with a deterministic
# argmax (ties broken by alphabetical language order) mirrored in SQL.
# --------------------------------------------------------------------------


def _sql_hits(lang: str) -> str:
    # case-folded like the Spark side's stopword_hits (r16 review:
    # sentence-initial 'The'/'Der' never matched the lowercase lists)
    stops = ", ".join(f"'{s}'" for s in LANG_STOPWORDS[lang])
    return (
        f"len(list_filter({_SQL_TOKENS},"
        f" t -> {sql_fold_case('t')} IN ({stops})))"
    )


@register(
    "doc_langid",
    oracle=f"""
        WITH scored AS (
            SELECT doc_id, lang AS actual_lang,
                   {_sql_hits("de")} AS hits_de,
                   {_sql_hits("en")} AS hits_en,
                   {_sql_hits("es")} AS hits_es,
                   {_sql_hits("fr")} AS hits_fr,
                   {_sql_hits("zh")} AS hits_zh
            FROM documents
        )
        SELECT doc_id, actual_lang,
               CASE
                 WHEN hits_de >= hits_en AND hits_de >= hits_es
                      AND hits_de >= hits_fr AND hits_de >= hits_zh THEN 'de'
                 WHEN hits_en >= hits_es AND hits_en >= hits_fr
                      AND hits_en >= hits_zh THEN 'en'
                 WHEN hits_es >= hits_fr AND hits_es >= hits_zh THEN 'es'
                 WHEN hits_fr >= hits_zh THEN 'fr'
                 ELSE 'zh'
               END AS predicted_lang
        FROM scored
        ORDER BY doc_id
    """,
    description="Language-ID heuristic: stopword-hit argmax with "
    "alphabetical tie-break. Documentation-grade classifier; the "
    "deployment path swaps in fastText via mapInPandas with the same "
    "schema.",
    tags=("text", "langid"),
)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = tokenize("text")
    langs = sorted(LANG_STOPWORDS)  # de, en, es, fr, zh

    scored = docs.select(
        "doc_id",
        F.col("lang").alias("actual_lang"),
        *[stopword_hits(toks, lg).alias(f"hits_{lg}") for lg in langs],
    )
    # Chained argmax identical to the oracle's CASE: earlier (alphabetical)
    # languages win ties.
    pred = None
    for i, lg in enumerate(langs[:-1]):
        cond = None
        for other in langs[i + 1 :]:
            c = F.col(f"hits_{lg}") >= F.col(f"hits_{other}")
            cond = c if cond is None else cond & c
        pred = F.when(cond, F.lit(lg)) if pred is None else pred.when(cond, F.lit(lg))
    pred = pred.otherwise(F.lit(langs[-1]))
    return scored.select("doc_id", "actual_lang", pred.alias("predicted_lang")).orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# MinHash — oracle-checkable signatures (md5 hash family), then LSH
# band buckets for candidate pairs. SURVEY.md §7 phase 4 near-dedup.
# --------------------------------------------------------------------------

N_PERM = 16
BAND_SIZE = 4  # 4 bands × 4 rows
_PERM_CONSTS = _perm_constants(N_PERM)

_SQL_SIG_CTE = f"""
        sh AS (
            SELECT doc_id, unnest({_sql_shingles(3)}) AS s FROM documents
        ), h AS (
            SELECT doc_id, {md5_long_sql("s")} AS base FROM sh
        ), sig AS (
            SELECT doc_id,
                   {", ".join(
                       f"MIN({minhash_perm_sql('base', _PERM_CONSTS[i])}) AS sig_{i}"
                       for i in range(N_PERM)
                   )}
            FROM h GROUP BY doc_id
        )
"""


@register(
    "doc_minhash_signatures",
    oracle=f"""
        WITH {_SQL_SIG_CTE}
        SELECT * FROM sig
        ORDER BY doc_id
    """,
    description=f"MinHash signatures ({N_PERM} permutations, 3-word "
    "shingles): ONE md5 per shingle, affine 60-bit permutations inside "
    "min-aggregates (partial aggregation → map-side combine, one "
    "signature row per doc crosses the shuffle). Bit-identical to the "
    "oracle's integer arithmetic.",
    tags=("text", "dedup", "minhash"),
)
def doc_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _signatures(spark, sf_dir).orderBy("doc_id")


def _signatures_of(docs: DataFrame) -> DataFrame:
    """MinHash signatures for any (doc_id, text) frame — the reusable
    core behind both the full-corpus pipeline and the incremental
    batch path."""
    # Shape matters at scale: explode shingles to rows so each shingle
    # string is built and md5'd ONCE, then permuted N_PERM ways with
    # two multiplies each. The previous form (16 salted md5s per
    # shingle) measured 3.4s at sf0.1 vs <1s for this one; the
    # all-array alternative without explode re-inlines the
    # tokenize+shingle expressions into every permutation and measured
    # ~50× slower once the near-dup self-join consumed it twice.
    exploded = docs.select(
        "doc_id", F.explode(word_shingles(tokenize("text"), 3)).alias("sh")
    )
    based = exploded.select("doc_id", md5_long(F.col("sh")).alias("base"))
    return based.groupBy("doc_id").agg(
        *[
            F.min(minhash_perm(F.col("base"), _PERM_CONSTS[i])).alias(
                f"sig_{i}"
            )
            for i in range(N_PERM)
        ]
    )


def _signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted signature table — what downstream consumers (the banded
    self-join) use; only the registry query pays a presentation sort.
    """
    return _signatures_of(read_table(spark, sf_dir, "documents"))


_SQL_BANDS_CTE = f"""
        bands AS (
            {" UNION ALL ".join(
                f"SELECT doc_id, {b} AS band, "
                f"{md5_long_sql('(' + ' || CHR(31) || '.join(f'CAST(sig_{b * BAND_SIZE + r} AS VARCHAR)' for r in range(BAND_SIZE)) + ')')}"
                f" AS bucket FROM sig"
                for b in range(N_PERM // BAND_SIZE)
            )}
        )
"""

_SQL_PAIRS_SELECT = """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""


def _band_frame(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bucket) rows from a signature frame — the LSH
    band store. One narrow row per doc×band; this is the ONLY artifact
    of the corpus that banded joins (full or incremental) consume."""
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                md5_long(
                    F.concat_ws(
                        "\x1f",
                        *[
                            F.col(f"sig_{b * BAND_SIZE + r}").cast("string")
                            for r in range(BAND_SIZE)
                        ],
                    )
                ).alias("bucket"),
            )
            for b in range(N_PERM // BAND_SIZE)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("bb")).select(
        "doc_id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
    )


_SQL_NEAR_DUP_ORACLE = f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}
        {_SQL_PAIRS_SELECT}
        ORDER BY doc_a, doc_b
    """


@register(
    "doc_near_dup_candidates",
    oracle=_SQL_NEAR_DUP_ORACLE,
    description="MinHash-LSH candidate pairs: band the signature "
    f"({N_PERM // BAND_SIZE} bands × {BAND_SIZE}), hash each band to a "
    "bucket, self-join on (band, bucket) — the join is on the bucket "
    "hash, so the shuffle is tiny regardless of corpus size.",
    tags=("text", "dedup", "minhash", "lsh"),
)
def doc_near_dup_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


@register(
    "doc_near_dup_candidates_largemode",
    oracle=_SQL_NEAR_DUP_ORACLE,
    description="The FORCED large-corpus plan of doc_near_dup_candidates: "
    "signatures eagerly checkpointed so the corpus parquet is scanned "
    "exactly once and both self-join sides read the materialized "
    "signature table — the shape the pipeline switches to above "
    "LARGE_INPUT_BYTES (1 GiB). Same oracle, same rows; "
    "registered separately so the correctness harness exercises the "
    "checkpointed physical plan the 100 TB path actually runs, not "
    "just the small-corpus recompute plan.",
    tags=("text", "dedup", "minhash", "lsh", "largemode"),
)
def doc_near_dup_candidates_largemode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    return _candidate_pairs(spark, sf_dir, materialize=True).orderBy(
        "doc_a", "doc_b"
    )


#: Every 5th doc plays the "incoming batch"; the rest stand in for the
#: already-ingested corpus whose band store is persisted.
_INCR_MOD, _INCR_REM = 5, 4


@register(
    "doc_near_dup_incremental",
    oracle=f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
        WHERE a.doc_id % {_INCR_MOD} = {_INCR_REM}
           OR b.doc_id % {_INCR_MOD} = {_INCR_REM}
        ORDER BY doc_a, doc_b
    """,
    description="INCREMENTAL near-dup: LSH candidate pairs for an "
    "incoming batch (docs with doc_id % 5 == 4) probed against the "
    "persisted band store of the already-ingested corpus — the "
    "near-dup twin of operators/incremental.py's exact-dedup "
    "fingerprint store. Only the batch's text is shingled and hashed; "
    "the existing corpus contributes nothing but its (doc_id, band, "
    "bucket) store (~10^-4 of corpus bytes, one narrow row per "
    "doc×band), so per-batch cost is O(batch_text + store_join) and "
    "the historical text is NEVER rescanned. Emits batch-vs-store and "
    "batch-vs-batch pairs; equivalence with the full-corpus pair set "
    "restricted to the batch is both the oracle check and "
    "tests/test_text_ext.py's property.",
    tags=("text", "dedup", "minhash", "lsh", "incremental"),
)
def doc_near_dup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    is_new = (F.col("doc_id") % _INCR_MOD) == _INCR_REM
    # In production the store is a maintained table (append the batch's
    # bands after each ingest); here it is derived from the "old" slice
    # once so the query is self-contained on driver testdata.
    store = _band_frame(_signatures_of(docs.filter(~is_new)))
    # Materialize the batch bands ONCE (narrow: docs × bands rows):
    # the batch feeds BOTH join sides (probe and store-union), so the
    # unmaterialized form tokenized/hashed the new slice twice per run
    # — the advertised O(batch_text + store_join) cost, actually held
    # (r16 review).
    batch = eager_checkpoint(_band_frame(_signatures_of(docs.filter(is_new))))
    probe_side = store.unionByName(batch)  # batch-vs-store AND batch-vs-batch
    a, b = batch.alias("a"), probe_side.alias("b")
    pairs = (
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
    return pairs.orderBy("doc_a", "doc_b")


def _candidate_pairs(
    spark: SparkSession,
    sf_dir: str,
    *,
    materialize: bool | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Unordered distinct LSH candidate pairs — the form downstream
    operators (connected components) consume; only the registry query
    pays for a presentation sort."""
    # Banded self-join. Three shapes were measured at sf0.1: (a) the
    # plain self-join (signature pipeline computed once per side —
    # ReusedExchange does not fire across self-join scans), (b)
    # materialize the signatures then self-join, (c) per-bucket
    # collect_list + array pair combinatorics. (a) wins at test SFs:
    # the signature recompute is one cheap md5 pass, while (b) pays
    # cache materialization (3× slower at sf0.1) and (c) materializes
    # quadratic pair arrays in single tasks on hot buckets (this corpus
    # is near-dup-dense). At cluster scale the corpus scan DOMINATES
    # and recompute-both-sides doubles the dominant cost, so for a
    # large input (is_large_input: at or above LARGE_INPUT_BYTES) the
    # signature table (one narrow row per doc — ~10^-4 of corpus bytes)
    # is eagerly checkpointed and both join sides read the checkpoint:
    # exactly one corpus scan, plan-asserted in tests/test_plans.py.
    docs = read_table(spark, sf_dir, "documents")
    if materialize is None:
        materialize = is_large_input(docs)
    sig = _signatures_of(docs)
    if materialize:
        # Reliable checkpoint when a dir is configured (checkpoint_dir
        # argument or the SPARK_GRAFT_CHECKPOINT_DIR env contract),
        # localCheckpoint otherwise — see operators/checkpointing.py
        # for the posture trade-off and the global-state hygiene
        # (previous checkpoint dir restored after the eager job).
        # Either way the signature table (one narrow row per doc —
        # ~10^-4 of corpus bytes) is materialized so both join sides
        # read it: exactly one corpus scan, plan-asserted in
        # tests/test_plans.py.
        sig = eager_checkpoint(sig, checkpoint_dir)
    bands = _band_frame(sig)
    left = bands.alias("a")
    right = bands.alias("b")
    pairs = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return pairs


# --------------------------------------------------------------------------
# SimHash — 32-bit bit-vote fingerprint over token hashes; near-dups
# found by banding the fingerprint (pigeonhole: hamming <= 2 with 4
# bands guarantees at least one identical band). SURVEY.md §7 phase 4.
# --------------------------------------------------------------------------

SIMHASH_BANDS = 4
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
HAMMING_MAX = 2

_SQL_SIMHASH = f"""
    WITH tok AS (
        SELECT doc_id, unnest({_SQL_TOKENS}) AS t FROM documents
    ), h AS (
        SELECT doc_id, {md5_long_sql("t")} AS h FROM tok
    ), votes AS (
        SELECT doc_id,
               {", ".join(
                   f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v_{b}"
                   for b in range(SIMHASH_BITS)
               )}
        FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(
               f"(CASE WHEN v_{b} > 0 THEN {1 << b} ELSE 0 END)"
               for b in range(SIMHASH_BITS)
           )} AS BIGINT) AS simhash
    FROM votes
"""


def _simhash_of(docs: DataFrame) -> DataFrame:
    hashed = docs.select(
        "doc_id", F.explode(tokenize("text")).alias("t")
    ).select("doc_id", md5_long(F.col("t")).alias("h"))
    votes = hashed.groupBy("doc_id").agg(
        *[
            F.sum(v).alias(f"v_{b}")
            for b, v in enumerate(simhash_votes(F.col("h")))
        ]
    )
    return votes.select(
        "doc_id",
        simhash_from_votes([F.col(f"v_{b}") for b in range(SIMHASH_BITS)]).alias(
            "simhash"
        ),
    )


@register(
    "doc_simhash",
    oracle=f"{_SQL_SIMHASH} ORDER BY doc_id",
    description=f"{SIMHASH_BITS}-bit SimHash per document: explode "
    "tokens, hash each once, per-bit ±1 vote sums as a single map-side-"
    "combinable aggregate (one shuffle row per doc), sign → bit. "
    "Bit-identical to the DuckDB oracle via the md5 hash family.",
    tags=("text", "dedup", "simhash"),
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_of(read_table(spark, sf_dir, "documents")).orderBy("doc_id")


@register(
    "doc_simhash_near_dup",
    oracle=f"""
        WITH s AS ({_SQL_SIMHASH})
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
        ORDER BY doc_a, doc_b
    """,
    description="SimHash near-duplicate pairs: band the fingerprint "
    f"({SIMHASH_BANDS} bands × {_BAND_BITS} bits), equi-join on (band, "
    f"value), keep pairs with hamming <= {HAMMING_MAX}. Pigeonhole makes "
    "the banded join EXACT at this threshold — verified against the "
    "oracle's all-pairs scan — while the cluster cost stays an equi-join "
    "on small band keys instead of a quadratic cross join.",
    tags=("text", "dedup", "simhash", "lsh"),
)
def doc_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Same banded self-join shape as doc_near_dup_candidates (see the
    # shape comparison there), exact hamming re-check after the join.
    docs = read_table(spark, sf_dir, "documents")
    sig = _simhash_of(docs)
    # Same size switch as _candidate_pairs: below LARGE_INPUT_BYTES the
    # recompute-both-sides plan wins (the fingerprint is one cheap
    # md5+vote pass; materialization costs more at test SFs — measured
    # for the MinHash twin); above it the corpus scan dominates and
    # recomputing the explode+vote aggregate for BOTH self-join sides
    # doubles the dominant cost, so the (doc_id, simhash) table — two
    # longs per doc — is checkpointed and both sides read it: exactly
    # one corpus scan.
    if is_large_input(docs):
        sig = eager_checkpoint(sig)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * _BAND_BITS)
                .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                .alias("bv"),
            )
            for b in range(SIMHASH_BANDS)
        ]
    )
    bands = sig.select("doc_id", "simhash", F.explode(band_structs).alias("bb")).select(
        "doc_id",
        "simhash",
        F.col("bb.band").alias("band"),
        F.col("bb.bv").alias("bv"),
    )
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(
        F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .filter(F.col("hamming") <= HAMMING_MAX)
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


@register(
    "doc_jaccard_pairs_sample",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, list_distinct({_sql_shingles(3)}) AS shingles
            FROM documents WHERE doc_id < 40
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               -- NULL guard pinned to Spark: array_intersect/union
               -- propagate a NULL side (similarity undefined), while
               -- DuckDB's list_intersect returns [] and || treats a
               -- typed NULL list as empty — 0.0 instead of NULL
               -- (r16 review)
               CASE WHEN a.shingles IS NULL OR b.shingles IS NULL
                    THEN NULL
                    ELSE CAST(len(list_intersect(a.shingles, b.shingles))
                              AS DOUBLE)
                         / len(list_distinct(a.shingles || b.shingles))
               END AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        ORDER BY doc_a, doc_b
    """,
    description="Exact n-gram (3-shingle) Jaccard similarity over a "
    "bounded sample — the verification stage that LSH candidates feed "
    "at scale (candidates only; the all-pairs form here is test-bounded).",
    tags=("text", "dedup", "jaccard"),
)
def doc_jaccard_pairs_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokenize("text"), 3)).alias("shingles"),
        )
    )
    a = docs.alias("a")
    b = docs.alias("b")
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            # two blank docs → union=0: bare division throws under
            # Spark 4 ANSI while DuckDB's x/0 returns NULL — pin NULL
            # on both engines (a pair with no shingles has no defined
            # similarity)
            F.when(union > 0, inter.cast("double") / union).alias("jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Dedup clustering — connected components over the LSH candidate
# pairs. Pair queries find A~B and B~C; CLUSTERING is what dedup
# actually needs (keep one doc per transitive cluster, even when A and
# C never collide in any band). Oracle: DuckDB recursive CTE doing
# min-label closure — labels only propagate downhill (lbl < target),
# which reaches every node from its component minimum and bounds the
# intermediate row count.
# --------------------------------------------------------------------------


@register(
    "doc_dup_clusters",
    oracle=f"""
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
        )
        SELECT d.doc_id,
               COALESCE(m.component, d.doc_id) AS cluster_id,
               (COALESCE(m.component, d.doc_id) = d.doc_id) AS is_canonical
        FROM documents d LEFT JOIN labels m ON d.doc_id = m.node
        ORDER BY d.doc_id
    """,
    description="Transitive dedup clusters: connected components "
    "(alternating large-star/small-star, operators/graph.py — O(log n) "
    "rounds independent of chain length) over the MinHash-LSH candidate "
    "pairs; every doc labeled with its cluster's min doc_id, canonical "
    "flag for the keep-one-per-cluster filter. Oracle is an independent "
    "algorithm (recursive-CTE label closure) on the same edge set.",
    tags=("text", "dedup", "graph", "connected-components"),
)
def doc_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.operators.graph import (
        assign_components,
        connected_components,
    )

    pairs = _candidate_pairs(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    out = assign_components(docs, "doc_id", cc, alias="cluster_id")
    return out.select(
        "doc_id",
        "cluster_id",
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    ).orderBy("doc_id")


@register(
    "doc_dedup_keep_best",
    oracle=f"""
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
        ), labeled AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(m.component, d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN labels m ON d.doc_id = m.node
        ), ranked AS (
            SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY cluster_id
                       ORDER BY n_chars DESC, doc_id ASC) AS rn
            FROM labeled
        )
        SELECT cluster_id,
               MAX(CASE WHEN rn = 1 THEN doc_id END) AS kept_doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_members,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM ranked
        GROUP BY cluster_id
        ORDER BY cluster_id
    """,
    description="Dedup survivor selection — the final stage of the "
    "near-dup pipeline: within each transitive dup cluster keep the "
    "best document (longest, tie-broken by smallest doc_id) and report "
    "cluster size. Engine side: one struct-max aggregate per cluster "
    "(no window shuffle) over the connected-components labels; oracle "
    "re-derives clusters with the independent recursive-CTE closure "
    "and picks survivors with a window rank.",
    tags=("text", "dedup", "graph"),
)
def doc_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.operators.graph import (
        assign_components,
        connected_components,
    )

    pairs = _candidate_pairs(spark, sf_dir)
    cc = connected_components(pairs, "doc_a", "doc_b")
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    labeled = assign_components(docs, "doc_id", cc, alias="cluster_id")
    # argmax as struct-max: (n_chars DESC, doc_id ASC) — negate doc_id
    # so the lexicographic MAX lands on the smallest id at equal length.
    best = F.max(
        F.struct(
            F.col("n_chars").cast("long").alias("q"),
            (-F.col("doc_id")).alias("neg_id"),
        )
    ).alias("best")
    return (
        labeled.groupBy("cluster_id")
        .agg(
            best,
            F.count("*").alias("n_members"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
        .select(
            "cluster_id",
            (-F.col("best.neg_id")).alias("kept_doc_id"),
            "n_members",
            "total_chars",
        )
        .orderBy("cluster_id")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination — n-gram collision between the training
# corpus and a held-out benchmark set. The training-pipeline op that
# keeps eval data out of the training mix: any doc sharing a 5-word
# shingle with a benchmark doc is flagged.
# --------------------------------------------------------------------------

BENCH_SOURCE = "src0"  # the designated benchmark/eval slice
DECON_N = 5


@register(
    "doc_decontamination",
    oracle=f"""
        WITH sh AS (
            SELECT doc_id, source,
                   unnest(list_distinct({_sql_shingles(DECON_N)})) AS s
            FROM documents
        ), bench AS (
            SELECT DISTINCT s FROM sh WHERE source = '{BENCH_SOURCE}'
        ), hits AS (
            SELECT t.doc_id, COUNT(*) AS n
            FROM sh t JOIN bench b USING (s)
            WHERE t.source <> '{BENCH_SOURCE}'
            GROUP BY t.doc_id
        )
        SELECT d.doc_id,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n_shingle_hits,
               COALESCE(h.n, 0) > 0 AS contaminated
        FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
        WHERE d.source <> '{BENCH_SOURCE}'
        ORDER BY d.doc_id
    """,
    description=f"Benchmark decontamination: {DECON_N}-word shingle "
    "collisions between every training doc and the benchmark slice "
    f"('{BENCH_SOURCE}'). The benchmark shingle set is tiny relative "
    "to the corpus, so it BROADCASTS — the 100 TB training side never "
    "shuffles; per-doc distinct hit counts and a contaminated flag "
    "come from one partial-aggregated count.",
    tags=("text", "decontamination", "ngram"),
)
def doc_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    shingled = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.array_distinct(word_shingles(tokenize("text"), DECON_N))
        ).alias("s"),
    )
    bench = (
        shingled.filter(F.col("source") == BENCH_SOURCE).select("s").distinct()
    )
    train = shingled.filter(F.col("source") != BENCH_SOURCE)
    hits = (
        train.join(F.broadcast(bench), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    train_docs = docs.filter(F.col("source") != BENCH_SOURCE).select("doc_id")
    return (
        train_docs.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias(
                "n_shingle_hits"
            ),
            (F.coalesce(F.col("n"), F.lit(0)) > 0).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# Fixed iteration count shared by the Spark run and the unrolled SQL
# oracle below.
PAGERANK_ITERS = 5


def _sql_pagerank_iterations(n_iters: int) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (r1..rN).

    Iterative != non-SQL-expressible when the iteration count is
    FIXED: each power-iteration round is one join + one aggregate, so
    N rounds are N chained CTEs — no recursion needed. The arithmetic
    mirrors operators/graph.py:pagerank op for op (same IEEE double
    divisions/multiplies, contributions summed in DECIMAL(38,18) so
    the sum is order-invariant in both engines): structurally-
    symmetric nodes get bit-equal ranks within each engine, so rank
    ties resolve by the same doc_id tie-break on both sides, and
    non-tied ranks are separated by far more than any cross-engine
    last-ulp drift. The query output carries no floats, making the
    comparison exact.
    """
    its = []
    for k in range(1, n_iters + 1):
        its.append(f"""r{k} AS (
            SELECT n2.node,
                   -- DOUBLE-cast literals: DuckDB's bare (1.0 - 0.85)
                   -- folds in DECIMAL to exactly 0.15 while Python's
                   -- is 0.15000000000000002 — the op-identical IEEE
                   -- claim needs the subtraction done in DOUBLE
                   -- (r16 review; verified equal for the base/n
                   -- division across engines)
                   ((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n)
                   + 0.85 * COALESCE(CAST(s.in_sum AS DOUBLE), 0.0) AS rank
            FROM nodes n2 CROSS JOIN nn
            LEFT JOIN (
                SELECT e.d AS node,
                       SUM(CAST(r.rank / e.deg AS DECIMAL(38,18))) AS in_sum
                FROM r{k - 1} r JOIN ed e ON e.s = r.node
                GROUP BY e.d
            ) s ON s.node = n2.node
        )""")
    return ", ".join(its)


@register(
    "doc_dup_canonical_pagerank",
    oracle=f"""
        WITH RECURSIVE {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, pairs AS (
            {_SQL_PAIRS_SELECT}
        ), edges AS (
            SELECT doc_a AS s, doc_b AS d FROM pairs
            UNION ALL
            SELECT doc_b AS s, doc_a AS d FROM pairs
        ), nodes AS (
            SELECT DISTINCT s AS node FROM edges
        ), nn AS (
            SELECT COUNT(*) AS n FROM nodes
        ), deg AS (
            SELECT s, COUNT(*) AS deg FROM edges GROUP BY s
        ), ed AS (
            SELECT e.s, e.d, g.deg FROM edges e JOIN deg g ON g.s = e.s
        ), r0 AS (
            -- DOUBLE division like graph.py's lit(1.0 / n): DuckDB's
            -- DECIMAL 1.0/n carries extra precision into round 1
            SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank
            FROM nodes CROSS JOIN nn
        ), {_sql_pagerank_iterations(PAGERANK_ITERS)},
        cc(node, lbl) AS (
            SELECT DISTINCT s, s FROM edges
            UNION
            SELECT e.d, cc.lbl FROM cc JOIN edges e ON e.s = cc.node
            WHERE cc.lbl < e.d
        ), labels AS (
            SELECT node, MIN(lbl) AS component FROM cc GROUP BY node
        ), sel AS (
            SELECT l.component AS cluster_id, r.node,
                   row_number() OVER (
                       PARTITION BY l.component
                       ORDER BY r.rank DESC, r.node ASC
                   ) AS rn,
                   COUNT(*) OVER (PARTITION BY l.component) AS n_members
            FROM labels l JOIN r{PAGERANK_ITERS} r ON r.node = l.node
        )
        SELECT cluster_id, node AS canonical_doc_id,
               CAST(n_members AS BIGINT) AS n_members
        FROM sel WHERE rn = 1
        ORDER BY cluster_id
    """,
    description="Canonical-doc selection by PageRank: rank the "
    "MinHash-LSH similarity graph (operators/graph.py:pagerank — "
    "decimal-accumulated, partition-order-invariant) and pick each "
    "dup cluster's highest-rank member as canonical (tie: lower "
    "doc_id). Rank-based canon beats min-doc_id when near-dup "
    "clusters mix originals with mutilated copies: the most-connected "
    "variant is the best keep. Iterative scatter/gather per round, "
    "lineage truncated; cluster assignment reuses the same "
    "connected-components frame as doc_dup_clusters. ORACLE-EXACT "
    f"despite being iterative: the fixed {PAGERANK_ITERS}-round power "
    "iteration unrolls into chained SQL CTEs with op-identical "
    "arithmetic, and the (cluster_id, canonical_doc_id, n_members) "
    "contract contains no floats (see _sql_pagerank_iterations).",
    tags=("text", "dedup", "graph", "pagerank"),
)
def doc_dup_canonical_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.operators.graph import (
        connected_components,
        pagerank,
    )

    # Materialize the LSH pairs ONCE (eager checkpoint): both consumers
    # below — the PageRank edge list and the connected-components run —
    # would otherwise re-execute the whole MinHash→bands→join pipeline
    # (measured 10.9s → ~7s at sf0.1).
    pairs = eager_checkpoint(_candidate_pairs(spark, sf_dir))
    # similarity edges are undirected: feed both directions
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    ).union(
        pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    ranks = pagerank(edges, iterations=PAGERANK_ITERS)
    cc = connected_components(pairs, "doc_a", "doc_b")  # (node, component)
    best = (
        cc.join(ranks, "node")
        .groupBy("component")
        .agg(
            F.count("*").alias("n_members"),
            F.max(
                F.struct(
                    F.col("rank").alias("r"),
                    (-F.col("node")).alias("neg_id"),
                )
            ).alias("m"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            (-F.col("m.neg_id")).alias("canonical_doc_id"),
            F.col("n_members"),
        )
    )
    return best.orderBy("cluster_id")


@register(
    "doc_near_dup_edit_distance",
    oracle=f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, pairs AS (
            {_SQL_PAIRS_SELECT}
        )
        SELECT doc_a, doc_b,
               CAST(levenshtein(substr(da.text, 1, 40),
                                substr(db.text, 1, 40)) AS INT) AS prefix_edit,
               CAST(abs(da.n_chars - db.n_chars) AS BIGINT) AS len_delta
        FROM pairs
        JOIN documents da ON da.doc_id = doc_a
        JOIN documents db ON db.doc_id = doc_b
        ORDER BY doc_a, doc_b
    """,
    description="Edit-distance verification of LSH candidates: the "
    "cheap fuzzy-match confirmation stage after banding — Levenshtein "
    "on a fixed 40-char prefix (bounded cost per pair: the full-text "
    "distance is quadratic in doc length and NEVER the right scale "
    "move) plus the length delta. Shuffled joins back to the corpus "
    "on doc_id; both engines implement classic unit-cost Levenshtein "
    "so the ints hash-match.",
    tags=("text", "dedup", "fuzzy"),
)
def doc_near_dup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = _candidate_pairs(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 40).alias("prefix"), "n_chars"
    )
    da = docs.withColumnsRenamed(
        {"doc_id": "doc_a", "prefix": "pa", "n_chars": "na"}
    )
    db = docs.withColumnsRenamed(
        {"doc_id": "doc_b", "prefix": "pb", "n_chars": "nb"}
    )
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.levenshtein("pa", "pb").alias("prefix_edit"),
            F.abs(F.col("na") - F.col("nb")).alias("len_delta"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "doc_minhash_estimate_vs_exact",
    oracle=f"""
        WITH {_SQL_SIG_CTE}, sample_sh AS (
            SELECT doc_id, list_distinct({_sql_shingles(3)}) AS shingles
            FROM documents WHERE doc_id < 40
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               ({" + ".join(
                   f"CASE WHEN sa.sig_{i} = sb.sig_{i} THEN 1 ELSE 0 END"
                   for i in range(N_PERM)
               )}) / CAST({N_PERM} AS DOUBLE) AS est_jaccard,
               CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(list_distinct(a.shingles || b.shingles))
                   AS exact_jaccard
        FROM sample_sh a
        JOIN sample_sh b ON a.doc_id < b.doc_id
        JOIN sig sa ON sa.doc_id = a.doc_id
        JOIN sig sb ON sb.doc_id = b.doc_id
        ORDER BY doc_a, doc_b
    """,
    description="MinHash sketch calibration: per pair (bounded sample, "
    "same 40-doc slice as doc_jaccard_pairs_sample), the signature-"
    "agreement estimate (matching components / 16) next to the exact "
    "3-shingle Jaccard — the measurement that justifies the LSH "
    "banding thresholds at scale, where only the estimate is "
    "affordable. Estimate and truth derive from the same md5 hash "
    "family on both engines, so the comparison is bit-exact.",
    tags=("text", "dedup", "minhash", "calibration"),
)
def doc_minhash_estimate_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _signatures(spark, sf_dir).filter(F.col("doc_id") < 40)
    docs = (
        read_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 40)
        .select(
            "doc_id",
            F.array_distinct(word_shingles(tokenize("text"), 3)).alias("shingles"),
        )
    )
    a = docs.alias("a")
    b = docs.alias("b")
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    matches = sum(
        F.when(F.col(f"sa.sig_{i}") == F.col(f"sb.sig_{i}"), 1).otherwise(0)
        for i in range(N_PERM)
    )
    inter = F.size(F.array_intersect(F.col("a.shingles"), F.col("b.shingles")))
    union = F.size(F.array_union(F.col("a.shingles"), F.col("b.shingles")))
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .join(sa, F.col("sa.doc_id") == F.col("a.doc_id"))
        .join(sb, F.col("sb.doc_id") == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (matches / F.lit(float(N_PERM))).alias("est_jaccard"),
            (inter.cast("double") / union).alias("exact_jaccard"),
        )
        .orderBy("doc_a", "doc_b")
    )


@register(
    "doc_dup_graph_triangles",
    oracle=f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, e AS (
            {_SQL_PAIRS_SELECT}
        ),
        tri AS (
            SELECT COUNT(*) AS n_triangles
            FROM e e1
            JOIN e e2 ON e2.doc_a = e1.doc_b
            JOIN e e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b
        ),
        deg AS (
            SELECT node, COUNT(*) AS d FROM (
                SELECT doc_a AS node FROM e
                UNION ALL SELECT doc_b AS node FROM e
            ) GROUP BY node
        ),
        agg AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
                   CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges
            FROM deg
        )
        SELECT agg.n_nodes,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
               CAST(tri.n_triangles AS BIGINT) AS n_triangles,
               agg.n_wedges,
               CASE WHEN agg.n_wedges > 0
                    THEN CAST(3 * tri.n_triangles AS DOUBLE)
                         / CAST(agg.n_wedges AS DOUBLE)
                    ELSE CAST(0.0 AS DOUBLE) END AS global_cc
        FROM agg CROSS JOIN tri
    """,
    description="Triangle count + global clustering coefficient of the "
    "MinHash-LSH similarity graph — the canonical join-based graph "
    "analytic: with edges oriented a<b, each triangle x<y<z is found "
    "exactly once by the two-hop equi-join e1(x,y)⋈e2(y,z)⋈e3(x,z); "
    "wedges come from per-node degrees (Σ d·(d−1)/2) and "
    "cc = 3·triangles/wedges. A near-1 coefficient confirms dup "
    "clusters are clique-like (true near-dup sets), a low one flags "
    "chained false-positive merges — the graph-health metric for "
    "dedup QA. Scale shape: two hash-partitioned edge joins (the "
    "standard distributed triangle enumeration); above "
    "LARGE_INPUT_BYTES of documents the edges are re-oriented "
    "DEGREE-ORDERED (every edge points "
    "low-degree→high-degree, so wedge fan-out is bounded by min-degree "
    "and a celebrity node cannot pin its whole neighborhood on one "
    "build side — provably count-identical to the a<b orientation the "
    "oracle counts with), below it the plain a<b wedge join wins (the "
    "orientation joins are pure overhead on a tiny-degree graph); plus "
    "one degree aggregate; no adjacency lists materialized.",
    tags=("text", "dedup", "graph"),
)
def doc_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Materialize the LSH pairs ONCE (eager checkpoint): the triple
    # self-join plus the two degree scans and the edge count would
    # otherwise re-execute the whole MinHash→bands→join pipeline ~6×
    # — ReusedExchange does not fire across self-join scans (the
    # doc_dup_canonical_pagerank precedent, r16 review).
    e = eager_checkpoint(_candidate_pairs(spark, sf_dir))

    deg = (
        e.select(F.col("doc_a").alias("node"))
        .unionAll(e.select(F.col("doc_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    # Degree-ordered orientation (§2.5 skew), gated on corpus size like
    # the MinHash/SimHash materialization switch: above
    # LARGE_INPUT_BYTES every edge is re-oriented
    # low-degree→high-degree (ties by doc_id) so the wedge self-join
    # enumerates out-neighbor PAIRS only at each triangle's LOWEST-rank
    # vertex — per-node join fan-out is then bounded by min-degree
    # instead of the doc_id-oriented out-degree, where a low-id
    # celebrity doc (a boilerplate page near-duplicating millions)
    # kept its entire fan-out on one build side. Each triangle
    # {x,y,z} with rank(x)<rank(y)<rank(z) is found exactly once as
    # x→y, x→z closed by y→z, so the COUNT is identical to the a<b
    # orientation the oracle uses (oracle-verified at 3 SFs, and the
    # two modes are asserted row-identical in tests/test_plans.py).
    # Below the gate the a<b wedge join is kept as-is: the orientation
    # costs two degree joins plus one more materialization job, which
    # at bench SFs is pure overhead (measured +0.5 s / +4 jobs at
    # sf0.1) on a graph whose max degree is tiny — the same
    # measured-faster-small-mode reasoning as the signature gate. The
    # pairs above hide the corpus scan, so the gate reads it lazily.
    if is_large_input(read_table(spark, sf_dir, "documents")):
        da, db = F.col("da.d"), F.col("db.d")
        a_first = (da < db) | (
            (da == db) & (F.col("doc_a") < F.col("doc_b"))
        )
        # materialized once: the triple self-join below reads it three
        # times, and the orientation joins must not re-execute per scan
        eo = eager_checkpoint(
            e.join(deg.alias("da"), F.col("da.node") == F.col("doc_a"))
            .join(deg.alias("db"), F.col("db.node") == F.col("doc_b"))
            .select(
                F.when(a_first, F.col("doc_a"))
                .otherwise(F.col("doc_b"))
                .alias("src"),
                F.when(a_first, F.col("doc_b"))
                .otherwise(F.col("doc_a"))
                .alias("dst"),
                # the DST endpoint's (degree, id) rank drives the wedge
                # pair ordering below
                F.when(a_first, db).otherwise(da).alias("dd"),
            )
        )

        t1 = eo.alias("t1")
        t2 = eo.alias("t2")
        t3 = eo.alias("t3")
        rank_lt = (F.col("t1.dd") < F.col("t2.dd")) | (
            (F.col("t1.dd") == F.col("t2.dd"))
            & (F.col("t1.dst") < F.col("t2.dst"))
        )
        tri = (
            t1.join(t2, (F.col("t1.src") == F.col("t2.src")) & rank_lt)
            .join(
                t3,
                (F.col("t3.src") == F.col("t1.dst"))
                & (F.col("t3.dst") == F.col("t2.dst")),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        )
    else:
        e1 = e.alias("e1")
        e2 = e.alias("e2")
        e3 = e.alias("e3")
        tri = (
            e1.join(e2, F.col("e1.doc_b") == F.col("e2.doc_a"))
            .join(
                e3,
                (F.col("e3.doc_a") == F.col("e1.doc_a"))
                & (F.col("e3.doc_b") == F.col("e2.doc_b")),
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
        )
    agg = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("bigint").alias("n_wedges"),
    )
    n_edges = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        agg.crossJoin(tri)
        .crossJoin(n_edges)
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            "n_wedges",
            F.when(
                F.col("n_wedges") > 0,
                (3 * F.col("n_triangles")).cast("double")
                / F.col("n_wedges").cast("double"),
            )
            .otherwise(F.lit(0.0))
            .alias("global_cc"),
        )
    )


_KCORE_K = 2
_KCORE_SQL_ROUNDS = 12  # real dup graphs converge in 1-2; generous margin


def _kcore_oracle() -> str:
    """Unrolled fixed-round peel — the same trick that made PageRank
    oracle-checkable: DuckDB runs _KCORE_SQL_ROUNDS peel rounds as
    chained CTEs; peeling is idempotent at the fixed point, so as long
    as the graph converges within the unrolled count (measured: 1 round
    at sf0.001/sf0.01, guarded by the Spark side's convergence raise)
    the result IS the true k-core."""
    # AS MATERIALIZED throughout: DuckDB inlines plain CTEs per
    # reference, and each round references its predecessor three times
    # — unmaterialized, the base LSH scan would be re-expanded
    # exponentially in the round count.
    ctes = [
        "s0 AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM e"
        " UNION ALL SELECT doc_b AS u, doc_a AS v FROM e)"
    ]
    for i in range(_KCORE_SQL_ROUNDS):
        ctes.append(
            f"k{i} AS MATERIALIZED (SELECT u FROM s{i} GROUP BY u"
            f" HAVING COUNT(*) >= {_KCORE_K})"
        )
        ctes.append(
            f"s{i + 1} AS MATERIALIZED (SELECT s.u, s.v FROM s{i} s"
            f" JOIN k{i} a ON s.u = a.u JOIN k{i} b ON s.v = b.u)"
        )
    last = f"s{_KCORE_SQL_ROUNDS}"
    return f"""
        WITH {_SQL_SIG_CTE}, {_SQL_BANDS_CTE}, e AS MATERIALIZED (
            {_SQL_PAIRS_SELECT}
        ),
        {", ".join(ctes)}
        SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS core_degree
        FROM {last} GROUP BY u ORDER BY node
    """


@register(
    "doc_dup_graph_kcore",
    oracle=_kcore_oracle(),
    description=f"{_KCORE_K}-core of the MinHash-LSH similarity graph "
    "(operators/graph.py:k_core — iterative peel: drop degree<k nodes "
    "until fixed point): strips pendant single-collision docs (the "
    "likely LSH false positives) and keeps the densely-connected dup "
    "clusters worth canonical-selection effort — the graph-cleanup "
    "step between candidate pairs and clustering. Scale shape: each "
    "round is one map-side-combined degree aggregate plus a semi-join "
    "edge filter, rounds eagerly checkpointed (reliable dir via the "
    "SPARK_GRAFT_CHECKPOINT_DIR contract), and the operator RAISES if "
    "unconverged rather than return a half-peeled subgraph. The oracle "
    f"unrolls {_KCORE_SQL_ROUNDS} peel rounds as chained CTEs — "
    "idempotent past the fixed point, so it equals the true k-core "
    "whenever the Spark side's convergence check passes.",
    tags=("text", "dedup", "graph", "kcore"),
)
def doc_dup_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bigdata_flightanalysis_spark.operators.graph import k_core

    # max_iter is pinned to the oracle's unrolled round count: a graph
    # converging in (rounds, default-max_iter] would pass Spark's
    # convergence guard yet be checked against a half-peeled oracle —
    # capping here makes Spark RAISE in exactly the window where the
    # oracle could be unconverged, so a parity row can never compare
    # against a wrong "truth".
    return k_core(
        _candidate_pairs(spark, sf_dir),
        _KCORE_K,
        src="doc_a",
        dst="doc_b",
        max_iter=_KCORE_SQL_ROUNDS,
    ).orderBy("node")
