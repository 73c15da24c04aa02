"""Corpus retrieval & span-level dedup operators.

Pipeline stages the doc-level suite (``queries/text.py``) doesn't
cover:

- **BM25 retrieval scoring** (``doc_bm25_topk``): score the corpus
  against a fixed query-term set — the ranking half of a
  dedup-then-retrieve data pipeline (and of RAG-style corpus search).
- **Duplicated-span detection** (``doc_duplicate_spans``): the
  substring-level dedup signal of Lee et al. 2022 ("Deduplicating
  Training Data Makes Language Models Better") — a 5-word span is
  *duplicated* if it occurs in ≥2 distinct documents; per document we
  report the fraction of its spans that are cross-document duplicates.
  Doc-level MinHash (``doc_near_dup_candidates``) misses a unique page
  quoting a boilerplate paragraph; this catches it.
- **Winnowing fingerprints** (``doc_winnow_fingerprints``): the MOSS
  fingerprint-selection algorithm (Schleimer et al., SIGMOD 2003) —
  position-aware, density-bounded fingerprints with a shared-run
  guarantee, as a single windowed MIN per document.

Determinism notes (same discipline as ``queries/text_ext.py``):
- BM25 uses the log-free monotone idf ``(N − df + 0.5)/(df + 0.5)``
  instead of its logarithm — transcendental functions are not
  bit-identical across engines, rational arithmetic on identical
  doubles is. Every fractional literal is an exact binary double
  (0.5, 0.25, 0.75, 1.2, 2.2) and the oracle casts each one to DOUBLE
  so DuckDB can't parse them as DECIMAL.
- per-term scores are added in a FIXED expression order (term list
  order), never via SUM over rows, so float non-associativity can't
  make the result partition-order-dependent.

Scale shape:
- ``doc_bm25_topk`` is two corpus scans and zero corpus shuffles: one
  scan aggregates to a single global-stats row (N, avgdl, per-term df)
  that is broadcast back; the second scan computes per-doc scores with
  pure expressions and feeds TakeOrderedAndProject. No explode, no
  join keyed on the corpus.
- ``doc_duplicate_spans`` shuffles the exploded spans twice on the
  64-bit span hash (df aggregate + join-back) and once on doc_id —
  the standard inverted-index shape; never corpus-quadratic.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_flightanalysis_spark.functions.text import (
    TOKENIZER_TAG,
    md5_long,
    md5_long_sql,
    tokenize,
    word_shingles,
)
from bigdata_flightanalysis_spark.operators.checkpointing import (
    eager_checkpoint,
    is_large_input,
)
from bigdata_flightanalysis_spark.queries.catalog import register
from bigdata_flightanalysis_spark.queries.text import _SQL_TOKENS, _sql_shingles
from bigdata_flightanalysis_spark.sources.readers import read_table
from bigdata_flightanalysis_spark.util import (
    _remove_any,
    check_sidecar,
    path_lock,
    read_sidecar,
    recover_layout,
    remove_layout,
    stamp_sidecar,
    swap_layout,
)

# Fixed retrieval query — three terms known to appear in the synthetic
# corpus vocabulary. A production call would parameterize this list;
# the registry entry pins it so the oracle is a closed expression.
BM25_TERMS: tuple[str, ...] = ("spark", "join", "filter")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOPK = 10

# Derived constants computed ONCE in Python and injected into BOTH the
# Spark expression tree (F.lit) and the oracle SQL (repr round-trips
# doubles exactly) — a single source of truth, so retuning k1/b can
# never skew one engine's literals off the other's by an ulp.
_K1_PLUS_1 = BM25_K1 + 1.0
_ONE_MINUS_B = 1.0 - BM25_B


def _bm25_oracle() -> str:
    df_cols = ",\n               ".join(
        f"CAST(SUM(CASE WHEN list_contains(t, '{t}') THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS df{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    tf_cols = ",\n               ".join(
        f"len(list_filter(t, x -> x = '{t}')) AS tf{i}"
        for i, t in enumerate(BM25_TERMS)
    )
    score_terms = " + ".join(
        f"((CAST(n_docs - df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE))"
        f" / (CAST(df{i} AS DOUBLE) + CAST(0.5 AS DOUBLE)))"
        f" * ((CAST(tf{i} AS DOUBLE) * CAST({_K1_PLUS_1!r} AS DOUBLE))"
        f" / (CAST(tf{i} AS DOUBLE) + CAST({BM25_K1!r} AS DOUBLE)"
        f" * (CAST({_ONE_MINUS_B!r} AS DOUBLE) + CAST({BM25_B!r} AS DOUBLE)"
        f" * (CAST(dl AS DOUBLE) / avgdl))))"
        for i in range(len(BM25_TERMS))
    )
    return f"""
        WITH toks AS (
            SELECT doc_id,
                   {_SQL_TOKENS} AS t,
                   len({_SQL_TOKENS}) AS dl
            FROM documents
        ),
        stats AS (
            SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl,
               {df_cols}
            FROM toks
        ),
        tf AS (
            SELECT doc_id, dl,
               {tf_cols}
            FROM toks
        )
        SELECT doc_id, {score_terms} AS bm25_score
        FROM tf CROSS JOIN stats
        WHERE {score_terms} > 0
        ORDER BY bm25_score DESC, doc_id
        LIMIT {BM25_TOPK}
    """


def _bm25_score() -> F.Column:
    """The BM25 score expression over (tf{i}, df{i}, dl, n_docs,
    avgdl) columns — ONE definition shared by the inline query and
    the index-serving path, so the 'served scores are bit-identical
    to the inline form' claim is structural, not a coincidence of two
    copies staying character-identical."""
    half = F.lit(0.5)
    score = None
    for i in range(len(BM25_TERMS)):
        idf = ((F.col("n_docs") - F.col(f"df{i}")).cast("double") + half) / (
            F.col(f"df{i}").cast("double") + half
        )
        tf_d = F.col(f"tf{i}").cast("double")
        tfpart = (tf_d * F.lit(_K1_PLUS_1)) / (
            tf_d
            + F.lit(BM25_K1)
            * (
                F.lit(_ONE_MINUS_B)
                + F.lit(BM25_B) * (F.col("dl").cast("double") / F.col("avgdl"))
            )
        )
        term_score = idf * tfpart
        score = term_score if score is None else score + term_score
    return score


@register(
    "doc_bm25_topk",
    oracle=_bm25_oracle(),
    description="BM25 retrieval top-10 for a fixed 3-term query "
    f"{BM25_TERMS} (k1={BM25_K1}, b={BM25_B}; log-free monotone idf "
    "(N−df+0.5)/(df+0.5) for cross-engine bit-stability). Two corpus "
    "scans, zero corpus shuffles: global stats (N, avgdl, per-term df) "
    "aggregate to one broadcast row; scores are pure expressions added "
    "in fixed term order; top-k is TakeOrderedAndProject.",
    tags=("text", "retrieval"),
)
def doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents")
    toks = _toks_of(docs)

    stats = toks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        *[
            F.sum(F.array_contains("t", t).cast("int"))
            .cast("bigint")
            .alias(f"df{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )

    def _eq(term: str):
        # A plain closure: a 2-arg lambda would make F.filter pass the
        # element INDEX as the second argument.
        return lambda x: x == F.lit(term)

    tf = toks.select(
        "doc_id",
        "dl",
        *[
            F.size(F.filter("t", _eq(t))).alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ],
    )

    score = _bm25_score()

    return (
        tf.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25_score"))
        .where(F.col("bm25_score") > 0)
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(BM25_TOPK)
    )


SPAN_WORDS = 5  # same shingle width as doc_decontamination


@register(
    "doc_duplicate_spans",
    oracle=f"""
        WITH spans AS (
            SELECT doc_id, {md5_long_sql("sh")} AS h
            FROM (
                SELECT doc_id, unnest({_sql_shingles(SPAN_WORDS)}) AS sh
                FROM documents
            )
        ),
        span_df AS (
            SELECT h, COUNT(DISTINCT doc_id) AS ndocs
            FROM spans GROUP BY h
        )
        SELECT s.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_spans,
               CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_dup_spans,
               CAST(SUM(CASE WHEN d.ndocs >= 2 THEN 1 ELSE 0 END)
                   AS DOUBLE) / COUNT(*) AS dup_ratio
        FROM spans s JOIN span_df d USING (h)
        GROUP BY s.doc_id
        ORDER BY s.doc_id
    """,
    description="Substring-level duplication signal (Lee et al. 2022): "
    f"per doc, the fraction of its {SPAN_WORDS}-word spans that occur "
    "in ≥2 distinct documents. ONE corpus scan, no join: explode spans "
    "and hash once (60-bit md5), pre-aggregate to (hash, doc, cnt) — "
    "the map-side-combinable shrink that makes the rest cheap — then a "
    "count window over the hash marks cross-doc spans and a doc_id "
    "rollup finishes. Three key-partitioned shuffles on shrinking "
    "relations, never corpus-quadratic. Catches boilerplate quotation "
    "that doc-level MinHash misses.",
    tags=("text", "dedup"),
)
def doc_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    spans = docs.select(
        "doc_id",
        F.explode(word_shingles(tokenize("text"), SPAN_WORDS)).alias("sh"),
    ).select("doc_id", md5_long("sh").alias("h"))

    # (h, doc) pre-aggregate: cnt = how often this doc repeats the span
    # internally; the row count per h IS the distinct-doc frequency, so
    # no countDistinct and no join-back of the exploded relation.
    per_hd = spans.groupBy("h", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    ndocs = F.count(F.lit(1)).over(Window.partitionBy("h"))
    marked = per_hd.select("doc_id", "cnt", ndocs.alias("ndocs"))

    dup_cnt = F.when(F.col("ndocs") >= 2, F.col("cnt")).otherwise(F.lit(0))
    return (
        marked.groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_spans"),
            F.sum(dup_cnt).cast("bigint").alias("n_dup_spans"),
            (F.sum(dup_cnt).cast("double") / F.sum("cnt")).alias("dup_ratio"),
        )
        .orderBy("doc_id")
    )


# Winnowing constants (Schleimer, Wilkerson, Aiken — SIGMOD 2003, the
# MOSS fingerprinter): k-word grams, window of WINNOW_W consecutive
# gram hashes, keep each window's minimum. Guarantee: any shared run
# of >= WINNOW_W + WINNOW_K - 1 words produces at least one shared
# fingerprint, while storing only ~2/(w+1) of all gram hashes.
WINNOW_K = 3
WINNOW_W = 4
# 40-bit hash packed with the position into ONE bigint so the
# rightmost-min tie-break is a plain MIN over a window in BOTH
# engines (no struct-min, no second pass): h*2^20 + (2^20-1-pos).
# Caps documents at 2^20-1 grams (~1M words) — far above any real
# web/pretraining doc; the pack would need widening for book-length
# inputs.
_POS_CAP = 1 << 20


def _winnow_oracle() -> str:
    grams = (
        "SELECT doc_id, t.i AS pos, "
        "CAST(('0x' || substr(md5(t.x), 1, 10)) AS BIGINT) AS h "
        "FROM (SELECT doc_id, unnest(list_transform("
        "range(1, len(g) + 1), i -> {'i': i, 'x': g[i]})) AS t "
        f"FROM (SELECT doc_id, {_sql_shingles(WINNOW_K)} AS g FROM documents))"
    )
    return f"""
        WITH grams AS ({grams}),
        win AS (
            SELECT doc_id, pos,
                   MIN(h * {_POS_CAP} + ({_POS_CAP - 1} - pos)) OVER (
                       PARTITION BY doc_id ORDER BY pos
                       ROWS BETWEEN {WINNOW_W - 1} PRECEDING AND CURRENT ROW
                   ) AS min_c
            FROM grams
        )
        SELECT DISTINCT doc_id,
               CAST({_POS_CAP - 1} - (min_c % {_POS_CAP}) AS INT) AS fp_pos,
               min_c // {_POS_CAP} AS fp_hash
        FROM win WHERE pos >= {WINNOW_W}
        ORDER BY doc_id, fp_pos
    """


@register(
    "doc_winnow_fingerprints",
    oracle=_winnow_oracle(),
    description="Winnowing document fingerprints (Schleimer et al. "
    f"2003, the MOSS algorithm): hash every {WINNOW_K}-word gram "
    f"(40-bit md5 prefix), slide a {WINNOW_W}-gram window, keep each "
    "window's minimum hash with the RIGHTMOST-occurrence tie-break — "
    "guaranteeing any shared run of ≥ "
    f"{WINNOW_W + WINNOW_K - 1} words yields a shared fingerprint at "
    f"~2/(w+1) storage density. The select is ONE windowed MIN per "
    "gram: hash and position pack into a single bigint (h·2^20 + "
    "(2^20−1−pos)) so the tie-break needs no struct-min and no second "
    "pass; per-doc window partitioning keeps it embarrassingly "
    "parallel — one shuffle on doc_id, nothing corpus-global.",
    tags=("text", "fingerprint", "winnowing"),
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = read_table(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.posexplode(word_shingles(tokenize("text"), WINNOW_K)).alias(
            "pos0", "g"
        ),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(
            F.substring(F.md5(F.encode("g", "UTF-8")), 1, 10), 16, 10
        )
        .cast("bigint")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(WINNOW_W - 1), 0)
    )
    packed = (
        F.col("h") * _POS_CAP + (F.lit(_POS_CAP - 1) - F.col("pos"))
    )
    win = grams.select(
        "doc_id", "pos", F.min(packed).over(w).alias("min_c")
    ).where(F.col("pos") >= WINNOW_W)
    return (
        win.select(
            "doc_id",
            (F.lit(_POS_CAP - 1) - F.col("min_c") % _POS_CAP)
            .cast("int")
            .alias("fp_pos"),
            F.expr(f"min_c DIV {_POS_CAP}").alias("fp_hash"),
        )
        .distinct()
        .orderBy("doc_id", "fp_pos")
    )


# ---------------------------------------------------------------------------
# Materialized inverted index: the build-once/serve-many lifecycle of a
# real retrieval engine (the text twin of build_pq_index/pq_index_topk).
# ---------------------------------------------------------------------------

INDEX_TERM_BUCKETS = 64  # term-hash partition count for NEW index builds
# The bucket count is a build/serve COMPATIBILITY CONTRACT: serving an
# index with a different modulus than it was built with prunes to the
# wrong partitions and silently drops terms. Every build therefore
# records its count in the index (_index_meta.json at the index root),
# and serve/refresh/compact use the STORED value — raising the
# constant for a bigger cluster can never mis-serve an older index.
# (Same defect class, same cure as the embedding store's n_planes.)
#
# The TOKENIZER is the same kind of contract: postings are a function
# of how documents were split into terms, so refreshing an index built
# by a release with different tokenization would mix incompatible
# postings (and a serve's terms would partially miss) — silently wrong
# scores, not an error. The build stamps its scheme and refresh/serve
# verify it; changing `tokenize` requires bumping this tag (and
# rebuilding indexes). Pre-stamp indexes (no meta / no tokenizer key)
# predate the tag and are accepted as legacy.
# v2 (r16): tokenize filters boundary empty tokens instead of
# trimming — whitespace-edged docs now yield different term sets, so
# v1-built indexes are a different scheme. The tag lives beside
# tokenize itself (functions.text.TOKENIZER_TAG) so a tokenizer
# change cannot land without the stamps moving with it.
_INDEX_TOKENIZER = TOKENIZER_TAG


def _index_meta_path(index_path: str) -> str:
    return os.path.join(index_path, "_index_meta.json")


def _record_index_buckets(index_path: str) -> None:
    os.makedirs(index_path, exist_ok=True)
    # overwrite=True: a rebuild clears the old relations first, so the
    # fresh stamp must replace any previous one (util.stamp_sidecar is
    # atomic — absent or complete, never truncated)
    stamp_sidecar(
        _index_meta_path(index_path),
        {"n_buckets": INDEX_TERM_BUCKETS, "tokenizer": _INDEX_TOKENIZER},
        overwrite=True,
    )


def _index_buckets(index_path: str) -> int:
    """The bucket modulus this index was BUILT with (pre-round-8
    indexes carry no meta file and used the then-constant 64)."""
    return int(read_sidecar(_index_meta_path(index_path)).get("n_buckets", 64))


def _check_index_tokenizer(index_path: str) -> None:
    """Raise if the index was built with a DIFFERENT tokenization
    scheme than this release's `tokenize` — refreshing would mix
    incompatible postings and serving would partially miss terms,
    both silently. Lenient comparison (``util.check_sidecar``): an
    absent stamp, or a pre-tag stamp lacking the tokenizer key, is a
    legacy index and accepted."""
    check_sidecar(
        _index_meta_path(index_path),
        {"tokenizer": _INDEX_TOKENIZER},
        what="index",
        lenient=True,
        rebuild_hint="rebuild the index",
    )


def build_text_index(
    spark: SparkSession, sf_dir: str, index_path: str
) -> None:
    """Materialize the BM25 inverted index: a postings relation
    (term, doc_id, tf) hive-partitioned by ``bucket =
    pmod(xxhash64(term), INDEX_TERM_BUCKETS)`` — a query's terms prune
    to at most |terms| partitions on disk — plus per-doc lengths and
    the corpus totals (stored as exact LONGS so the serve path can
    recompute avgdl with the identical double division the inline
    query uses). TWO corpus passes build all three relations: one
    tokenizing pass writes doc_stats, the totals aggregate over the
    just-written narrow doc_stats (no re-tokenization — r16
    optimization; the old form aggregated `toks` directly, a third
    full corpus scan + tokenization for two longs), and one
    tokenizing pass writes postings."""
    build_text_index_from(
        spark, read_table(spark, sf_dir, "documents"), index_path
    )


#: n_buckets -> sorted ids of the buckets BM25_TERMS hash to. Memoized
#: because the value is a PURE function of its key — bucket =
#: pmod(xxhash64(term), n_buckets), a fixed hash of constant strings,
#: independent of any data — yet computing it through the engine costs
#: one collect() job per serve call. The first serve in a process pays
#: the tiny job; every later serve (each lifecycle query serves once per
#: run) reuses the arithmetic result. NOT a data cache: nothing here
#: derives from table contents.
_TERM_BUCKET_MEMO: dict[int, list[int]] = {}


def _term_buckets(spark: SparkSession, n_buckets: int) -> list[int]:
    """Bucket ids the BM25 terms hash to, via the ENGINE's own xxhash64
    (a Python reimplementation could drift from Spark's); memoized per
    n_buckets — see ``_TERM_BUCKET_MEMO``."""
    got = _TERM_BUCKET_MEMO.get(n_buckets)
    if got is None:
        got = sorted(
            {
                r["b"]
                for r in spark.createDataFrame(
                    [(t,) for t in BM25_TERMS], "term string"
                )
                .select(
                    F.pmod(F.xxhash64("term"), F.lit(n_buckets))
                    .cast("int")
                    .alias("b")
                )
                .collect()
            }
        )
        _TERM_BUCKET_MEMO[n_buckets] = got
    return got


def bm25_index_topk(spark: SparkSession, index_path: str) -> DataFrame:
    """BM25 top-k served from the MATERIALIZED index — bit-identical
    to the inline ``doc_bm25_topk`` (asserted in
    tests/test_retrieval.py): per-term tfs pivot into fixed columns by
    conditional aggregation so the score is the SAME fixed-order
    expression tree, not an order-nondeterministic float sum; df per
    term is the DISTINCT-doc count over its postings (== the inline
    array_contains count on a clean index, and immune to the
    byte-identical duplicate rows a crash-retried refresh can append);
    avgdl recomputes from the stored exact longs with the identical
    double division. The corpus text is never touched: the scan reads
    ≤ |terms| postings partitions (bucket pruning) plus the narrow
    doc-length relation."""
    _check_index_tokenizer(index_path)
    _recover_corpus_stats(index_path)
    n_buckets = _index_buckets(index_path)  # the modulus the index was BUILT with
    postings = spark.read.parquet(f"{index_path}/postings")
    buckets = _term_buckets(spark, n_buckets)
    hits = postings.where(
        F.col("bucket").isin(buckets) & F.col("term").isin(list(BM25_TERMS))
    )
    # df = DISTINCT docs per term (not row count): replay-duplicated
    # postings rows from a crash-retried refresh are exact copies, and
    # distinctness makes both df and the max-pivoted tfs immune to them
    dfs = hits.groupBy("term").agg(
        F.count_distinct("doc_id").cast("bigint").alias("df")
    )
    df_row = dfs.groupBy().pivot("term", list(BM25_TERMS)).agg(F.first("df"))
    # docs containing >=1 query term, with each term's tf as a column
    cand = hits.groupBy("doc_id").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("term") == t, F.col("tf"))), F.lit(0)
            )
            .cast("bigint")
            .alias(f"tf{i}")
            for i, t in enumerate(BM25_TERMS)
        ]
    )
    # Same defensive dedup as compact_text_index: two cross-HOST
    # refreshes (flock serializes same-host only) can both append a
    # doc their anti-joins saw as unseen — without the dedup, the dl
    # join duplicates that doc's candidate rows and it occupies two
    # of the k served slots with the same score.
    doc_stats = spark.read.parquet(f"{index_path}/doc_stats").dropDuplicates(
        ["doc_id"]
    )
    cand = cand.join(doc_stats, "doc_id")
    corpus = spark.read.parquet(f"{index_path}/corpus_stats").select(
        "n_docs",
        (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    stats = corpus.crossJoin(
        F.broadcast(df_row).select(
            *[
                F.coalesce(F.col(f"`{t}`"), F.lit(0))
                .cast("bigint")
                .alias(f"df{i}")
                for i, t in enumerate(BM25_TERMS)
            ]
        )
    )

    score = _bm25_score()

    return (
        cand.crossJoin(F.broadcast(stats))
        .select("doc_id", score.alias("bm25_score"))
        .where(F.col("bm25_score") > 0)
        .orderBy(F.desc("bm25_score"), "doc_id")
        .limit(BM25_TOPK)
    )


@register(
    "doc_bm25_index_topk",
    oracle=_bm25_oracle(),
    description="BM25 top-10 served from the MATERIALIZED inverted "
    "index (build_text_index → bm25_index_topk): postings "
    "hive-partitioned by pmod(xxhash64(term), 64) so a query reads at "
    "most |terms| partitions — the build-once/serve-many lifecycle a "
    "retrieval engine runs, with the corpus text never rescanned at "
    "serve time. Same oracle as doc_bm25_topk because the served "
    "scores are BIT-IDENTICAL to the inline form: tfs pivot into "
    "fixed columns so the score is the same fixed-order expression "
    "tree, df counts DISTINCT docs per term, and avgdl recomputes "
    "from stored exact longs with the identical division. The "
    "registry entry builds the index into a session temp dir then "
    "serves from it (and removes the dir after pinning the k-row "
    "result), so the driver exercises the full lifecycle; production "
    "builds once and serves many — doc_bm25_serve_topk is that "
    "serve-only path.",
    tags=("text", "retrieval", "index"),
)
def doc_bm25_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _with_temp_index(
        spark,
        "bm25_index_",
        lambda p: build_text_index(spark, sf_dir, p),
    )


def serve_bm25_topk(spark: SparkSession, index_path: str) -> DataFrame:
    """Concurrency-safe serve: plan AND materialize the k-row result
    under the index's maintenance lock (re-entrant), so a racing
    refresh/compact's two-rename swap can neither vanish a relation
    mid-read nor pair new postings with old corpus totals (r16
    review — :func:`bm25_index_topk` alone reads the three relations
    unlocked). The pinned result is k rows — bounded — so holding the
    lock across the action costs one serve latency, and the returned
    frame never re-reads the index (safe to serve from a temp dir the
    caller then removes). The lazy ``bm25_index_topk`` stays exposed
    for plan inspection (partition-pruning tests) and single-writer
    callers."""
    with path_lock(index_path):
        return eager_checkpoint(bm25_index_topk(spark, index_path))


def _with_temp_index(spark: SparkSession, prefix: str, populate) -> DataFrame:
    """Temp-index lifecycle shared by the three registered
    build/refresh/compact entries: mkdtemp → populate(index_path) →
    locked serve with the k rows pinned eagerly → ALWAYS remove the
    index and its sibling .lock (r16 review: the three unshared
    copies leaked the corpus-sized temp dir whenever any leg raised,
    and triplicated the pin-before-rmtree dance)."""
    import tempfile

    index_path = tempfile.mkdtemp(prefix=prefix)
    try:
        populate(index_path)
        return serve_bm25_topk(spark, index_path)
    finally:
        remove_layout(index_path)  # also reclaims the sibling .lock file


def refresh_text_index(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> None:
    """Incrementally extend a :func:`build_text_index` store with a
    new document batch — the index-maintenance leg of the
    build/serve/refresh lifecycle (the retrieval twin of the
    incremental dedup stores): only the BATCH is tokenized; the
    existing postings are never rescanned.

    Replay safety without a transaction: freshness derives from the
    doc_stats relation (anti-join on doc_id), postings append FIRST
    and doc_stats second, so a crash-retried batch can at worst
    re-append byte-identical postings rows — which the serve path is
    immune to (df counts DISTINCT docs, tf pivots via max). The
    corpus totals are recomputed from doc_stats (the narrow source of
    truth) on every refresh, never incremented blindly.
    """
    with path_lock(index_path):
        _refresh_text_index_locked(spark, new_docs, index_path)


def _refresh_text_index_locked(
    spark: SparkSession, new_docs: DataFrame, index_path: str
) -> None:
    """Body of :func:`refresh_text_index`, under the index's
    maintenance lock: a refresh appending between a compaction's
    snapshot read and its swaps would land rows in the dir the
    compaction rmtree's — the same race the dedup stores' ingests
    serialize against (per-path re-entrant lock; its flock layer
    also serializes maintenance from separate same-host processes)."""
    _check_index_tokenizer(index_path)
    _recover_corpus_stats(index_path)
    if not os.path.exists(f"{index_path}/doc_stats") and not os.path.exists(
        f"{index_path}/postings"
    ):
        # refresh onto a nonexistent index creates one de novo — it
        # must stamp the modulus + tokenizer like a build does, or the
        # index it leaves behind is forever unstamped (served with the
        # legacy constant even after the build constant changes)
        _record_index_buckets(index_path)
    elif os.path.exists(f"{index_path}/doc_stats") and not os.path.exists(
        f"{index_path}/postings/_SUCCESS"
    ):
        # torn BUILD (build writes doc_stats -> corpus_stats ->
        # postings; a crash before OR DURING the postings write leaves
        # this state): serve and compact fail loudly on the missing
        # relation, but a refresh would silently make it WORSE — its
        # doc_stats anti-join treats every torn-build doc as ingested,
        # appends no postings for them, and the now three-relation
        # index serves zero-score results for half the corpus. The
        # completeness marker, not dir existence, is the test: Spark
        # creates postings/ at job start, so a crash mid-write leaves
        # the dir present but the _SUCCESS marker absent (the same
        # convention _recover_corpus_stats uses for corpus_stats.new);
        # an interrupted postings APPEND to a healthy index keeps the
        # prior write's marker, so replay-safe refresh retries are not
        # refused. Refuse; the documented recovery (re-run the build,
        # which clears and rewrites everything) heals it. The inverse
        # state (postings without doc_stats, a torn FIRST refresh) is
        # replay-safe by design: the retry re-appends byte-identical
        # postings rows.
        raise ValueError(
            f"index at {index_path} has doc_stats but no complete "
            "postings (postings/_SUCCESS missing) — a torn build; "
            "refreshing would silently skip postings for every "
            "already-listed doc. Re-run build_text_index to heal."
        )
    toks = _gated_toks(new_docs)
    new_stats = toks.select("doc_id", "dl")

    if os.path.exists(f"{index_path}/doc_stats"):
        seen = spark.read.parquet(f"{index_path}/doc_stats").select("doc_id")
        fresh = new_stats.join(seen, "doc_id", "left_anti")
    else:
        fresh = new_stats
    fresh = eager_checkpoint(fresh)  # pin pre-append snapshot
    postings = _postings_of(
        toks.join(fresh.select("doc_id"), "doc_id", "left_semi"),
        _index_buckets(index_path),
    )
    _write_postings(postings, index_path, mode="append")
    fresh.write.mode("append").parquet(f"{index_path}/doc_stats")
    # dedup before the totals for the same cross-host-refresh reason
    # as the serve path: a doubly-appended doc would otherwise inflate
    # n_docs/avgdl for every score until a compaction runs
    corpus = (
        spark.read.parquet(f"{index_path}/doc_stats")
        .dropDuplicates(["doc_id"])
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
    )
    corpus.write.mode("overwrite").parquet(f"{index_path}/corpus_stats.new")
    # util.swap_layout, not rmtree-then-rename: that has a crash window
    # that leaves the index with NO corpus_stats, failing every serve
    # until a batch is replayed. A crash between the swap's two renames
    # leaves a complete .old that the next serve/refresh restores via
    # _recover_corpus_stats.
    swap_layout(f"{index_path}/corpus_stats.new", f"{index_path}/corpus_stats")


def _recover_corpus_stats(index_path: str) -> None:
    """Close the crash window of the index's two-rename dir swaps
    (:func:`refresh_text_index`'s corpus_stats, and since round 8
    :func:`compact_text_index`'s postings/doc_stats rewrites): for
    each swapped relation, if a crash between the two renames left no
    live dir but a complete ``.old``, rename the old state back
    before reading. Called on every serve (:func:`bm25_index_topk`)
    and at the top of every refresh/compact; corpus totals stale by
    one batch then converge on the next refresh, which recomputes
    them from doc_stats unconditionally. Each relation heals through
    :func:`util.recover_layout`, which also removes a ``.old`` next to
    a healthy live dir and any ``.staging`` residue, so a serve-only
    workload carries no full-relation-sized leftover.

    Holds the index's maintenance lock (re-entrant — refresh/compact
    already hold it when they call this): the heal MUTATES the index
    dir, so an unlocked serve-path call racing an in-process
    refresh/compact mid-swap could otherwise restore ``.old`` onto
    the live path under the writer's feet."""
    with path_lock(index_path):
        _recover_corpus_stats_locked(index_path)


def _recover_corpus_stats_locked(index_path: str) -> None:
    # Torn refresh/compact tail: both write the recomputed totals to
    # corpus_stats.new BEFORE their final swaps, so a COMPLETE .new
    # (Spark's _SUCCESS marker) whose producing sequence got past the
    # doc_stats promotion (doc_stats.staging no longer exists) is the
    # intended next state — promote it, or a serve-only workload (no
    # later refresh/compact) would serve the pre-dedup totals
    # indefinitely. A .new that is incomplete, or whose doc_stats
    # promotion never happened (staging still present → .new reflects
    # the STAGED doc_stats, not the live one), is residue — removed.
    # The staging evidence is read BEFORE the per-relation heal, which
    # reclaims every <relation>.staging: a same-sequence crash between
    # the staging writes and the doc_stats swap must still VETO the
    # .new. Reclaiming staging residue at every entry matters too: a
    # stale doc_stats.staging from an aborted compact would otherwise
    # veto a LATER refresh's legitimate .new forever, leaving totals
    # permanently stale on a serve-only workload.
    vetoed = os.path.exists(f"{index_path}/doc_stats.staging")
    for rel in ("corpus_stats", "postings", "doc_stats"):
        recover_layout(f"{index_path}/{rel}")
    new = f"{index_path}/corpus_stats.new"
    if os.path.exists(new):
        if os.path.exists(os.path.join(new, "_SUCCESS")) and not vetoed:
            swap_layout(new, f"{index_path}/corpus_stats")
        else:
            _remove_any(new)


def compact_text_index(spark: SparkSession, index_path: str) -> None:
    """Compact a :func:`build_text_index` store in place: drop the
    byte-identical postings rows crash-replayed refreshes can append
    (the serve path is immune to them, but they cost postings bytes
    and file count forever), deduplicate doc_stats defensively, and
    rewrite each bucket to a single file — undoing the one-file-per-
    bucket-per-refresh accumulation of long refresh streams. The
    maintenance leg that completes build/refresh/serve, and the
    retrieval twin of the CDC sink's tombstone compaction.

    Serving results are IDENTICAL before and after (asserted in
    tests/test_retrieval.py): tf dedup uses MAX over exact-copy rows
    and df already counted distinct docs. Each rewrite lands via
    staging + two-rename swap with .old recovery, so a crash at any
    point leaves a servable index."""
    with path_lock(index_path):
        _compact_text_index_locked(spark, index_path)


def _compact_text_index_locked(spark: SparkSession, index_path: str) -> None:
    """Body of :func:`compact_text_index` under the index's
    maintenance lock (see :func:`_refresh_text_index_locked`): without
    it, a refresh appending between this compaction's postings read
    and its swaps would have its rows land in ``.old`` — rmtree'd,
    silent postings loss."""
    _check_index_tokenizer(index_path)
    # the heal also reclaims postings/doc_stats .staging residue
    _recover_corpus_stats(index_path)
    # staging lives INSIDE the index dir: os.rename must not cross a
    # filesystem boundary, and the index's parent is the one mount we
    # know holds it
    postings = spark.read.parquet(f"{index_path}/postings")
    # repartition FIRST, then dedup (r17, §2.3): hashpartitioning on
    # `bucket` — a subset of the (term, doc_id, bucket) grouping keys —
    # already satisfies the aggregate's clustering requirement, so the
    # groupBy plans NO second exchange and its output stays
    # bucket-partitioned for the partitionBy write below. The previous
    # order (groupBy, then repartition for the write) shuffled the full
    # postings relation TWICE; rows per (term, doc_id, bucket) group
    # are few (exact-copy replay rows), so pre-aggregation before the
    # exchange was buying nothing.
    compacted = (
        postings.repartition("bucket")
        .groupBy("term", "doc_id", "bucket")
        .agg(F.max("tf").alias("tf"))
        .select("term", "doc_id", "tf", "bucket")
    )
    p_staging = f"{index_path}/postings.staging"
    compacted.write.partitionBy("bucket").parquet(p_staging)

    d_staging = f"{index_path}/doc_stats.staging"
    spark.read.parquet(f"{index_path}/doc_stats").dropDuplicates(
        ["doc_id"]
    ).coalesce(4).write.parquet(d_staging)

    # corpus_stats is currently aggregated over the PRE-dedup
    # doc_stats: if the defensive dropDuplicates above actually removed
    # rows (e.g. two racing refreshes whose anti-joins both saw a doc
    # as unseen), serving with the stale totals would inflate n_docs
    # and avgdl. Recompute from the STAGED (deduped) relation BEFORE
    # any swap — with every staging complete first, the promotion
    # sequence below has no crash point that strands corpus_stats
    # against the new doc_stats: a crash after the doc_stats swap
    # leaves a complete corpus_stats.new with no doc_stats.staging,
    # which _recover_corpus_stats promotes on the next serve/refresh
    # (round-8 advisory: the old order recomputed totals AFTER the
    # swaps, and a crash in between served inflated totals forever on
    # a serve-only workload). On a clean index this rewrites identical
    # numbers.
    (
        spark.read.parquet(d_staging)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("dl").cast("bigint").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{index_path}/corpus_stats.new")
    )

    # postings first (the bigger win), then doc_stats, then the totals
    # — a crash between any two swaps leaves a consistent, servable
    # mix (corpus_stats still matches whichever doc_stats is live,
    # by the recovery rule above)
    swap_layout(p_staging, f"{index_path}/postings")
    swap_layout(d_staging, f"{index_path}/doc_stats")
    swap_layout(f"{index_path}/corpus_stats.new", f"{index_path}/corpus_stats")


@register(
    "doc_bm25_refresh_topk",
    oracle=_bm25_oracle(),
    description="BM25 top-10 served from an index built on HALF the "
    "corpus then incrementally REFRESHED with a batch overlapping the "
    "built half (refresh_text_index: batch-only tokenization, the "
    "doc_stats anti-join drops the already-ingested overlap) AND a "
    "raw torn-refresh replay appended on top — byte-identical "
    "duplicate postings rows served WITHOUT compaction, proving the "
    "serve path's duplicate immunity (distinct-doc df, max-pivoted "
    "tf) on a driver row, not just in tests (r16 review: the old "
    "'overlapping replay' slice appended nothing — the anti-join "
    "filtered all of it — so that immunity claim went unexercised). "
    "Hash-matching the same full-corpus oracle as doc_bm25_topk "
    "proves refresh+replay converges to exactly the built-once "
    "index. The driver row covers the index MAINTENANCE path, not "
    "just build/serve.",
    tags=("text", "retrieval", "index", "incremental"),
)
def doc_bm25_refresh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def populate(index_path: str) -> None:
        docs = read_table(spark, sf_dir, "documents")
        n = docs.count()
        build_text_index_from(
            spark, docs.where(F.col("doc_id") < n // 2), index_path
        )
        # refresh with the second half PLUS an overlapping slice (the
        # anti-join ingests only the unseen half)
        refresh_text_index(
            spark, docs.where(F.col("doc_id") >= n // 3), index_path
        )
        # torn-refresh replay of the overlap: raw postings append,
        # bypassing the anti-join — the duplicates the serve path must
        # (and does) neutralize without a compaction pass
        overlap = docs.where(
            (F.col("doc_id") >= n // 3) & (F.col("doc_id") < n // 2)
        )
        _write_postings(
            _postings_of(_toks_of(overlap), _index_buckets(index_path)),
            index_path,
            mode="append",
        )

    return _with_temp_index(spark, "bm25_refresh_", populate)


@register(
    "doc_bm25_compact_topk",
    oracle=_bm25_oracle(),
    description="BM25 top-10 served AFTER compaction: build on half "
    "the corpus, refresh with the rest plus a full replayed batch "
    "(appending byte-identical duplicate postings rows), then "
    "compact_text_index — replay rows dropped, every bucket rewritten "
    "to one file via staging + two-rename swaps with .old recovery — "
    "and serve. Hash-matching the same full-corpus oracle as "
    "doc_bm25_topk proves compaction is a pure physical rewrite: "
    "smaller and fewer files, identical answers. Completes the index "
    "lifecycle (build/refresh/serve/compact), the retrieval twin of "
    "the CDC sink's tombstone compaction.",
    tags=("text", "retrieval", "index", "compaction"),
)
def doc_bm25_compact_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    def populate(index_path: str) -> None:
        docs = read_table(spark, sf_dir, "documents")
        n = docs.count()
        build_text_index_from(
            spark, docs.where(F.col("doc_id") < n // 2), index_path
        )
        batch2 = docs.where(F.col("doc_id") >= n // 2)
        refresh_text_index(spark, batch2, index_path)
        # Simulate the torn refresh that motivates compaction: a crash
        # between the postings append and the doc_stats append, then a
        # retry — the retry re-appends batch2's byte-identical postings
        # rows (a plain second refresh_text_index call appends NOTHING,
        # since its doc_stats anti-join sees batch2 as already
        # ingested).
        _write_postings(
            _postings_of(_toks_of(batch2), _index_buckets(index_path)),
            index_path,
            mode="append",
        )
        compact_text_index(spark, index_path)

    return _with_temp_index(spark, "bm25_compact_", populate)


# Session-scoped pre-built index for the serve-only driver row: built
# ONCE per (process, sf_dir) on first use, removed at interpreter
# exit. The two lifecycle entries above time build+serve (their cost
# is ~80% build); this cache lets the driver/bench ALSO record the
# pure serve latency a production deployment pays per query.
# Entries are (index_path, corpus_fingerprint): the fingerprint —
# size+mtime of every documents data file — is re-checked on every
# hit, so an in-process corpus change raises loudly instead of
# serving stale top-k. The lock serializes the first build: two
# concurrent first calls would otherwise each build a full index and
# orphan one until interpreter exit.
import threading as _threading

_SERVE_INDEX_CACHE: dict[str, tuple[str, tuple]] = {}
_SERVE_INDEX_LOCK = _threading.Lock()


def _corpus_fingerprint(sf_dir: str) -> tuple:
    """(relpath, size, mtime_ns) of every documents data file — cheap
    (stat-only) and sufficient: any rewrite of the corpus changes an
    mtime even when sizes collide. This guards the LOCAL session cache
    (one stat-walk per serve over a test-scale corpus); a cluster
    deployment doesn't stat 100 TB per query — it serves from an
    explicitly-managed index path and routes corpus changes through
    refresh_text_index, which needs no fingerprint because it never
    caches across corpora."""
    src = os.path.join(sf_dir, "documents.parquet")
    if not os.path.isdir(src):
        st = os.stat(src)
        return ((os.path.basename(src), st.st_size, st.st_mtime_ns),)
    entries = []
    for root, _dirs, files in os.walk(src):
        for fn in files:
            p = os.path.join(root, fn)
            st = os.stat(p)
            entries.append((os.path.relpath(p, src), st.st_size, st.st_mtime_ns))
    return tuple(sorted(entries))


def _served_index_path(spark: SparkSession, sf_dir: str) -> str:
    import atexit
    import tempfile

    # realpath key, like util.path_lock: two spellings of the same
    # corpus dir (trailing slash, symlink, relative path) must hit ONE
    # cache entry, not build and hold two full serve indexes (r16
    # review)
    sf_dir = os.path.realpath(sf_dir)
    with _SERVE_INDEX_LOCK:
        cached = _SERVE_INDEX_CACHE.get(sf_dir)
        if cached is not None:
            path, built_fp = cached
            now_fp = _corpus_fingerprint(sf_dir)
            if now_fp != built_fp:
                raise ValueError(
                    f"documents under {sf_dir} changed since the session "
                    "serve index was built — serving would return stale "
                    "top-k; rebuild (drop the cache entry or restart the "
                    "session) after corpus changes"
                )
            return path
        # fingerprint BEFORE the build: racing a concurrent corpus
        # rewrite must at worst record the OLDER state (the next serve
        # then raises) — fingerprinting after could stamp the new
        # corpus onto an index built from the old one
        built_fp = _corpus_fingerprint(sf_dir)
        path = tempfile.mkdtemp(prefix="bm25_serve_")
        # register cleanup BEFORE the build so a mid-build failure
        # can't strand a partial index dir past process exit
        atexit.register(remove_layout, path)
        build_text_index(spark, sf_dir, path)
        _SERVE_INDEX_CACHE[sf_dir] = (path, built_fp)
        return path


@register(
    "doc_bm25_serve_topk",
    oracle=_bm25_oracle(),
    description="BM25 top-10 SERVE-ONLY path: the index is pre-built "
    "once per session (cached per sf_dir, removed at exit) and the "
    "query only serves from it — bucket-pruned postings scan (≤ "
    "|terms| of 64 partitions), broadcast stats, "
    "TakeOrderedAndProject; the corpus text is never scanned. Same "
    "full-corpus oracle as doc_bm25_topk (served scores are "
    "bit-identical). Unlike doc_bm25_index_topk (whose timing is "
    "~80% build), this row measures what a production deployment pays "
    "per query once the index exists.",
    tags=("text", "retrieval", "index", "serve"),
)
def doc_bm25_serve_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return serve_bm25_topk(spark, _served_index_path(spark, sf_dir))


def build_text_index_from(
    spark: SparkSession, docs: DataFrame, index_path: str
) -> None:
    """build_text_index over an explicit docs frame (the registry
    builder reads the table itself). Records the build's bucket
    modulus in the index so later serve/refresh legs can never apply
    a different one.

    Rebuilding over an EXISTING index (what the scheme-mismatch
    errors tell the operator to do) first clears the old relations:
    the stamp must precede the data writes (a crash between data and
    a late stamp would serve new-modulus postings under the legacy
    constant), but stamping a fresh scheme OVER foreign postings
    would make a mid-build crash silently mis-serve them — clearing
    first turns that crash state into a loud missing-relation error
    on the next serve, which a re-run of the build heals.

    Holds the index's maintenance lock like refresh/compact: a
    rebuild racing either would otherwise interleave its clears with
    their appends/swaps."""
    with path_lock(index_path):
        _build_text_index_from_locked(spark, docs, index_path)


def _build_text_index_from_locked(
    spark: SparkSession, docs: DataFrame, index_path: str
) -> None:
    # Heal first, then clear: the heal leaves no .old/.staging and no
    # corpus_stats.new (a COMPLETE .new left by a refresh that crashed
    # before its swap would otherwise survive the rebuild and be
    # promoted by the next serve OVER the fresh build's totals —
    # totals computed from the pre-rebuild corpus). _remove_any: a
    # FILE squatting on a relation path would survive
    # rmtree(ignore_errors) and fail the parquet write below.
    _recover_corpus_stats_locked(index_path)
    for rel in ("postings", "doc_stats", "corpus_stats"):
        _remove_any(f"{index_path}/{rel}")
    _record_index_buckets(index_path)
    # _gated_toks: above LARGE_INPUT_BYTES the corpus is
    # scanned+tokenized ONCE (checkpointed token table feeds both the
    # doc_stats and postings writes) — with the totals already derived
    # from the written doc_stats below, a large build drops from 2
    # corpus tokenizations to 1 (guide §2.4).
    toks = _gated_toks(docs)
    toks.select("doc_id", "dl").write.mode("overwrite").parquet(
        f"{index_path}/doc_stats"
    )
    # Corpus totals from the JUST-WRITTEN doc_stats relation, not from
    # `toks`: aggregating toks here re-scanned and re-tokenized the
    # whole corpus a second time for two longs, and the postings write
    # below makes a third pass — at 100 TB the corpus scan dominates
    # the build (guide §1.2/§2.4: remove passes). Reading doc_stats
    # back is a narrow two-column scan of what this pass just wrote,
    # so the aggregate is byte-identical (count/sum over the same
    # rows) and the build drops from 3 corpus tokenizations to 2.
    # (1 is possible — derive doc_stats from postings sum(tf) plus a
    # doc_id-only corpus scan for zero-token docs — but costs a
    # postings-sized shuffle; not worth it while tokenize is cheaper
    # than the postings aggregate.)
    spark.read.parquet(f"{index_path}/doc_stats").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("sum_dl"),
    ).write.mode("overwrite").parquet(f"{index_path}/corpus_stats")
    _write_postings(
        _postings_of(toks, INDEX_TERM_BUCKETS), index_path, mode="overwrite"
    )


def _toks_of(docs: DataFrame) -> DataFrame:
    """(doc_id, t: token array, dl: token count) — the one tokenized
    form every build/refresh leg derives from."""
    return docs.select(
        "doc_id",
        tokenize("text").alias("t"),
        F.size(tokenize("text")).cast("bigint").alias("dl"),
    )


def _gated_toks(docs: DataFrame) -> DataFrame:
    """The build/refresh input's tokenized form. For a large input
    (``is_large_input``) it is checkpointed once instead of running the
    regex tokenization twice, once for the doc_stats leg and once for
    the postings leg: there the scan+tokenize dominates, and one
    input-sized checkpoint write halves it (guide §2.4/§5 — remove
    passes). Below the gate a second cheap tokenize pass beats
    materializing token arrays, so the recompute shape is kept."""
    toks = _toks_of(docs)
    if is_large_input(docs):
        toks = eager_checkpoint(toks)
    return toks


def _postings_of(toks: DataFrame, n_buckets: int) -> DataFrame:
    """(term, doc_id, tf, bucket) postings rows for a tokenized frame
    — shared by build, refresh, and the compaction entry's
    torn-refresh simulation so all three produce byte-identical rows.
    ``n_buckets`` must be the index's recorded modulus
    (:func:`_index_buckets`) for anything but a fresh build."""
    return (
        toks.select("doc_id", F.explode("t").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int"),
        )
    )


def _write_postings(postings: DataFrame, index_path: str, mode: str) -> None:
    """Partitioned postings write. Repartition on the partition column
    first: one file per non-empty bucket per write (vs tasks × buckets
    small files), so the store's file count — and every later serve's
    file listing — grows with refresh COUNT, and write parallelism is
    INDEX_TERM_BUCKETS (the knob to raise for a bigger cluster)."""
    postings.repartition("bucket").write.mode(mode).partitionBy(
        "bucket"
    ).parquet(f"{index_path}/postings")
