"""Custom Python Data Source (Spark 4.x extension API): a
deterministic, partition-parallel synthetic-documents generator.

Why an engine needs this: scale/soak testing a 100 TB pipeline should
not require 100 TB of input files. This source materializes a corpus
of any size directly in the executors — N output rows split across P
input partitions, each generated independently — so a cluster can
drive the full dedup/quality/pack pipeline at target scale with zero
input I/O.

Determinism contract (tested): row ``doc_id`` content depends ONLY on
(seed, doc_id) — never on the partition count or which executor
generates it — so the same options always yield the same corpus, and
repartitioning the read changes nothing. Randomness comes from md5
(the same primitive as the engine's hash family), not ``random``, so
it is also stable across Python versions.

Usage::

    spark.dataSource.register(SyntheticDocsDataSource)
    df = (spark.read.format("synthetic_docs")
          .option("rows", 100_000).option("partitions", 64)
          .option("seed", 42).load())
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

#: Same flavor of vocabulary as the driver's synthetic documents table,
#: so every text operator (shingles, langid, quality) runs unchanged.
_WORDS = (
    "the a spark data table row column key value join merge sort scan "
    "filter group agg window batch stream hash part order line customer "
    "query vector small big fast slow dup"
).split()
_LANGS = ("en", "de", "es", "fr", "zh")

_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _h(seed: int, doc_id: int, salt: int) -> int:
    digest = hashlib.md5(f"{seed}:{doc_id}:{salt}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def _word(seed: int, doc_id: int, i: int, vocab: int) -> str:
    h = _h(seed, doc_id, 1 + i)
    # vocab=0 (default): the legacy 31-word list — ADVERSARIALLY dense
    # for LSH (collision stress test). vocab=N>0: an N-word vocabulary
    # — realistic web-corpus collision density, so the dup GRAPH stays
    # proportional to the injected duplication instead of going
    # corpus-quadratic. Its first len(_WORDS) slots are the legacy
    # words (so fixed-term queries like BM25 find postings), the rest
    # "w<k>"; size and density are those of any N-word vocabulary.
    if vocab:
        k = h % vocab
        return _WORDS[k] if k < len(_WORDS) else f"w{k}"
    return _WORDS[h % len(_WORDS)]


def _doc_row(seed: int, doc_id: int, vocab: int = 0, clique: int = 0) -> tuple:
    # deterministic near-dup injection: by default every 10th doc
    # clones doc_id-1's text (isolated dup PAIRS). clique=m>=2 makes
    # the last m docs of each 10-block clone the block head instead —
    # an (m+1)-clique per block, so graph analytics (triangles,
    # k-core) meet non-trivial dup-cluster structure at scale.
    src = doc_id
    if clique >= 2:
        if doc_id % 10 >= 10 - clique:
            src = doc_id - doc_id % 10
    elif doc_id % 10 == 9:
        src = doc_id - 1
    n_words = 20 + _h(seed, src, 0) % 80
    words = [_word(seed, src, i, vocab) for i in range(n_words)]
    text = " ".join(words)
    return (
        doc_id,
        text,
        _LANGS[_h(seed, doc_id, 9001) % len(_LANGS)],
        f"src{_h(seed, doc_id, 9002) % 8}",
        len(text),
    )


class _RangePartition(InputPartition):
    def __init__(
        self, start: int, end: int, seed: int, vocab: int = 0, clique: int = 0
    ):
        self.start, self.end, self.seed = start, end, seed
        self.vocab, self.clique = vocab, clique


class SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.n_partitions = max(1, int(options.get("partitions", 8)))
        self.seed = int(options.get("seed", 42))
        self.vocab = int(options.get("vocab", 0))
        self.clique = int(options.get("clique", 0))

    def partitions(self) -> list[InputPartition]:
        # max(1, ceil): rows=0 would make the range step 0 (ValueError
        # at plan time); a zero/negative-row config yields one empty
        # partition — an empty corpus, not a crash
        per = max(1, -(-self.rows // self.n_partitions))  # ceil
        return [
            _RangePartition(
                lo, min(lo + per, self.rows), self.seed, self.vocab, self.clique
            )
            for lo in range(0, self.rows, per)
        ] or [_RangePartition(0, 0, self.seed, self.vocab, self.clique)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield _doc_row(
                partition.seed, doc_id, partition.vocab, partition.clique
            )


class SyntheticDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return _SCHEMA

    def reader(self, schema) -> SyntheticDocsReader:
        return SyntheticDocsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming side: the same deterministic corpus as an unbounded source
# (Spark 4.x SimpleDataSourceStreamReader) — replayable by OFFSET, so
# exactly-once recovery works: readBetweenOffsets(start, end) always
# regenerates identical rows for an offset range.
# ---------------------------------------------------------------------------

from pyspark.sql.datasource import SimpleDataSourceStreamReader  # noqa: E402


class SyntheticDocsStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.batch_rows = int(options.get("rowsPerBatch", 100))
        self.max_rows = int(options.get("maxRows", 1000))
        self.seed = int(options.get("seed", 42))
        # same corpus-shape options as the batch twin — dropping them
        # here would silently break the "same corpus" contract for any
        # non-default vocab/clique stream
        self.vocab = int(options.get("vocab", 0))
        self.clique = int(options.get("clique", 0))

    def initialOffset(self) -> dict:
        return {"next": 0}

    def read(self, start: dict):
        lo = start["next"]
        hi = min(lo + self.batch_rows, self.max_rows)
        # a list ITERATOR over materialized rows, not a generator (the
        # runtime copy.copy's it for cache replay — generators don't
        # copy) and not a bare list: the wrapper's empty-batch
        # validation calls next() on the returned value, so a bare
        # list made every exhausted stream (end == start) die with
        # "'list' object is not an iterator" instead of idling
        return (
            iter(
                [
                    _doc_row(self.seed, i, self.vocab, self.clique)
                    for i in range(lo, hi)
                ]
            ),
            {"next": hi},
        )

    def readBetweenOffsets(self, start: dict, end: dict):
        # Determinism IS the recovery contract: any offset range
        # replays to identical rows after a crash-restart.
        return [
            _doc_row(self.seed, i, self.vocab, self.clique)
            for i in range(start["next"], end["next"])
        ]

    def commit(self, end: dict) -> None:
        pass


class SyntheticDocsStreamDataSource(DataSource):
    """``readStream.format("synthetic_docs_stream")`` — the unbounded
    twin of :class:`SyntheticDocsDataSource` for soak-testing streaming
    pipelines (ingest → incremental dedup → CDC sinks) without Kafka
    or input files."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_docs_stream"

    def schema(self) -> str:
        return _SCHEMA

    def simpleStreamReader(self, schema) -> SyntheticDocsStreamReader:
        return SyntheticDocsStreamReader(self.options)


# ---------------------------------------------------------------------------
# Embeddings twin: deterministic synthetic vectors for ANN scale tests.
# ---------------------------------------------------------------------------

_EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"
_EMB_DIM = 64


def _emb_row(seed: int, vec_id: int, dim: int) -> tuple:
    # every 10th vector is a small perturbation of its predecessor —
    # guaranteed high-cosine near-dups for the LSH/blocking paths
    base_id = vec_id - 1 if vec_id % 10 == 9 and vec_id > 0 else vec_id
    vec = [
        (_h(seed, base_id, 100 + i) % 2001) / 1000.0 - 1.0 for i in range(dim)
    ]
    if base_id != vec_id:
        vec = [v + ((_h(seed, vec_id, 500 + i) % 21) - 10) / 1000.0 for i, v in enumerate(vec)]
    return (vec_id, [float(v) for v in vec], _h(seed, vec_id, 9003) % 8)


class SyntheticEmbeddingsReader(DataSourceReader):
    def __init__(self, options: dict):
        self.rows = int(options.get("rows", 1000))
        self.n_partitions = max(1, int(options.get("partitions", 8)))
        self.seed = int(options.get("seed", 42))
        self.dim = int(options.get("dim", _EMB_DIM))

    def partitions(self) -> list[InputPartition]:
        # same rows=0 guard as SyntheticDocsReader.partitions
        per = max(1, -(-self.rows // self.n_partitions))
        return [
            _RangePartition(lo, min(lo + per, self.rows), self.seed)
            for lo in range(0, self.rows, per)
        ] or [_RangePartition(0, 0, self.seed)]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for vec_id in range(partition.start, partition.end):
            yield _emb_row(partition.seed, vec_id, self.dim)


class SyntheticEmbeddingsDataSource(DataSource):
    """``spark.read.format("synthetic_embeddings")`` — deterministic
    64-dim float vectors with injected near-dups, the embeddings twin
    of :class:`SyntheticDocsDataSource` for ANN scale tests."""

    @classmethod
    def name(cls) -> str:
        return "synthetic_embeddings"

    def schema(self) -> str:
        return _EMB_SCHEMA

    def reader(self, schema) -> SyntheticEmbeddingsReader:
        return SyntheticEmbeddingsReader(self.options)
