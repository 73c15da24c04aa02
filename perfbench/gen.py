"""Seeded input generators for the benchmark workloads.

Every input is a pure function of (workload shape, seed). The recipes
(md5 per word for documents, numpy for vectors and flights) are kept
here, not imported from the engine or its tests, so a change to the
engine can never change what it is measured on. Generators write plain
files (parquet through pyarrow, CSV through pandas) and need no Spark.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# Documents + embeddings (md5-per-word recipe: content depends only on
# (seed, doc_id), so a bigger corpus extends a smaller one)
# --------------------------------------------------------------------------

_LANGS = ("en", "de", "es", "fr", "zh")


def _h(seed: int, i: int, salt: int) -> int:
    digest = hashlib.md5(f"{seed}:{i}:{salt}".encode()).digest()
    return int.from_bytes(digest[:8], "big")


def doc_row(seed: int, doc_id: int, vocab: int, clique: int) -> tuple:
    """One document of 20-99 words drawn from w0..w<vocab-1>. The last
    ``clique`` docs of every block of 10 copy the block head, so the
    corpus holds near-dup cliques of clique + 1 docs."""
    src = doc_id - doc_id % 10 if doc_id % 10 >= 10 - clique else doc_id
    n_words = 20 + _h(seed, src, 0) % 80
    text = " ".join(f"w{_h(seed, src, 1 + i) % vocab}" for i in range(n_words))
    return (
        doc_id,
        text,
        _LANGS[_h(seed, doc_id, 9001) % len(_LANGS)],
        f"src{_h(seed, doc_id, 9002) % 8}",
        len(text),
    )


DOC_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)


def docs_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {f.name: pa.array(c, f.type) for f, c in zip(DOC_SCHEMA, cols)},
        schema=DOC_SCHEMA,
    )


def embeddings_table(n: int, seed: int, dim: int = 64) -> pa.Table:
    """Unit-scale float vectors; every 10th is a small perturbation of
    its predecessor (guaranteed high-cosine near-dups)."""
    rng = np.random.default_rng([seed, 7])
    base = rng.uniform(-1.0, 1.0, (n, dim))
    dup = np.arange(n) % 10 == 9
    dup[0] = False
    idx = np.flatnonzero(dup)
    base[idx] = base[idx - 1] + rng.integers(-10, 11, (len(idx), dim)) / 1000.0
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(base.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 8, n), pa.int32()),
        }
    )


def corpus_tables(
    out_dir: str, n_docs: int, n_vecs: int, seed: int, *, vocab: int, clique: int
) -> dict[str, int]:
    rows = [doc_row(seed, i, vocab, clique) for i in range(n_docs)]
    pq.write_table(docs_table(rows), os.path.join(out_dir, "documents.parquet"))
    pq.write_table(embeddings_table(n_vecs, seed), os.path.join(out_dir, "embeddings.parquet"))
    return {"documents": n_docs, "embeddings": n_vecs}


# --------------------------------------------------------------------------
# Flight CSVs shaped like the reference's 2019 (Kaggle flights sample)
# and 2023 inputs
# --------------------------------------------------------------------------

AIRLINES = ["Delta", "United", "Southwest Airlines", "American Airlines", "Frontier Airlines"]
REASONS_2023 = ["None", "Weather", "Air Traffic Control", "Maintenance"]
#: departure-hour weights of the US domestic two-bank day
HOUR_WEIGHTS = [1, 1, 1, 1, 2, 14, 28, 30, 28, 26, 25, 26,
                27, 26, 25, 27, 28, 27, 26, 22, 16, 10, 5, 2]


def flights_2019(n: int, seed: int) -> pd.DataFrame:
    """All-string 2019 frame. Distance ~ lognormal(6.48, 0.72) clipped
    to [31, 5095] miles dominates the unscaled features, which puts the
    k=5 silhouette near the reference's published 0.74."""
    rng = np.random.default_rng([seed, 2019])
    month = rng.integers(1, 13, n)
    day = rng.integers(1, 29, n)
    w = np.array(HOUR_WEIGHTS, dtype=float)
    hour = rng.choice(24, size=n, p=w / w.sum())
    dep = (hour * 100 + rng.integers(0, 60, n)).astype(float)
    dist = np.clip(rng.lognormal(6.48, 0.72, n), 31, 5095).round()
    delay = np.round(
        rng.normal(-5, 18, n) + rng.exponential(20, n) * (rng.random(n) < 0.25), 1
    )
    cancelled = rng.random(n) < 0.025
    codes = rng.choice(["A", "B", "C", "D"], size=n)
    return pd.DataFrame(
        {
            "FL_DATE": [f"2019-{m:02d}-{d:02d}" for m, d in zip(month, day)],
            "AIRLINE": rng.choice(AIRLINES, size=n),
            "DEP_TIME": [f"{v:.1f}" for v in dep],
            "DEP_DELAY": [f"{v:.1f}" for v in delay],
            "ARR_DELAY": [f"{v:.1f}" for v in delay],
            "CANCELLED": np.where(cancelled, "1.0", "0.0"),
            "DIVERTED": np.where(rng.random(n) < 0.002, "1.0", "0.0"),
            "DISTANCE": [f"{v:.1f}" for v in dist],
            "CANCELLATION_CODE": np.where(cancelled, codes, None),
        }
    )


def flights_2023(n: int, seed: int) -> pd.DataFrame:
    rng = np.random.default_rng([seed, 2023])
    stamps = (
        np.datetime64("2023-01-01T00:00", "m")
        + rng.integers(0, 365 * 24 * 60, n).astype("timedelta64[m]")
    )
    return pd.DataFrame(
        {
            "ScheduledDeparture": [
                str(v).replace("T", " ") + ":00" for v in stamps
            ],
            "DelayMinutes": [f"{v}.0" for v in rng.integers(-15, 121, n)],
            "Cancelled": np.where(rng.random(n) < 0.15, "True", "False"),
            "Diverted": np.where(rng.random(n) < 0.02, "True", "False"),
            "Distance": [f"{v}.0" for v in rng.integers(100, 3001, n)],
            "Airline": rng.choice(AIRLINES, size=n),
            "DelayReason": rng.choice(REASONS_2023, size=n),
        }
    )


def flight_csvs(out_dir: str, n_2019: int, n_2023: int, seed: int) -> dict[str, int]:
    flights_2019(n_2019, seed).to_csv(os.path.join(out_dir, "2019.csv"), index=False)
    flights_2023(n_2023, seed).to_csv(os.path.join(out_dir, "2023.csv"), index=False)
    return {"2019.csv": n_2019, "2023.csv": n_2023}


# --------------------------------------------------------------------------
# Cache: inputs are built once per (workload, seed) under the checkout
# --------------------------------------------------------------------------


def cached(root: str, key: str, build) -> str:
    """Directory holding the inputs for ``key``; ``build(tmp_dir)``
    runs only when it is absent, and the finished directory appears
    atomically (a killed build leaves no half-written cache)."""
    final = os.path.join(root, key)
    if os.path.isdir(final):
        return final
    tmp = final + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.makedirs(os.path.dirname(final), exist_ok=True)
    os.rename(tmp, final)
    return final
