"""Order-insensitive result hashes for Spark results and their DuckDB
oracle twins.

A result is canonicalized the way the engine's parity gate compares
it: columns reordered by name, NaN made comparable, rows sorted by
repr. The hash is the sha256 of that canonical form, so the cache
holds one short string per (input, query).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import subprocess
import sys


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return v


def result_hash(cols: list[str], rows) -> str:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=repr)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for r in canon:
        h.update(repr(r).encode())
    return h.hexdigest()


def spark_hash(df) -> str:
    return result_hash(df.columns, [tuple(r) for r in df.collect()])


def oracle_hashes(data_dir: str, oracles: dict[str, str]) -> dict[str, str]:
    """DuckDB hash of every oracle SQL over the parquet tables in
    ``data_dir``; computed once and cached next to the inputs."""
    path = os.path.join(data_dir, "oracle_hashes.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    todo = {n: s for n, s in oracles.items() if n not in cached}
    if todo:
        import duckdb

        con = duckdb.connect()
        con.execute(f"SET threads = {os.cpu_count() or 1}")
        for fname in sorted(os.listdir(data_dir)):
            if fname.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {fname[:-8]} AS "
                    f"SELECT * FROM '{os.path.join(data_dir, fname)}'"
                )
        for name, sql in todo.items():
            rel = con.execute(sql)
            cached[name] = result_hash([d[0] for d in rel.description], rel.fetchall())
        con.close()
        tmp = path + f".tmp{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(cached, f, indent=1, sort_keys=True)
        os.replace(tmp, path)
    return {n: cached[n] for n in oracles}


def start(data_dir: str, names: list[str]) -> subprocess.Popen:
    """Compute the oracle hashes of ``names`` in a child process, so the
    DuckDB work overlaps the untimed Spark check pass; ``oracle_hashes``
    then reads them from the cache."""
    return subprocess.Popen([sys.executable, os.path.abspath(__file__), data_dir, *names])


def main(argv: list[str]) -> int:
    data_dir, *names = argv
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bigdata_flightanalysis_spark.queries.catalog import load_all

    reg = load_all()
    oracle_hashes(data_dir, {n: reg[n].oracle for n in names})
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
