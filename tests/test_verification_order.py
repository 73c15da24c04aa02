"""The driver's verification order, derived from CORRECTNESS_r*.json.

The driver oracle-checks the leading entries of ``queries()`` each
round, so ``__spark_entry__`` iterates stalest first. No SparkSession:
these run against fixture files in ``tmp_path`` and the committed files.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil

import __spark_entry__ as e
from bigdata_flightanalysis_spark.queries.catalog import load_all

WINDOW = 50


def _row(ok: bool = True, err: str | None = None) -> dict:
    return {
        "rows_match": True,
        "schema_match": True,
        "hash_match": ok,
        "spark_rows": 1,
        "oracle_rows": 1,
        "err": err,
    }


def _write(root, fname: str, rows: dict[str, dict]) -> None:
    with open(os.path.join(root, fname), "w", encoding="utf-8") as fh:
        json.dump(rows, fh)


def test_no_files_keeps_registration_order(tmp_path):
    assert e._verification_order(str(tmp_path)) == list(load_all())


def test_never_verified_first_then_oldest_passing_row(tmp_path):
    names = list(load_all())
    # last/first registered, so alphabetical ties differ from registration
    never = [names[-1], names[0]]
    older = [names[-2], names[1]]
    rest = [n for n in names if n not in never + older]
    _write(tmp_path, "CORRECTNESS_r03.json", {n: _row() for n in older})
    _write(tmp_path, "CORRECTNESS_r05.json", {n: _row() for n in rest})
    assert e._verification_order(str(tmp_path)) == (
        sorted(never) + sorted(older) + sorted(rest)
    )


def test_failed_newer_row_keeps_previous_age(tmp_path):
    names = list(load_all())
    mismatch, errored = names[3], names[7]
    _write(tmp_path, "CORRECTNESS_r03.json", {n: _row() for n in names})
    newer = {n: _row() for n in names}
    newer[mismatch] = _row(ok=False)
    newer[errored] = _row(err="Py4JJavaError: boom")
    _write(tmp_path, "CORRECTNESS_r04.json", newer)
    order = e._verification_order(str(tmp_path))
    assert order[:2] == sorted([mismatch, errored])


def test_digitless_correctness_file_is_skipped(tmp_path):
    names = list(load_all())
    unverified = names[5]
    _write(
        tmp_path,
        "CORRECTNESS_r02.json",
        {n: _row() for n in names if n != unverified},
    )
    _write(tmp_path, "CORRECTNESS_rerun.json", {unverified: _row()})
    assert e._verification_order(str(tmp_path))[0] == unverified


def _committed_files() -> list[str]:
    return glob.glob(os.path.join(e._HERE, "CORRECTNESS_r*.json"))


def test_rotation_advances_without_a_manual_step(tmp_path):
    for path in _committed_files():
        shutil.copy(path, tmp_path)
    first = e._verification_order(str(tmp_path))[:WINDOW]
    # a round number past every committed file: the driver's next round
    _write(tmp_path, "CORRECTNESS_r999.json", {n: _row() for n in first})
    second = e._verification_order(str(tmp_path))[:WINDOW]
    assert len(second) == WINDOW
    assert not set(first) & set(second)


def test_live_queries_and_oracles_share_the_order():
    registry = load_all()
    qs = list(e.queries())
    oracles = e.oracle_sql()
    assert set(qs) == set(registry)
    assert list(oracles) == qs
    assert oracles == {n: q.oracle for n, q in registry.items()}


def test_live_window_holds_every_stalest_query():
    """Recomputed independently of the helper: every query whose newest
    passing row is the oldest on record (or that has none) is among the
    first WINDOW names the driver checks."""
    newest = {n: 0 for n in load_all()}
    for path in _committed_files():
        m = re.match(r"CORRECTNESS_r(\d+)", os.path.basename(path))
        if m is None:
            continue
        with open(path, encoding="utf-8") as fh:
            for name, row in json.load(fh).items():
                passed = not row["err"] and all(
                    row[k] for k in ("rows_match", "schema_match", "hash_match")
                )
                if passed and name in newest:
                    newest[name] = max(newest[name], int(m.group(1)))
    oldest = min(newest.values())
    stalest = {n for n, r in newest.items() if r == oldest}
    assert stalest <= set(list(e.queries())[:WINDOW])
