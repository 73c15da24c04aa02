#!/usr/bin/env python
"""Diff two bench outputs (bench.py's stdout, driver BENCH_r*.json
wrappers, or the committed BENCH_DETAIL.json): per-query ratios over
the common headline set, worst regressions first — the
round-over-round perf triage tool.

    python scripts/bench_compare.py BENCH_r05.json /tmp/bench_now.json

A stdout capture or a wrapper's tail carries the bounded
``headline_queries_detail`` line (the slowest queries only);
BENCH_DETAIL.json carries the full map and is committed, so past
rounds are readable straight from git history with a rev:path spec:

    python scripts/bench_compare.py 'r8-tag:BENCH_DETAIL.json' BENCH_DETAIL.json
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys


def _read_text(path: str) -> str:
    """File contents; a ``rev:path`` spec that isn't an existing file
    is read from git history (how past rounds' committed
    BENCH_DETAIL.json is reached without checkouts)."""
    if not os.path.exists(path) and ":" in path:
        proc = subprocess.run(
            ["git", "show", path],
            capture_output=True,
            text=True,
            cwd=os.path.dirname(os.path.abspath(__file__)),
        )
        if proc.returncode != 0:
            # surface git's own explanation (bad revision vs bad
            # in-repo path) — the most likely operator error here
            raise SystemExit(f"git show {path}: {proc.stderr.strip()}")
        return proc.stdout
    with open(path) as f:
        return f.read()


def _pick(candidates: list[str], path: str) -> dict:
    """The payload-selection policy, defined once for both the
    multi-line-file and driver-wrapper paths: parse every candidate,
    prefer the LAST payload carrying per-query detail (bench.py prints
    the detail line, then the contract line; a tail can hold more than
    one run), fall back to the last payload of any kind."""
    payloads = []
    for line in candidates:
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            payloads.append(json.loads(line))
        except json.JSONDecodeError:
            continue  # cut mid-line (a tail's first line can be)
    detailed = [p for p in payloads if "queries" in p]
    if detailed:
        return detailed[-1]
    if payloads:
        return payloads[-1]
    raise SystemExit(f"{path}: no bench payload found")


def _load(path: str) -> dict:
    text = _read_text(path)
    try:
        d = json.loads(text)
    except json.JSONDecodeError:
        # Raw bench.py stdout is two JSON lines (bounded detail, then
        # the contract line), so a whole-file parse fails with "Extra
        # data". Prefer the line carrying per-query detail, else the
        # last parseable one.
        return _pick(text.splitlines(), path)
    if "queries" in d:
        return d
    if "tail" not in d:
        # a contract line saved on its own (e.g. a captured last
        # line) — totals-only, main() compares the values
        return d
    # Driver wrapper: the tail holds the bench stdout, possibly of
    # more than one run; take the LAST payload carrying per-query
    # detail, else the last payload of any kind.
    return _pick(re.findall(r'\{"metric".*', d.get("tail", "")), path)


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    a, b = _load(sys.argv[1]), _load(sys.argv[2])
    if "queries" not in a or "queries" not in b:
        # contract-line payload(s): totals are all there is to compare.
        # A payload without even 'value' (some other JSON file) gets a
        # diagnostic, not a KeyError traceback.
        for side, payload in (("a", a), ("b", b)):
            if "value" not in payload:
                raise SystemExit(
                    f"payload {side} has no 'value' or 'queries' "
                    f"(keys: {sorted(payload)}) — not a bench result"
                )
        print(
            f"totals only (no per-query detail): {a['value']}s -> "
            f"{b['value']}s"
        )
        return
    qa, qb = a["queries"], b["queries"]
    common = sorted(set(qa) & set(qb))
    if not common:
        raise SystemExit("no common queries")
    ta, tb = sum(qa[q] for q in common), sum(qb[q] for q in common)
    print(
        f"common {len(common)} queries: {ta:.2f}s -> {tb:.2f}s "
        f"(ratio {tb / max(ta, 1e-9):.3f})"
    )
    rows = sorted(
        ((qb[q] / max(qa[q], 1e-9), q, qa[q], qb[q]) for q in common),
        reverse=True,
    )
    print(f"{'ratio':>7}  {'before':>8}  {'after':>8}  query")
    for r, q, x, y in rows[:15]:
        print(f"{r:7.2f}  {x:8.3f}  {y:8.3f}  {q}")
    only_b = sorted(set(qb) - set(qa))
    if only_b:
        print("new (no baseline):", ", ".join(only_b))
    only_a = sorted(set(qa) - set(qb))
    if only_a:
        # a query that regressed from working to ERRORING disappears
        # from the new run's timings — the worst possible regression
        # must not vanish from the triage output
        print("in baseline but MISSING from new run:", ", ".join(only_a))


if __name__ == "__main__":
    try:
        main()
    except BrokenPipeError:  # `| head` closed the pipe — normal CLI use
        pass
