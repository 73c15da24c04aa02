#!/usr/bin/env python
"""Snapshot the driver's per-round bench detail into git — run FIRST each round.

The external driver runs bench.py at round end; since r9 every bench run
writes the full per-query payload to ``BENCH_DETAIL.json``, so the
driver's own run lands in the tree either as an uncommitted working-tree
edit (r9, r10 pre-judge) or inside the driver's round-end commit (r10).
Two consecutive rounds lost that payload to later builder runs before it
was preserved (r9 verdict defect #4, r10 verdict finding #1). This
script makes preservation mechanical:

    python scripts/snapshot_driver_detail.py 10   # start of round 11:
                                                  # archive the JUST-JUDGED
                                                  # round's driver run

It copies ``BENCH_DETAIL.json`` to ``BENCH_DETAIL_driver_r{N}.json``
after verifying the payload really is the driver's run for round N —
its headline ``value`` must match the parsed headline the driver stored
in ``BENCH_r{N}.json`` (the wrapper is written only by the driver, so
agreement identifies the run). Refuses to overwrite an existing
snapshot, and exits non-zero on a mismatch so a builder run that
already clobbered the detail is caught loudly instead of archived as
if it were the driver's. A clobbered detail is not lost: the wrapper's
``tail`` holds the whole bounded ``headline_queries_detail`` line (the
slowest queries), which ``bench_compare.py`` reads directly.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("round", type=int, help="round number just judged (the N in BENCH_r{N}.json)")
    ap.add_argument("--force", action="store_true", help="overwrite an existing snapshot")
    ap.add_argument("--repo", default=REPO, help="repo root holding the bench artifacts")
    args = ap.parse_args()

    detail_path = os.path.join(args.repo, "BENCH_DETAIL.json")
    wrapper_path = os.path.join(args.repo, f"BENCH_r{args.round:02d}.json")
    out_path = os.path.join(args.repo, f"BENCH_DETAIL_driver_r{args.round:02d}.json")

    if os.path.exists(out_path) and not args.force:
        print(f"{os.path.basename(out_path)} already exists — nothing to do")
        return 0
    for p in (detail_path, wrapper_path):
        if not os.path.exists(p):
            print(f"missing {p}", file=sys.stderr)
            return 2

    with open(detail_path, encoding="utf-8") as f:
        detail = json.load(f)
    with open(wrapper_path, encoding="utf-8") as f:
        wrapper = json.load(f)
    driver_value = (wrapper.get("parsed") or {}).get("value")
    if driver_value is None:
        print(f"{wrapper_path} has no parsed headline value", file=sys.stderr)
        return 2
    if abs(float(detail.get("value", -1)) - float(driver_value)) > 1e-6:
        print(
            f"BENCH_DETAIL.json headline {detail.get('value')} != driver wrapper "
            f"{driver_value} — the detail was overwritten by a later builder run.\n"
            f"The wrapper tail holds the bounded per-query line; compare it directly:\n"
            f"    python scripts/bench_compare.py <baseline> {os.path.basename(wrapper_path)}",
            file=sys.stderr,
        )
        return 1
    shutil.copyfile(detail_path, out_path)
    print(
        f"{os.path.basename(out_path)}: snapshotted driver r{args.round} detail "
        f"({detail['value']}s, {len(detail.get('queries', {}))} queries) — commit it now"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
