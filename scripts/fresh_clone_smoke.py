"""Fresh-clone smoke: prove the COMMITTED tree works from a bare clone.

Round-end hygiene (run manually in r13, codified here): a `git clone` of
HEAD — no working-tree files, no caches — must (1) pass the fast
non-Spark tooling tests and (2) run the flagship `entry()` under a
VANILLA SparkSession (plain builder, none of the repo's session tuning),
returning a non-empty result. Catches "works-on-my-tree" drift: files
that were never `git add`ed, hidden dependence on untracked state, or
session configs the entry contract doesn't own.

Usage:  python scripts/fresh_clone_smoke.py
Exits 0 and prints `fresh-clone smoke: all green` on success; exits 1 on
the first failing step (the step's output is echoed). Wall time ~1-2 min
(dominated by the vanilla Spark session start).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import tempfile

# Fast files only, and none of them opens a SparkSession — the point is
# tooling sanity in seconds, not a second full suite (the tier-1 pytest
# run in ROADMAP.md covers that).
TOOLING_TESTS = [
    "tests/test_verification_order.py",
    "tests/test_bench_tools.py",
    "tests/test_fsck_properties.py",
    "tests/test_util.py",
]

# Deliberately NOT the repo's session helper: the entry() contract is that
# the DRIVER builds the session, so any config entry() needs must be set by
# entry() itself or not needed at all.
VANILLA_ENTRY = """
import sys
from pyspark.sql import SparkSession

sys.path.insert(0, ".")
import __spark_entry__

spark = (
    SparkSession.builder.master("local[4]")
    .appName("fresh-clone-smoke")
    .getOrCreate()
)
try:
    df = __spark_entry__.entry(spark)
    # collect(), not count(): count() lets Catalyst PRUNE the final
    # projection, so an expression that fails only at evaluation
    # (ANSI cast, UDF error) would pass the smoke and fail the
    # driver's collect-based gate (tests/test_entry.py collects too)
    rows = df.collect()
    n = len(rows)
    cols = len(df.columns)
finally:
    spark.stop()
# explicit raise, not assert: assert is stripped under python -O
if not (n > 0 and cols > 0):
    raise SystemExit(f"entry() returned {n} rows x {cols} cols")
print(f"entry(): {n} rows x {cols} cols")
"""


def _run(step: str, cmd: list[str], cwd: str) -> None:
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True)
    if proc.returncode != 0:
        print(f"FAIL [{step}]: {' '.join(cmd)}", file=sys.stderr)
        sys.stderr.write(proc.stdout[-4000:])
        sys.stderr.write(proc.stderr[-4000:])
        sys.exit(1)
    tail = proc.stdout.strip().splitlines()
    print(f"ok   [{step}]" + (f": {tail[-1]}" if tail else ""))


def main() -> None:
    repo = subprocess.run(
        ["git", "rev-parse", "--show-toplevel"],
        capture_output=True,
        text=True,
        cwd=os.path.dirname(os.path.abspath(__file__)),
        check=True,
    ).stdout.strip()
    tmp = tempfile.mkdtemp(prefix="fresh_clone_smoke_")
    clone = os.path.join(tmp, "clone")
    try:
        _run("clone", ["git", "clone", "--quiet", repo, clone], cwd=tmp)
        _run(
            "tooling tests",
            [sys.executable, "-m", "pytest", "-q", *TOOLING_TESTS],
            cwd=clone,
        )
        _run("vanilla entry()", [sys.executable, "-c", VANILLA_ENTRY], cwd=clone)
        print("fresh-clone smoke: all green")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
