"""Engine CLI — run any registry query by name against a testdata dir.

    python -m bigdata_flightanalysis_spark list
    python -m bigdata_flightanalysis_spark run q1_pricing_summary
    python -m bigdata_flightanalysis_spark run doc_exact_dedup \
        --sf-dir /root/testdata/sf0.01 --limit 50 --explain

The migration path for a reference user: every capability is a named
query; `list` shows the inventory with tags, `run` executes one and
prints rows (bounded by --limit) or the physical plan (--explain).
"""

from __future__ import annotations

import argparse
import sys

from bigdata_flightanalysis_spark.queries.catalog import load_all
from bigdata_flightanalysis_spark.session import get_session


def main(argv: list[str] | None = None) -> None:
    parser = argparse.ArgumentParser(description=__doc__)
    sub = parser.add_subparsers(dest="cmd", required=True)

    p_list = sub.add_parser("list", help="list registry queries")
    p_list.add_argument("--tag", help="filter by tag substring")

    p_run = sub.add_parser("run", help="run one query")
    p_run.add_argument("name")
    p_run.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    p_run.add_argument("--limit", type=int, default=20)
    p_run.add_argument(
        "--explain",
        action="store_true",
        help="print the physical plan instead of rows (note: iterative "
        "queries — dedup clustering, pagerank, k-core — execute their "
        "checkpointed rounds while BUILDING the frame, so only the "
        "final fragment's plan prints and the build is not free)",
    )

    args = parser.parse_args(argv)
    registry = load_all()

    if args.cmd == "list":
        for name in sorted(registry):
            q = registry[name]
            if args.tag and not any(args.tag in t for t in q.tags):
                continue
            print(f"{name:45s} {','.join(q.tags)}")
        return

    if args.name not in registry:
        sys.exit(
            f"unknown query {args.name!r} — `python -m "
            "bigdata_flightanalysis_spark list` shows the inventory"
        )
    spark = get_session("bigdata-flightanalysis-cli")
    df = registry[args.name].fn(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    else:
        df.show(args.limit, truncate=False)


if __name__ == "__main__":
    main()
