"""Command-line entry point.

Capability parity: ``mrs/param.py`` + ``mrs/main.py`` (SURVEY.md §2.A
A16/A17) — the reference's declarative Param/CLI system and run-mode
switch (``--mrs=Serial|MockParallel|Master``). Spark's analogue is
configuration: ``--master local[1]`` is Serial, ``local[N]`` is
MockParallel-with-real-parallelism, a cluster URL is Master/Slave.

Usage (``python -m mrs_mapreduce_spark`` is the same entry point)::

    python -m mrs_mapreduce_spark --query groupby_agg \
        --sf-dir /root/testdata/sf0.001 --master "local[4]" --show 10
    python -m mrs_mapreduce_spark --list
    python -m mrs_mapreduce_spark --query tpch_q6 --explain
    python -m mrs_mapreduce_spark --query tpch_q6 --oracle   # DuckDB SQL
    python -m mrs_mapreduce_spark --query reduce_sum --splits 8

``--splits`` sets both ``spark.sql.shuffle.partitions`` (DataFrame
shuffles) and ``spark.default.parallelism`` (the parity layer's splits,
which follow ``sc.defaultParallelism``) — the analogue of the
reference's ``--mrs-reduce-tasks`` (reduce-task count == shuffle width).
``--oracle`` prints the query's DuckDB oracle SQL so a user can replay
the correctness check themselves. The MockParallel DEBUG run
modes (A16) are programmatic switches, not master URLs:
``mockparallel.make_job("mock_parallel")`` (full task machinery,
deterministic) and ``make_job("bypass")`` (generators inline, no
machinery).
"""

from __future__ import annotations

import argparse
import sys


def build_parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="mrs_mapreduce_spark",
        description="Run a declared query from the engine registry.",
    )
    parser.add_argument("--query", help="registry query name")
    parser.add_argument(
        "--sf-dir",
        default="/root/testdata/sf0.001",
        help="fixture directory (default sf0.001)",
    )
    parser.add_argument(
        "--master",
        default=None,
        help="Spark master: local[1]=serial, local[N]=parallel, URL=cluster",
    )
    parser.add_argument(
        "--show", type=int, default=20, help="rows to display"
    )
    parser.add_argument(
        "--explain", action="store_true", help="print the physical plan"
    )
    parser.add_argument(
        "--list", action="store_true", help="list registered queries"
    )
    parser.add_argument(
        "--oracle",
        action="store_true",
        help="print the query's DuckDB oracle SQL and exit",
    )
    parser.add_argument(
        "--splits",
        type=int,
        default=None,
        help="shuffle and parity-layer split count "
        "(the reference's --mrs-reduce-tasks)",
    )
    return parser


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from .registry import load_all

    registry = load_all()
    if args.list:
        for name in sorted(registry):
            print(f"{name:28s} {registry[name].survey}")
        return 0
    if not args.query:
        print("--query or --list required", file=sys.stderr)
        return 2
    if args.query not in registry:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2

    if args.oracle:
        oracle = registry[args.query].oracle
        if oracle is None:
            print(
                f"{args.query} has no SQL oracle; the oracle check fails "
                "a query without one",
                file=sys.stderr,
            )
            return 1
        print(oracle.strip())
        return 0

    from .session import get_session

    extra = (
        {
            "spark.sql.shuffle.partitions": str(args.splits),
            "spark.default.parallelism": str(args.splits),
        }
        if args.splits
        else None
    )
    spark = get_session(
        f"mrs-cli:{args.query}", master=args.master, extra=extra
    )
    df = registry[args.query].builder(spark, args.sf_dir)
    if args.explain:
        df.explain("formatted")
    df.show(args.show, truncate=False)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
