#!/usr/bin/env python
"""Monte-Carlo pi estimation through the parity layer.

Mirrors the reference's pi estimator family (the PyHPC'12 paper's
iterative/async benchmark). Deterministic per task: RNGs are seeded with
the task id.

Usage::

    python examples/pi.py [--tasks 32] [--samples 100000] [--master URL]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mrs_mapreduce_spark.examples import MonteCarloPi  # noqa: E402
from mrs_mapreduce_spark.mapreduce import Job  # noqa: E402
from mrs_mapreduce_spark.session import get_session  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("--tasks", type=int, default=32)
    parser.add_argument("--samples", type=int, default=100_000)
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)

    spark = get_session("pi-example", master=args.master)
    program = MonteCarloPi()
    job = Job(spark)
    ds0 = job.local_data(
        [(i, args.samples) for i in range(args.tasks)], splits=8
    )
    ds1 = job.map_data(ds0, program.map)
    ds2 = job.reduce_data(ds1, program.reduce, splits=1)
    (_, estimate), = ds2.collect()
    print(f"pi ~= {estimate} ({args.tasks} tasks x {args.samples} samples)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
