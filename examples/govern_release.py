#!/usr/bin/env python
"""Data-governance release gate: audit, erase, then publish privately.

The pre-publication workflow a data team runs before any per-group
table or derived training shard leaves the lake, composed from the
engine's declared governance operators:

  1. k-anonymity audit   — quasi-identifier group sizes vs k
                           (``scan_kanonymity``): re-identifiable rows
                           block the release
  2. takedown propagation — the erasure list's reach into every derived
                           artifact (``takedown_propagation``): deletion
                           that stops at the source table silently
                           resurrects text in chunk shards and postings
  3. DP count release    — the published per-group counts, Laplace
                           noise from a keyed PRF (``agg_dp_release``):
                           reproducible, auditable, post-processing safe

Usage::

    python examples/govern_release.py SF_DIR [--master URL] [--k 5]

Exit code 1 if the k-anonymity audit finds violating groups AND --strict
is set (the "block the release" mode); 0 otherwise. Prints each stage's
audit table.

Declared, oracle-checked twins: ``scan_kanonymity``,
``takedown_propagation``, ``agg_dp_release`` (llm/curation.py,
operators/aggregates.py).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mrs_mapreduce_spark.registry import load_all  # noqa: E402
from mrs_mapreduce_spark.session import get_session  # noqa: E402


def run(spark, sf_dir: str) -> dict:
    """Run the three governance stages; return their collected reports."""
    reg = load_all()
    kanon = reg["scan_kanonymity"].builder(spark, sf_dir).collect()[0]
    takedown = {
        r.artifact: r
        for r in reg["takedown_propagation"].builder(spark, sf_dir).collect()
    }
    release = reg["agg_dp_release"].builder(spark, sf_dir).collect()
    return {"kanon": kanon, "takedown": takedown, "release": release}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--strict", action="store_true",
                    help="exit 1 if the k-anonymity audit finds violations")
    args = ap.parse_args(argv)

    spark = get_session("govern-release", master=args.master)
    out = run(spark, args.sf_dir)

    k = out["kanon"]
    print(
        f"[1/3] k-anonymity: {k.n_groups} quasi-identifier groups, "
        f"{k.n_violating} below k ({k.n_rows_at_risk} rows at risk, "
        f"min group {k.min_group_size})"
    )
    print("[2/3] takedown reach:")
    for name, r in out["takedown"].items():
        print(
            f"      {name:10s} total={r.n_total:>8} "
            f"removed={r.n_removed:>7} kept={r.n_kept:>8}"
        )
    print("[3/3] DP release (per event type):")
    for r in sorted(out["release"], key=lambda r: r.event_type):
        print(
            f"      {r.event_type:10s} released={r.released_n:>12.4f} "
            f"(noise {r.noise:+.4f})"
        )
    if args.strict and k.n_violating > 0:
        print("RELEASE BLOCKED: k-anonymity violations present")
        return 1
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
