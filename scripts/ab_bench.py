"""Solo-JVM interleaved A/B bench — the drift-attribution protocol.

Encodes the procedure BASELINE.md's round-6/8/9/10 attributions used by
hand: run the four gated bench shapes in FRESH solo JVMs, interleaving
the two arms (A/B/A/B/...) so host warm-up and generation noise hit
both arms equally, then print per-shape medians-of-medians and the
arm-to-arm delta. The r10 lesson baked in: never compare arms run
sequentially — JIT warm-up makes whichever ran second look faster.

Usage:
    python scripts/ab_bench.py --env SPARK_GRAFT_DRIVER_MEM A=16g B=4g \
        --iterations 3

Each arm's runs use ``SPARK_GRAFT_GATED_ONLY=1 python bench.py`` (one
JSON line per run). Exit code 0 always — this is a measurement tool;
interpreting the deltas (vs the documented ±30% host band) is the
operator's job, recorded in BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SHAPES = ["q1_pricing_summary", "q3_join_agg_topk", "events_window",
          "wordcount"]


def run_arm(env_key: str, env_val: str) -> dict[str, float]:
    env = dict(os.environ)
    env[env_key] = env_val
    env["SPARK_GRAFT_GATED_ONLY"] = "1"
    out = subprocess.run(
        [sys.executable, str(REPO / "bench.py")],
        env=env, capture_output=True, text=True, check=True, cwd=REPO,
    ).stdout
    line = [ln for ln in out.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)["queries"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--env", required=True,
                    help="env var name to vary between arms")
    ap.add_argument("arms", nargs=2, metavar="ARM=VALUE",
                    help="two NAME=VALUE arm definitions, e.g. A=FAIR B=FIFO")
    ap.add_argument("--iterations", type=int, default=3,
                    help="interleaved rounds per arm (default 3)")
    args = ap.parse_args()
    for a in args.arms:
        if "=" not in a:
            ap.error(f"arm {a!r} is not NAME=VALUE")
    arms = dict(a.split("=", 1) for a in args.arms)
    if len(arms) != 2:  # dict() silently collapsed duplicate arm names
        ap.error(f"arm names must be distinct, got {args.arms}")
    results: dict[str, list[dict]] = {name: [] for name in arms}

    for i in range(args.iterations):
        for name, val in arms.items():  # interleave: A,B,A,B,...
            print(f"== arm={name} ({args.env}={val}) run {i + 1} ==",
                  file=sys.stderr)
            results[name].append(run_arm(args.env, val))

    (name_a, name_b) = list(arms)
    summary = {}
    for shape in SHAPES:
        med = {
            n: statistics.median(r[shape] for r in runs)
            for n, runs in results.items()
        }
        summary[shape] = {
            **{n: round(m, 4) for n, m in med.items()},
            "delta_pct": round(
                100.0 * (med[name_b] - med[name_a]) / med[name_a], 1
            ),
        }
    print(json.dumps({
        "env": args.env,
        "arms": arms,
        "iterations": args.iterations,
        "shapes": summary,
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
