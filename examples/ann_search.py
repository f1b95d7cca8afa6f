#!/usr/bin/env python
"""Approximate-nearest-neighbor search comparison on the embeddings table.

Runs the engine's ANN ladder side by side for the same queries and
reports per-method recall vs the exact brute-force top-3:

  brute    — exact cosine top-k (similarity_topk)
  ivf      — seed-codebook IVF cell probe (similarity_ivf)
  ivf+     — k-means-trained codebook (similarity_ivf_trained)
  lsh      — single-bucket SRP-LSH (similarity_lsh)
  lsh+     — multi-probe: own bucket + 8 one-bit flips
             (similarity_lsh_multiprobe)
  pq-adc   — asymmetric distance over product-quantized codes
             (similarity_pq_adc)

Usage::

    python examples/ann_search.py SF_DIR [--master URL]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from mrs_mapreduce_spark.registry import load_all  # noqa: E402
from mrs_mapreduce_spark.session import get_session  # noqa: E402

METHODS = {
    "ivf": "similarity_ivf",
    "ivf+trained": "similarity_ivf_trained",
    "lsh": "similarity_lsh",
    "lsh+multiprobe": "similarity_lsh_multiprobe",
    "pq-adc": "similarity_pq_adc",
}


def top3_pairs(registry, name, spark, sf_dir):
    rows = registry[name].builder(spark, sf_dir).collect()
    return {(r.q_id, r.cand_id) for r in rows if r.rk <= 3}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    spark = get_session("ann-search", master=args.master)
    registry = load_all()
    truth = top3_pairs(registry, "similarity_topk", spark, args.sf_dir)
    print(f"{'method':>15}  recall@3 vs brute force ({len(truth)} pairs)")
    for label, name in METHODS.items():
        got = top3_pairs(registry, name, spark, args.sf_dir)
        recall = len(got & truth) / len(truth)
        print(f"{label:>15}  {recall:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
