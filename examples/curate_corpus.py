#!/usr/bin/env python
"""End-to-end training-corpus curation pipeline on this engine.

The composed workflow a user of the reference would hand-roll as chained
MapReduce jobs, built from the registered stage functions:

  1. quality gate  — length + uniqueness heuristics
                     (``text.quality_gate``)
  2. exact dedup   — keep the lowest doc_id per normalized-text hash
                     (``dedup.exact_survivors``, dedup_exact's key)
  3. near dedup    — drop the higher doc_id of every exact-recall
                     3-shingle Jaccard >= 0.9 pair
                     (``dedup.prefix_filter_pairs``, AllPairs)
  4. stratified sample — deterministic md5-threshold split per language
  5. write         — parquet partitioned by lang (partition pruning for
                     downstream readers)

Usage::

    python examples/curate_corpus.py SF_DIR OUTDIR [--master URL] \
        [--sample-rate 0.5]

Each stage is materialized once and counts its rows with an
``Observation`` in that same pass (``curation.observed``); the funnel
prints after the sink write.

Declared, oracle-checked relatives of this chain: the length-band ->
exact dedup -> packing chain is ``corpus_curate_pipeline``, and the
length band -> connected-component near dedup -> packing chain is
``corpus_curate_neardup`` (llm/curation.py, llm/dedup.py).
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from mrs_mapreduce_spark.catalog import table  # noqa: E402
from mrs_mapreduce_spark.llm.curation import observed  # noqa: E402
from mrs_mapreduce_spark.llm.dedup import (  # noqa: E402
    exact_survivors,
    prefix_filter_pairs,
)
from mrs_mapreduce_spark.llm.text import quality_gate  # noqa: E402
from mrs_mapreduce_spark.session import get_session  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("outdir")
    ap.add_argument("--master", default=None)
    ap.add_argument("--sample-rate", type=float, default=0.5)
    args = ap.parse_args(argv)

    spark = get_session("curate-corpus", master=args.master)
    funnel = {}
    docs = table(spark, args.sf_dir, "documents")
    docs = observed(docs, funnel, "input", materialize=False)
    gated = observed(quality_gate(docs), funnel, "quality")
    exact = observed(exact_survivors(gated), funnel, "exact_dedup")

    pairs = prefix_filter_pairs(exact, num=9, den=10, symmetric=True, k=3)
    dups = pairs.select(F.col("doc_b").alias("doc_id"))
    near = observed(exact.join(dups, "doc_id", "anti"), funnel, "near_dedup")

    # deterministic stratified sample per language
    thr = int(args.sample_rate * 2**32)
    key = F.md5(F.concat_ws("|", "lang", "doc_id"))
    bucket = F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
    sampled = observed(
        near.filter(bucket < thr), funnel, "sampled", materialize=False
    )
    (
        sampled.select("doc_id", "lang", "source", "text")
        .write.mode("overwrite")
        .partitionBy("lang")
        .parquet(args.outdir)
    )
    counts = " ".join(f"{k}={o.get['n']}" for k, o in funnel.items())
    print(f"{counts} -> {args.outdir}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
