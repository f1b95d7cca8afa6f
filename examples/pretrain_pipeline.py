#!/usr/bin/env python
"""The full modern pretraining-data pipeline, end to end on this engine.

Composes the registered LLM-curation operators into the chain a
production corpus actually runs, as ONE auditable job:

  1. quality gate       — length / uniqueness heuristics
                          (``text.quality_gate``)
  2. entropy gate       — drop low-diversity docs, unigram entropy < 2
                          (``text.doc_entropy``, text_entropy's)
  3. LM perplexity gate — drop the worst-scoring tail under the corpus
                          bigram LM (``text.bigram_nll``, text_perplexity's)
  4. exact dedup        — earliest doc per normalized content hash
                          (``dedup.exact_survivors``, dedup_exact's key)
  5. substring dedup    — drop docs whose 8-grams are mostly shared with
                          other docs (``dedup.substring_dups``,
                          dedup_substring's)
  6. near dedup         — exact-recall 3-shingle Jaccard >= 0.9 pairs
                          (``dedup.prefix_filter_pairs``, AllPairs) ->
                          alternating-star components
                          (``dedup.star_components``); keep each
                          cluster's min doc
  7. decontamination    — drop docs sharing a 3-shingle with a benchmark
                          set (``curation.contaminated``,
                          corpus_decontaminate's broadcast semi-probe)
  8. temperature mix    — per-language sampling rates p ∝ share^tau,
                          applied as deterministic md5-threshold
                          sampling per language
  9. sink               — parquet partitioned by lang

Each stage is materialized once and counts its rows with an
``Observation`` in that same pass (``curation.observed``); one funnel
line per stage prints after the sink write.

Usage::

    python examples/pretrain_pipeline.py SF_DIR OUTDIR [--master URL]
        [--ppl-cut 0.9] [--tau 0.7]
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402

from mrs_mapreduce_spark.catalog import table  # noqa: E402
from mrs_mapreduce_spark.llm.curation import (  # noqa: E402
    contaminated,
    observed,
)
from mrs_mapreduce_spark.llm.dedup import (  # noqa: E402
    exact_survivors,
    prefix_filter_pairs,
    shingles,
    star_components,
    substring_dups,
)
from mrs_mapreduce_spark.llm.text import (  # noqa: E402
    bigram_nll,
    doc_entropy,
    quality_gate,
)
from mrs_mapreduce_spark.session import get_session  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("outdir")
    ap.add_argument("--master", default=None)
    ap.add_argument(
        "--ppl-cut", type=float, default=0.9,
        help="keep docs below this avg-nll quantile (higher = laxer)",
    )
    ap.add_argument("--tau", type=float, default=0.7)
    args = ap.parse_args(argv)

    spark = get_session("pretrain-pipeline", master=args.master)
    funnel = {}
    docs = table(spark, args.sf_dir, "documents")
    docs = observed(docs, funnel, "raw", materialize=False)
    gated = observed(quality_gate(docs), funnel, "quality_gate")

    ent = doc_entropy(gated).filter(F.col("entropy") >= 2.0)
    gated = observed(gated.join(ent, "doc_id", "semi"), funnel, "entropy_gate")

    # keep the docs whose avg bigram nll is below the --ppl-cut quantile
    nll = bigram_nll(gated).groupBy("doc_id").agg(F.avg("nll").alias("v"))
    cut = nll.agg(F.percentile_approx("v", args.ppl_cut, 10000).alias("cut"))
    keep = nll.crossJoin(F.broadcast(cut)).filter(F.col("v") <= F.col("cut"))
    fluent = gated.join(keep, "doc_id", "semi")
    fluent = observed(fluent, funnel, "perplexity_gate")

    exact = observed(exact_survivors(fluent), funnel, "exact_dedup")

    copied = substring_dups(exact).filter(F.col("dup_ratio") >= 0.8)
    exact = exact.join(copied, "doc_id", "anti")
    exact = observed(exact, funnel, "substring_dedup")

    pairs = prefix_filter_pairs(exact, num=9, den=10, symmetric=True, k=3)
    sym = pairs.select("doc_a", "doc_b").union(pairs.select("doc_b", "doc_a"))
    labels = star_components(sym)
    drop = labels.filter(F.col("doc_id") != F.col("lbl"))
    near = observed(exact.join(drop, "doc_id", "anti"), funnel, "near_dedup")

    # benchmark = the first 5 docs (stand-in for an eval set)
    bench = table(spark, args.sf_dir, "documents").filter(F.col("doc_id") < 5)
    hits = contaminated(shingles(near), shingles(bench))
    clean = near.join(hits, "doc_id", "anti")
    clean = observed(clean, funnel, "decontaminated")

    # temperature-scaled per-language sampling (p ∝ share^tau),
    # deterministic md5-threshold acceptance
    lt = clean.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    tot = lt.agg(F.sum("n").alias("total"))
    rates = (
        lt.crossJoin(F.broadcast(tot))
        .withColumn("share", F.col("n") / F.col("total"))
        .withColumn("w", F.pow("share", args.tau))
    )
    z = rates.agg(F.sum("w").alias("z"))
    rates = (
        rates.crossJoin(F.broadcast(z))
        .withColumn("p", F.col("w") / F.col("z"))
        # acceptance rate per lang, scaled so no lang exceeds 1.0
        .withColumn("rate", F.least(F.lit(1.0),
                                    F.col("p") / F.col("share")))
        .select("lang", "rate")
    )
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 7),
               16, 10).cast("double") / float(16**7)
    sampled = (
        clean.join(F.broadcast(rates), "lang")
        .filter(u < F.col("rate"))
        .drop("rate")
    )
    sampled = observed(
        sampled, funnel, "temperature_sampled", materialize=False
    )
    sampled.write.mode("overwrite").partitionBy("lang").parquet(args.outdir)
    for name, obs in funnel.items():
        print(f"{name:>20}: {obs.get['n']}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
