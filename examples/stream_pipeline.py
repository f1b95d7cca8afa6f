#!/usr/bin/env python
"""End-to-end streaming pipeline: ingest → enrich → sessionize → sink.

The streaming topology a production event pipeline runs, composed from
this engine's building blocks:

  1. source      — file stream over the events fixture
                   (`streaming.source.events_stream`; Kafka swaps in with
                   two lines)
  2. enrich      — stateless broadcast dim join (stream_static_join's
                   pattern: no state, no watermark needed)
  3. sessionize  — watermarked session_window aggregation per user
                   (gap 30 min): state bounded by the watermark horizon
  4. sink        — foreachBatch parquet snapshot per batch (complete
                   mode + overwrite: idempotent by construction)

Drained with Trigger.AvailableNow through the engine's one streaming
drain (`streaming.sinks._drain`: loud timeout, checkpoint removed), so
the bounded fixture gives a deterministic result; unbounded sources run the identical plan in
APPEND mode instead — there the watermark finalizes sessions as it
advances, and sessions still open when a bounded drain ends are
withheld (append emits only watermark-closed windows). Complete mode
makes the bounded demo exactly equal its batch twin.

Usage::

    python examples/stream_pipeline.py SF_DIR OUTDIR [--master local[8]]

Prints the per-category session counts read back from the sink.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F  # noqa: E402


def run(spark, sf_dir: str, outdir: str) -> list:
    from mrs_mapreduce_spark.streaming.sinks import _EVENT_DIM, _drain
    from mrs_mapreduce_spark.streaming.source import events_stream

    dim = spark.createDataFrame(
        list(_EVENT_DIM), "event_type string, category string, weight double"
    )
    sessions = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(dim), "event_type")
        .withWatermark("ts", "1 hour")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"),
            "user_id",
            "category",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("weight")), 2).alias(
                "weighted"
            ),
        )
        .select(
            "user_id",
            "category",
            "n_events",
            "weighted",
            F.col("w.start").alias("session_start"),
        )
    )

    def write_batch(batch_df, batch_id: int) -> None:
        # complete mode: every batch carries the full result → snapshot
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "overwrite"
        ).parquet(outdir)

    _drain(
        sessions.writeStream.outputMode("complete").foreachBatch(write_batch),
        "mrs_pipe_ckpt_",
    )

    return (
        spark.read.parquet(outdir)
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("n_events").alias("n_events"),
        )
        .orderBy("category")
        .collect()
    )


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__)
    parser.add_argument("sf_dir")
    parser.add_argument("outdir")
    parser.add_argument("--master", default=None)
    args = parser.parse_args(argv)

    from mrs_mapreduce_spark.session import get_session

    spark = get_session("stream_pipeline", master=args.master)
    for row in run(spark, args.sf_dir, args.outdir):
        print(
            f"{row.category:<12} sessions={row.n_sessions:<8}"
            f" events={row.n_events}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
