"""Streaming-specific behavior: checkpointed restart, watermark sink, the
loud drain and the single-batch guard of the order-sensitive fold."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F


def _run_stream(spark, sf_dir, checkpoint, sink):
    from mrs_mapreduce_spark.streaming.source import events_stream

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName(sink)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), f"{sink}: stream did not finish"
    return spark.table(sink)


def test_checkpointed_restart_processes_nothing_new(spark, sf_dir, tmp_path):
    """Second availableNow run over the same checkpoint sees no new data
    (exactly-once source bookkeeping)."""
    checkpoint = str(tmp_path / "ckpt")
    first = _run_stream(spark, sf_dir, checkpoint, "restart_sink_a").collect()
    assert len(first) > 0
    second = _run_stream(spark, sf_dir, checkpoint, "restart_sink_b").collect()
    # complete-mode memory sink of run 2 holds no batches: nothing replayed
    assert len(second) == 0


def test_stream_batch_twin_equivalence(spark, sf_dir, tmp_path):
    """The streamed tumbling counts equal the batch window() counts."""
    from mrs_mapreduce_spark.catalog import table

    checkpoint = str(tmp_path / "ckpt")
    streamed = {
        (r.w.start, r.cnt)
        for r in _run_stream(
            spark, sf_dir, checkpoint, "twin_sink"
        ).collect()
    }
    batch = {
        (r.w.start, r.cnt)
        for r in table(spark, sf_dir, "events")
        .groupBy(F.window(F.expr("timestamp_micros(ts_ns div 1000)"), "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    assert streamed == batch


def test_stream_stream_interval_join_matches_batch(
    spark, sf_dir, registry_pass, tmp_path
):
    """A real two-stream watermarked interval join == the batch twin."""
    from mrs_mapreduce_spark.streaming.source import events_stream

    def ev_stream():
        return events_stream(spark, sf_dir)

    purchases = (
        ev_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "2 hours")
    )
    signups = (
        ev_stream()
        .filter(F.col("event_type") == "signup")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
        )
        .withWatermark("s_ts", "2 hours")
    )
    joined = purchases.join(
        signups,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") > F.col("p_ts") - F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", "signup_id", "user_id")

    sink = "ss_join_sink"
    q = (
        joined.writeStream.format("memory")
        .queryName(sink)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "interval join did not finish"
    streamed = {
        (r.purchase_id, r.signup_id)
        for r in spark.table(sink).collect()
    }
    batch = {
        (r.purchase_id, r.signup_id)
        for r in registry_pass.built("join_interval_events").rows
    }
    assert streamed == batch


def test_rate_source_smoke(spark, tmp_path):
    """The rate source (offline synthetic stream) starts and produces rows."""
    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        import time as _time

        for _ in range(40):
            if spark.table("rate_sink").count() > 0:
                break
            _time.sleep(0.5)
        assert spark.table("rate_sink").count() > 0
        assert set(spark.table("rate_sink").columns) == {"timestamp", "value"}
    finally:
        q.stop()


def test_foreach_batch_sink(spark, sf_dir, tmp_path):
    """foreachBatch: arbitrary batch logic per micro-batch (custom sinks)."""
    seen = {}

    def handle(batch_df, batch_id):
        seen[batch_id] = batch_df.count()

    batch_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120), "foreachBatch stream did not finish"
    assert sum(seen.values()) == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


def test_drain_timeout_is_loud_and_removes_checkpoint(
    spark, sf_dir, monkeypatch
):
    """A drain that outlives DRAIN_TIMEOUT_S raises instead of returning a
    partial sink, stops its query and leaves no checkpoint directory."""
    import glob
    import os

    import pytest

    from mrs_mapreduce_spark.streaming import sinks
    from mrs_mapreduce_spark.streaming.source import events_stream

    monkeypatch.setattr(sinks, "DRAIN_TIMEOUT_S", 0.001)
    prefix = "mrs_drain_timeout_test_ckpt_"
    writer = (
        events_stream(spark, sf_dir)
        .writeStream.format("memory")
        .queryName("drain_timeout_sink")
    )
    with pytest.raises(TimeoutError, match="drain_timeout_sink"):
        sinks._drain(writer, prefix)
    assert not glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*"))
    assert not any(
        q.name == "drain_timeout_sink" for q in spark.streams.active
    )


def test_ewma_state_refuses_multi_batch_input(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The order-sensitive EWMA fold fails loudly when its input arrives in
    more than one data-carrying micro-batch (cross-batch order would be
    arrival order, not event time)."""
    import pytest
    from pyspark.sql.streaming import DataStreamReader

    from mrs_mapreduce_spark.streaming.stateful import stream_ewma_state

    split_dir = tmp_path / "split"
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.repartition(2).write.parquet(str(split_dir / "events.parquet"))
    # one file per micro-batch: the two part files become two batches
    schema = DataStreamReader.schema
    monkeypatch.setattr(
        DataStreamReader,
        "schema",
        lambda self, s: schema(self, s).option("maxFilesPerTrigger", 1),
    )
    with pytest.raises(RuntimeError, match="2 micro-batches"):
        stream_ewma_state(spark, str(split_dir))
