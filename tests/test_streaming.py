"""Streaming-specific behavior: checkpointed restart, watermark sink."""

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
    q.awaitTermination(120)
    return spark.table(sink)


def test_checkpointed_restart_processes_nothing_new(spark, sf_dir):
    """Second availableNow run over the same checkpoint sees no new data
    (exactly-once source bookkeeping)."""
    checkpoint = tempfile.mkdtemp(prefix="mrs_restart_ckpt_")
    first = _run_stream(spark, sf_dir, checkpoint, "restart_sink_a").collect()
    assert len(first) > 0
    second = _run_stream(spark, sf_dir, checkpoint, "restart_sink_b").collect()
    # complete-mode memory sink of run 2 holds no batches: nothing replayed
    assert len(second) == 0


def test_stream_batch_twin_equivalence(spark, sf_dir):
    """The streamed tumbling counts equal the batch window() counts."""
    from mrs_mapreduce_spark.catalog import table

    checkpoint = tempfile.mkdtemp(prefix="mrs_twin_ckpt_")
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


def test_stream_stream_interval_join_matches_batch(spark, sf_dir, registry_pass):
    """A real two-stream watermarked interval join == the batch twin."""
    import tempfile as _tmp

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
        .option("checkpointLocation", _tmp.mkdtemp(prefix="ssj_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    streamed = {
        (r.purchase_id, r.signup_id)
        for r in spark.table(sink).collect()
    }
    batch = {
        (r.purchase_id, r.signup_id)
        for r in registry_pass.built("join_interval_events").rows
    }
    assert streamed == batch


def test_transform_with_state_next_gen_api(spark, sf_dir):
    """Spark 4 transformWithStateInPandas (next-gen C6 path).

    Requires the python protobuf runtime for the driver<->state-server
    protocol; not installed in this container, so this skips there and
    runs wherever the dependency exists. The declared stream_stateful
    query PREFERS this API (transform_with_state_available gate) and
    falls back to applyInPandasWithState with identical semantics when
    protobuf is absent.
    """
    import tempfile as _tmp

    import pytest as _pytest

    _pytest.importorskip("google.protobuf.descriptor")
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )

    class CountProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle):
            self.n = handle.getValueState("n", "n BIGINT")

        def handleInputRows(self, key, rows, timerValues):
            n = self.n.get()[0] if self.n.exists() else 0
            for pdf in rows:
                n += len(pdf)
            self.n.update((n,))
            yield pd.DataFrame({"user_id": [key[0]], "n": [n]})

        def close(self):
            pass

    res = stream.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=CountProcessor(),
        outputStructType="user_id bigint, n bigint",
        outputMode="Update",
        timeMode="None",
    )
    q = (
        res.writeStream.format("memory")
        .queryName("tws_sink")
        .outputMode("update")
        .option("checkpointLocation", _tmp.mkdtemp(prefix="tws_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    total = sum(r.n for r in spark.table("tws_sink").collect())
    assert total == spark.read.parquet(f"{sf_dir}/events.parquet").count()


def test_rate_source_smoke(spark):
    """The rate source (offline synthetic stream) starts and produces rows."""
    import tempfile as _tmp

    stream = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("rate_sink")
        .outputMode("append")
        .option("checkpointLocation", _tmp.mkdtemp(prefix="rate_"))
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


def test_foreach_batch_sink(spark, sf_dir):
    """foreachBatch: arbitrary batch logic per micro-batch (custom sinks)."""
    import tempfile as _tmp

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
        .option("checkpointLocation", _tmp.mkdtemp(prefix="feb_"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sum(seen.values()) == spark.read.parquet(
        f"{sf_dir}/events.parquet"
    ).count()


def test_stream_stateful_api_gate_matches_environment():
    """The C6 builder must select transformWithStateInPandas exactly when
    its protobuf dependency is importable (and the fallback otherwise) —
    the capability probe may not drift from the real requirement."""
    from mrs_mapreduce_spark.streaming.stateful import (
        transform_with_state_available,
    )

    try:
        from google.protobuf import descriptor  # noqa: F401

        have_protobuf = True
    except ImportError:
        have_protobuf = False
    assert transform_with_state_available() == have_protobuf
