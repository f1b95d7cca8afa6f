"""Stateful streaming: dedup (C5) and arbitrary per-key state (C6).

``stream_dedup`` declares the deterministic batch twin of
``dropDuplicatesWithinWatermark`` (keep the earliest event per key — the
plain ``dropDuplicates`` keeps an arbitrary one, which can never pass a
value oracle). ``stream_stateful`` and ``stream_ewma_state`` run REAL
``applyInPandasWithState`` streaming queries — the reference's closest
analogue is the user-managed accumulator inside a reduce, but with
framework-managed fault-tolerant state. Both drain through
``sinks._drain`` in update mode and keep each user's last update row,
which is the final state.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import register


@register(
    "stream_dedup",
    oracle="""
    SELECT user_id, event_type, event_id AS first_event_id
    FROM (SELECT user_id, event_type, event_id,
                 row_number() OVER (PARTITION BY user_id, event_type
                                    ORDER BY epoch_ns(ts), event_id) AS rn
          FROM events)
    WHERE rn = 1
    """,
    survey="C5 (stateful dedup — deterministic batch twin)",
    scale="""
    Streaming form: dropDuplicatesWithinWatermark(["user_id",
    "event_type"]) keeps one row per key with state retired at the
    watermark. Batch twin keeps the EARLIEST (rank-limited window, one
    shuffle, WindowGroupLimit pushdown) because "an arbitrary row" is not
    a testable contract. At 100 TB the streaming state is one row per
    live key within the watermark horizon.
    """,
)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Earliest event per (user, event_type) — deterministic dedup."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "ts_ns", "event_id"
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type", F.col("event_id").alias("first_event_id")
        )
    )


@register(
    "stream_stateful",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_val
    FROM events GROUP BY user_id
    """,
    survey="C6 (arbitrary stateful streaming: applyInPandasWithState)",
    scale="""
    Arbitrary per-key state with framework-managed fault tolerance:
    applyInPandasWithState keeps one (n, sum) tuple per user in the
    state store, updated per micro-batch. With Trigger.AvailableNow and
    in-order data the final state equals the batch aggregate — which
    is exactly what the oracle checks. The custom-state path is for
    logic groupBy can't express (sessionization with side conditions,
    CEP, model state); everything algebraic should stay in built-in
    aggregates.
    """,
)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running totals via a real stateful streaming query."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..exprs import pround
    from .sinks import _drain_memory_sink
    from .source import events_stream

    def totals(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_val": [s]}
        )

    result = (
        events_stream(spark, sf_dir)
        .groupBy("user_id")
        .applyInPandasWithState(
            totals,
            outputStructType="user_id bigint, n_events bigint, sum_val double",
            stateStructType="n bigint, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    snap = _drain_memory_sink(
        result, "mrs_stream_stateful_sink", "mrs_state_ckpt_", "update"
    )
    # one update row per user per micro-batch: keep the final state
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        snap.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_events", pround("sum_val", 2).alias("sum_val"))
    )


@register(
    "stream_ewma_state",
    oracle="""
    WITH p AS (SELECT user_id, epoch_ns(ts) AS tsn, event_id,
                      CAST(value AS DOUBLE) AS v
               FROM events WHERE event_type = 'purchase'),
    seq AS (SELECT user_id,
                   list(v ORDER BY tsn, event_id) AS vs
            FROM p GROUP BY user_id)
    SELECT user_id,
           CAST(len(vs) AS BIGINT) AS n_purchases,
           round(CAST(list_reduce(vs,
                 (acc, x) -> acc * 0.5 + x * 0.5) AS DOUBLE), 6) AS ewma
    FROM seq
    """,
    survey="C6/B15 (events_ewma's documented unbounded-key twin: the "
    "EWMA recurrence as per-key streaming state)",
    scale="""
    events_ewma's scale note names this query: the batch fold collects
    a user's full history into one task — fine for per-user purchase
    streams, wrong for unbounded keys. Here the per-key state is
    (n, ewma) — two scalars, NOT the history — so state size is
    O(live keys) regardless of stream length, retired by watermark or
    TTL in production. Per micro-batch the key's rows are sorted by
    event time and folded left-to-right in Python doubles (alpha = 0.5
    is dyadic: exact halving, bit-identical to the batch fold and the
    oracle's list_reduce). Ordering contract: exact WITHIN a
    micro-batch (the sort) and across batches by arrival order — with
    Trigger.AvailableNow over an in-order source (the fixture, a
    compacted Kafka topic) the result equals the batch recurrence
    EXACTLY, which is what the value oracle checks; the query FAILS
    LOUDLY if the fixture splits across >1 data-carrying micro-batch,
    so a multi-file events dir can never nondeterministically diverge
    from the oracle. For out-of-order production streams the
    watermark-buffered variant (timer-based reordering) is the
    documented extension, not silently different output.
    """,
)
def stream_ewma_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (alpha=0.5) as a real stateful streaming query."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..exprs import pround
    from .sinks import _drain
    from .source import events_stream

    def step(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        # Nested, so cloudpickle ships it by VALUE: a module-level
        # function pickles by reference and dies on executors that
        # cannot import this package (``__spark_entry__`` may be loaded
        # by file path from an arbitrary cwd).
        # Sort the micro-batch by EVENT TIME (delivery order is
        # partition order) and fold acc·0.5 + x·0.5 in Python doubles:
        # α = 0.5 is dyadic, so every step is exact halving and the
        # result is bit-identical to events_ewma and the oracle.
        n, ewma = state.get if state.exists else (0, 0.0)
        frames = [p for p in pdfs if len(p)]  # empties poison concat dtypes
        if frames:
            batch = pd.concat(frames).sort_values(["ts_ns", "event_id"])
            for v in batch["value"].astype(float):
                ewma = v if n == 0 else ewma * 0.5 + v * 0.5
                n += 1
        state.update((n, ewma))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_purchases": [n], "ewma": [ewma]}
        )

    result = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", "ts_ns", "event_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            step,
            outputStructType=(
                "user_id bigint, n_purchases bigint, ewma double"
            ),
            stateStructType="n bigint, e double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    sink = "mrs_stream_ewma_sink"
    query = _drain(
        result.writeStream.format("memory").queryName(sink)
        .outputMode("update"),
        "mrs_state_ckpt_",
    )
    # The fold sorts by event time only WITHIN a micro-batch; across
    # batches the order is arrival order, so more than one data-carrying
    # batch could silently diverge from the oracle. Refuse instead.
    data_batches = sum(
        1 for p in query.recentProgress if p and p["numInputRows"] > 0
    )
    if data_batches > 1:
        raise RuntimeError(
            f"{sink}: fixture arrived in {data_batches} micro-batches; "
            "the order-sensitive fold's cross-batch order would be "
            "arrival order, not event time — refusing to return a "
            "nondeterministic answer"
        )
    # one update row per key per micro-batch: keep the final state
    w = Window.partitionBy("user_id").orderBy(F.desc("n_purchases"))
    return (
        spark.table(sink)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "n_purchases", pround("ewma", 6).alias("ewma"))
    )


@register(
    "join_interval_events",
    oracle="""
    SELECT p.event_id AS purchase_id,
           s.event_id AS signup_id,
           p.user_id,
           CAST(epoch_ns(p.ts) // 1000 - epoch_ns(s.ts) // 1000
                AS BIGINT) AS gap_us
    FROM events p
    JOIN events s
      ON p.user_id = s.user_id
     AND p.event_type = 'purchase'
     AND s.event_type = 'signup'
     AND epoch_ns(s.ts) // 1000 <= epoch_ns(p.ts) // 1000
     AND epoch_ns(s.ts) // 1000 > epoch_ns(p.ts) // 1000 - 3600000000
    """,
    survey="C (stream-stream interval join — batch twin) / B8",
    scale="""
    The time-bounded self-join IS Spark's stream-stream join in batch
    clothing: equi-key (user_id) plus an event-time interval. In
    streaming the same plan runs with watermarks on both sides and the
    interval bound sizes the join state (each side retains only rows
    inside watermark + interval). Integer-nanos bounds; gap reported in
    microseconds (DuckDB's ns truncation, see join_asof).
    """,
)
def join_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to same-user signups within the preceding hour."""
    ev = table(spark, sf_dir, "events")
    # microsecond space on BOTH sides: DuckDB truncates parquet ns to us
    # PER VALUE, so diffs/bounds must be computed on truncated values too
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.expr("ts_ns div 1000").alias("p_us"),
    )
    s = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"),
        F.col("user_id").alias("s_user"),
        F.expr("ts_ns div 1000").alias("s_us"),
    )
    hour_us = 3_600_000_000
    return (
        p.join(
            s,
            (F.col("user_id") == F.col("s_user"))
            & (F.col("s_us") <= F.col("p_us"))
            & (F.col("s_us") > F.col("p_us") - hour_us),
        )
        .select(
            "purchase_id",
            "signup_id",
            "user_id",
            (F.col("p_us") - F.col("s_us")).alias("gap_us"),
        )
    )
