"""Event-time windowed aggregation (C1–C4): tumbling, sliding, session,
watermark.

Declared through exact batch twins (window()/session_window() are
batch-executable with identical semantics); ``stream_watermark`` runs a
real Structured Streaming query (file source → watermark → tumbling agg →
memory sink, Trigger.AvailableNow) with an EXACT oracle — the bounded
fixture drains in one batch, so complete-mode output equals the batch
aggregation (see its scale note).

Timestamp discipline (SURVEY.md §7.4): event timestamps are nanos; windows
are computed on the microsecond-shimmed ``ts`` and *reported as epoch
seconds* (bigint) — never raw timestamps — with the oracle bucketing on
exact integer ``epoch_ns`` arithmetic so no float epoch ever decides a
bucket.
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import pround
from ..registry import register


@register(
    "stream_tumbling",
    oracle="""
    SELECT CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS ws,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS sum_val
    FROM events
    GROUP BY 1, 2
    """,
    survey="C1",
    scale="""
    Tumbling window = groupBy on a derived bucket key: identical plan in
    batch and streaming; in streaming each window's state retires at
    watermark + duration. Bucket arithmetic is integer nanos — no float
    epoch near bucket boundaries.
    """,
)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling window counts/sums per event type."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            F.expr("cast(to_unix_timestamp(w.start) as long)").alias("ws"),
            "event_type",
            "cnt",
            "sum_val",
        )
    )


@register(
    "stream_sliding",
    oracle="""
    SELECT CAST((epoch_ns(ts) // 900000000000 - i) * 900 AS BIGINT) AS ws,
           count(*) AS cnt,
           round(sum(value), 2) AS sum_val
    FROM events CROSS JOIN generate_series(0, 3) AS g(i)
    GROUP BY 1
    """,
    survey="C2",
    scale="""
    Sliding 1h/15m: each event lands in duration/slide = 4 windows — the
    Expand fans out BEFORE partial aggregation, so the shuffle carries
    per-(window,key) partials, not 4x the events. State cost in streaming
    scales with duration/slide; keep the ratio small at 100 TB.
    """,
)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 15 minutes."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            F.expr("cast(to_unix_timestamp(w.start) as long)").alias("ws"),
            "cnt",
            "sum_val",
        )
    )


@register(
    "stream_session",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, epoch_ns(ts) AS tns, value,
             lag(epoch_ns(ts)) OVER (PARTITION BY user_id
                                     ORDER BY epoch_ns(ts), event_id)
                 AS prev_tns
      FROM events),
    flagged AS (
      SELECT user_id, event_id, tns, value,
             CASE WHEN prev_tns IS NULL
                       OR tns - prev_tns >= 600000000000
                  THEN 1 ELSE 0 END AS new_sess
      FROM ordered),
    sessioned AS (
      SELECT user_id, tns, value,
             -- event_id tiebreak: without it, tied timestamps at a
             -- session boundary make the running sum order-ambiguous
             -- and a peer row can land in the WRONG session
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY tns, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sess_id
      FROM flagged)
    SELECT user_id,
           CAST(min(tns) // 1000000000 AS BIGINT) AS sess_start_s,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_val
    FROM sessioned
    GROUP BY user_id, sess_id
    """,
    survey="C3",
    scale="""
    session_window(gap 10m): Spark merges events whose gap is strictly
    less than the gap duration; the oracle reproduces this as
    gaps-and-islands (new session when diff >= gap) on exact integer
    nanos. One shuffle on user_id; streaming state per open session
    retires at watermark.
    """,
)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based (10 min) session aggregation per user."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.session_window("ts", "10 minutes").alias("sw"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            "user_id",
            F.expr("cast(to_unix_timestamp(sw.start) as long)").alias(
                "sess_start_s"
            ),
            "n_events",
            "sum_val",
        )
    )


@register(
    "stream_watermark",
    oracle="""
    SELECT CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS ws,
           event_type,
           count(*) AS cnt
    FROM events GROUP BY 1, 2
    """,
    survey="C4 (+C1 executed as a real stream)",
    scale="""
    The real streaming path: file source -> withWatermark(1h) -> tumbling
    count -> memory sink, Trigger.AvailableNow. Watermark bounds state:
    windows older than max(event_time) - 1h are finalized and evicted;
    at 100 TB the same topology runs on Kafka with checkpointed state on
    DFS. The oracle is EXACT (not rows-only): the bounded fixture drains
    in one batch under AvailableNow and complete-mode output equals the
    batch aggregation — the watermark only ever drops rows that arrive
    after it advances, which a single-batch drain cannot produce.
    """,
)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming watermarked tumbling count over events."""
    from .source import events_stream

    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.expr("cast(to_unix_timestamp(w.start) as long)").alias("ws"),
            "event_type",
            "cnt",
        )
    )
    from .sinks import _drain_memory_sink

    return _drain_memory_sink(
        agg, "mrs_stream_watermark_sink", "mrs_stream_ckpt_", "complete"
    )


@register(
    "stream_session_dynamic",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_id, value,
             epoch_ns(ts) // 1000 AS tus,
             CASE WHEN event_type = 'purchase' THEN 1800000000
                  ELSE 600000000 END AS gap_us
      FROM events),
    reach AS (
      SELECT user_id, event_id, value, tus,
             max(tus + gap_us) OVER (PARTITION BY user_id
                                     ORDER BY tus, event_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                              AND 1 PRECEDING)
                 AS prev_reach
      FROM ordered),
    flagged AS (
      SELECT user_id, event_id, value, tus,
             CASE WHEN prev_reach IS NULL OR tus >= prev_reach
                  THEN 1 ELSE 0 END AS new_sess
      FROM reach),
    sessioned AS (
      SELECT user_id, value, tus,
             -- event_id tiebreak: see stream_session's sessioned CTE
             sum(new_sess) OVER (PARTITION BY user_id
                                 ORDER BY tus, event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS sess_id
      FROM flagged)
    SELECT user_id,
           CAST(min(tus) // 1000000 AS BIGINT) AS sess_start_s,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_val
    FROM sessioned
    GROUP BY user_id, sess_id
    """,
    survey="C3 (session window with DYNAMIC per-event gap)",
    scale="""
    Spark 4 dynamic session gaps: the gap duration is an expression per
    event (purchases hold a session open 30 min, everything else 10),
    so engagement-weighted sessionization needs no second pass.
    Sessions merge transitively while each event lands inside the
    running maximum of previous events' (ts + gap) reach — the oracle
    reproduces exactly that as a running-max gaps-and-islands in
    microsecond integers (the same arithmetic Spark's timestamps use).
    Same single user_id shuffle and per-open-session streaming state as
    the fixed-gap form; the gap expression folds into codegen.
    """,
)
def stream_session_dynamic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessions with event-type-dependent gaps (30 min purchase, 10 min)."""
    ev = table(spark, sf_dir, "events")
    # session_window wants CalendarIntervalType: string literals, not the
    # ANSI DayTimeInterval the INTERVAL keyword produces
    gap = F.when(
        F.col("event_type") == "purchase", F.lit("30 minutes")
    ).otherwise(F.lit("10 minutes"))
    return (
        ev.groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("sum_val"),
        )
        .select(
            "user_id",
            F.expr("cast(to_unix_timestamp(sw.start) as long)").alias(
                "sess_start_s"
            ),
            "n_events",
            "sum_val",
        )
    )
