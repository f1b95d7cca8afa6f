"""Streaming sinks: foreachBatch — the arbitrary-sink escape hatch.

``foreachBatch`` hands each micro-batch to plain batch code (any writer,
any library, multi-sink fan-out) with a batch_id for idempotence — the
streaming analogue of the reference's per-split output files written by
each reduce task. Unlike the memory-sink demo (``stream_watermark``) this
runs the full write-then-audit loop: stream -> transform -> append parquet
per batch -> batch read-back, and because Trigger.AvailableNow drains the
bounded fixture exactly once, the round-trip has an EXACT SQL oracle.

Every streaming query in the package, and ``examples/stream_pipeline.py``,
runs through :func:`_drain` — one AvailableNow start, loud timeout and
checkpoint clean-up; memory-sink queries through its thin
:func:`_drain_memory_sink` wrapper.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from ..exprs import pround
from ..registry import register


#: seconds an AvailableNow drain may run before it counts as stuck
DRAIN_TIMEOUT_S = 300


def _drain(writer: DataStreamWriter, ckpt_prefix: str) -> StreamingQuery:
    """Run ``writer`` to completion under Trigger.AvailableNow, LOUDLY.

    The one start -> wait -> stop -> clean-up path for every streaming
    query. ``writer`` arrives with its sink, query name and output mode
    set; the drain adds a fresh checkpoint and the trigger. A run that
    does not finish within ``DRAIN_TIMEOUT_S`` is stopped and raises
    ``TimeoutError``: falling through would read a partial, still-mutating
    sink, which can never pass a value oracle. The checkpoint directory
    is removed either way — after a bounded drain it is dead state that
    would otherwise accumulate per invocation. Returns the finished
    query (its ``recentProgress`` stays readable).
    """
    checkpoint = tempfile.mkdtemp(prefix=ckpt_prefix)
    try:
        query = (
            writer.option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            query.stop()
            raise TimeoutError(
                f"{query.name or ckpt_prefix}: availableNow drain did not "
                f"finish in {DRAIN_TIMEOUT_S}s; its sink would be partial "
                "— failing loudly instead"
            )
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
    return query


def _drain_memory_sink(
    df: DataFrame, sink_name: str, ckpt_prefix: str, output_mode="append"
) -> DataFrame:
    """Drain ``df`` into the memory sink ``sink_name`` and return its table."""
    _drain(
        df.writeStream.format("memory").queryName(sink_name)
        .outputMode(output_mode),
        ckpt_prefix,
    )
    return df.sparkSession.table(sink_name)


def _dual_stream_join(
    spark: SparkSession,
    sf_dir: str,
    how: str,
    sink_name: str,
    ckpt_prefix: str,
    coalesce_user: bool = False,
) -> DataFrame:
    """The purchases-vs-signups interval join topology, once.

    All five join-mode queries (and the original ``stream_stream_join``
    registration) share EXACTLY this plan — two watermarked file-source
    streams, equi-key user_id, the 1h event-time interval in both
    ts-space (sizes the state) and exact us-space (decides membership) —
    differing only in the join mode and whether the right side's user
    column must be coalesced in (outer modes emit right orphans with a
    NULL left user_id). One implementation means a change to the
    interval, watermark delay, or projections cannot desynchronize the
    modes — the copy-paste drift a review pass flagged.
    """
    from .source import events_stream

    p = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.expr("ts_ns div 1000").alias("p_us"),
        )
    )
    s = (
        events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "signup")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("event_id").alias("signup_id"),
            F.col("user_id").alias("s_user"),
            F.col("ts").alias("s_ts"),
            F.expr("ts_ns div 1000").alias("s_us"),
        )
    )
    joined = p.join(
        s,
        (F.col("user_id") == F.col("s_user"))
        & (F.col("s_ts") <= F.col("p_ts"))
        & (F.col("s_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        # exact us-space bounds: the ts interval above sizes state, these
        # decide membership identically to the batch twin / oracle
        & (F.col("s_us") <= F.col("p_us"))
        & (F.col("s_us") > F.col("p_us") - 3_600_000_000),
        how,
    ).select(
        "purchase_id",
        "signup_id",
        (
            F.coalesce("user_id", "s_user") if coalesce_user
            else F.col("user_id")
        ).alias("user_id"),
        (F.col("p_us") - F.col("s_us")).alias("gap_us"),
    )
    return _drain_memory_sink(joined, sink_name, ckpt_prefix)


@register(
    "stream_foreach_batch",
    oracle="""
    SELECT CAST((epoch_ns(ts) // 3600000000000) * 3600 AS BIGINT) AS hour_s,
           event_type,
           count(*) AS cnt,
           round(sum(value), 2) AS sum_val
    FROM events
    WHERE value > 0
    GROUP BY 1, 2
    """,
    survey="C (foreachBatch arbitrary sink, exact round-trip audit)",
    scale="""
    foreachBatch is where 100 TB streams meet real sinks: each
    micro-batch arrives as a batch DataFrame plus a monotonically
    increasing batch_id — write target tables idempotently (MERGE on
    batch_id, or path=.../batch_id), fan out to multiple stores, or run
    any batch-only writer. The in-stream stage here is a narrow
    filter+project (no state), so throughput is source-bounded; the
    read-back aggregation is the standard partial-agg rollup. The same
    topology pointed at Kafka just swaps the source line.
    """,
)
def stream_foreach_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream -> foreachBatch parquet append -> audited rollup."""
    from .source import events_stream

    stream = (
        events_stream(spark, sf_dir)
        .filter(F.col("value") > 0)
        .select(
            # integer div: ts_ns ~ 1.7e18 exceeds double's exact range,
            # so float division would misbucket near hour boundaries
            F.expr("(ts_ns div 3600000000000) * 3600").alias("hour_s"),
            "event_type",
            "value",
        )
    )
    target = tempfile.mkdtemp(prefix="mrs_febatch_") + "/out"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent enough for AvailableNow-once semantics; real sinks
        # key the write on batch_id (MERGE / overwrite-by-partition)
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(target)

    # the TARGET parquet stays: the returned DataFrame reads it lazily
    _drain(stream.writeStream.foreachBatch(write_batch), "mrs_febatch_ckpt_")
    # an empty source never calls write_batch: fail loudly rather than
    # read a sink that does not exist
    if not os.path.exists(target):
        raise RuntimeError(
            "stream_foreach_batch: no batch was ever written — "
            "the source matched zero input files"
        )

    return (
        spark.read.parquet(target)
        .groupBy("hour_s", "event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("value"), 2).alias("sum_val"),
        )
    )


@register(
    "stream_stream_join",
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
    survey="C (stream-stream interval join, REAL streaming execution)",
    scale="""
    The actual streaming topology, not the batch twin: two file-source
    streams, watermarks on both sides, equi-key (user_id) plus an
    event-time interval that bounds the join STATE — each side retains
    only rows newer than watermark minus the interval, so state is
    O(rate x interval), never O(history). Inner join + AvailableNow
    drain makes the result complete and deterministic, hence the EXACT
    oracle. On Kafka the same plan runs unbounded; the watermark delay
    becomes the late-data tolerance and state TTL in one knob. The
    implementation is the shared ``_dual_stream_join`` topology (this
    registration is the r5 original; ``stream_join_inner`` is the same
    mode's slot in the r8 join-mode matrix — one implementation, so the
    modes can never drift apart).
    """,
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases ⋈ signups within 1h, executed as a real dual-stream join."""
    return _dual_stream_join(
        spark, sf_dir, "inner",
        "mrs_stream_stream_join_sink", "mrs_ssj_ckpt_",
    )


#: static enrichment dimension: event_type -> (category, weight). Inline
#: and tiny by design — the stream-static join pattern is about joining a
#: slowly-changing dim table (catalog, user profile, model registry) into
#: an unbounded stream without any state.
_EVENT_DIM: tuple[tuple[str, str, float], ...] = (
    ("click", "engagement", 0.5),
    ("view", "engagement", 0.25),
    ("signup", "conversion", 2.0),
    ("purchase", "conversion", 5.0),
    ("error", "quality", 1.0),
)

@register(
    "stream_static_join",
    oracle="""
    SELECT e.event_id,
           e.event_type,
           v.category,
           round(e.value * v.weight, 2) AS weighted
    FROM events e
    JOIN (VALUES ('click', 'engagement', 0.5),
                 ('view', 'engagement', 0.25),
                 ('signup', 'conversion', 2.0),
                 ('purchase', 'conversion', 5.0),
                 ('error', 'quality', 1.0)) AS v(event_type, category, weight)
      ON e.event_type = v.event_type
    """,
    survey="C (stream-static enrichment join, REAL streaming execution)",
    scale="""
    The production enrichment pattern: an unbounded stream joined to a
    bounded dim relation. Spark plans the static side as a broadcast hash
    join probed per micro-batch — NO streaming state at all (unlike
    stream-stream joins there is nothing to retain: the static side is
    complete by definition), no watermark needed, append output. At
    100 TB/day the dim refresh is a re-broadcast per batch; row-level
    enrichment stays narrow so source parallelism is the only knob.
    """,
)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events stream ⋈ broadcast static dim — stateless enrichment."""
    from .source import events_stream

    dim = spark.createDataFrame(
        list(_EVENT_DIM), "event_type string, category string, weight double"
    )
    enriched = (
        events_stream(spark, sf_dir)
        .join(F.broadcast(dim), "event_type")
        .select(
            "event_id",
            "event_type",
            "category",
            pround(F.col("value") * F.col("weight"), 2).alias("weighted"),
        )
    )
    return _drain_memory_sink(
        enriched, "mrs_stream_static_join_sink", "mrs_ssj_static_ckpt_"
    )


@register(
    "stream_join_left_outer",
    oracle="""
    WITH mxp AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
                 WHERE event_type = 'purchase'),
    mxs AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
            WHERE event_type = 'signup'),
    w AS (SELECT (least(mxp.m, mxs.m) - 3600000) * 1000 AS w_us
          FROM mxp, mxs),
    p AS (SELECT event_id AS purchase_id, user_id,
                 epoch_ns(ts) // 1000 AS p_us
          FROM events WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS signup_id, user_id AS s_user,
                 epoch_ns(ts) // 1000 AS s_us
          FROM events WHERE event_type = 'signup'),
    j AS (SELECT p.purchase_id, p.user_id, p.p_us, s.signup_id, s.s_us
          FROM p LEFT JOIN s
            ON p.user_id = s.s_user
           AND s.s_us <= p.p_us
           AND s.s_us > p.p_us - 3600000000)
    SELECT purchase_id, signup_id, user_id,
           CAST(p_us - s_us AS BIGINT) AS gap_us
    FROM j
    WHERE signup_id IS NOT NULL OR p_us < (SELECT w_us FROM w)
    """,
    survey="C (stream-stream LEFT OUTER join: watermark state eviction)",
    scale="""
    The outer variant of stream_stream_join: unmatched purchases are
    held in the join state and NULL-emitted only when the watermark
    proves no matching signup can still arrive. The oracle encodes
    Spark's exact eviction semantics, empirically pinned: the global
    watermark is min over both sides of (per-side max event time,
    millisecond-truncated) minus the 1h delay — per-side because each
    withWatermark sits after its event_type filter — and a left row
    null-emits iff its event time is strictly below that. At 100 TB
    the state bound is identical to the inner join (O(rate x
    interval) per side); the only extra cost is the eviction scan per
    micro-batch. On an unbounded stream rows near the head simply wait
    — the availableNow drain surfaces exactly the watermark-proven
    subset, which is what makes the result deterministic and
    oracle-checkable at all.
    """,
)
def stream_join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases LEFT OUTER signups within 1h as a real dual-stream join."""
    return _dual_stream_join(
        spark, sf_dir, "left_outer",
        "mrs_stream_left_outer_sink", "mrs_slo_ckpt_",
    )

@register(
    "stream_join_inner",
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
    survey="C/E87 (stream-stream INNER join: the matched-pairs mode "
    "completing stream_join_left_outer's matrix — emits on match, no "
    "eviction wait)",
    scale="""
    stream_join_left_outer's inner twin, run as a REAL dual
    readStream: equi-key (user_id) plus the event-time interval
    bound, watermarks on both sides sizing the join state to
    O(rate x interval) per side. Inner mode needs no eviction
    semantics in the oracle — a pair emits the micro-batch both rows
    exist, so the availableNow drain equals the batch interval join
    EXACTLY (join_interval_events' relation, which is this query's
    oracle verbatim). The mode pair documents the production choice:
    inner when downstream tolerates missing matches, outer when it
    must see every left row and can wait out the watermark. Shares the
    single ``_dual_stream_join`` implementation with every other mode
    (and with ``stream_stream_join``, the r5 original registration of
    this same inner topology).
    """,
)
def stream_join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases INNER JOIN signups within 1h as a real dual-stream join."""
    return _dual_stream_join(
        spark, sf_dir, "inner",
        "mrs_stream_inner_sink", "mrs_ssi_ckpt_",
    )

@register(
    "stream_join_full_outer",
    oracle="""
    WITH mxp AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
                 WHERE event_type = 'purchase'),
    mxs AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
            WHERE event_type = 'signup'),
    w AS (SELECT (least(mxp.m, mxs.m) - 3600000) * 1000 AS w_us
          FROM mxp, mxs),
    p AS (SELECT event_id AS purchase_id, user_id,
                 epoch_ns(ts) // 1000 AS p_us
          FROM events WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS signup_id, user_id AS s_user,
                 epoch_ns(ts) // 1000 AS s_us
          FROM events WHERE event_type = 'signup'),
    m AS (SELECT p.purchase_id, s.signup_id, p.user_id,
                 p.p_us - s.s_us AS gap_us
          FROM p JOIN s
            ON p.user_id = s.s_user
           AND s.s_us <= p.p_us
           AND s.s_us > p.p_us - 3600000000)
    SELECT purchase_id, signup_id, user_id,
           CAST(gap_us AS BIGINT) AS gap_us
    FROM m
    UNION ALL
    SELECT p.purchase_id, NULL, p.user_id, NULL
    FROM p
    WHERE p.purchase_id NOT IN (SELECT purchase_id FROM m)
      AND p.p_us < (SELECT w_us FROM w)
    UNION ALL
    SELECT NULL, s.signup_id, s.s_user, NULL
    FROM s
    WHERE s.signup_id NOT IN (SELECT signup_id FROM m)
      AND s.s_us < (SELECT w_us FROM w) - 3600000000
    """,
    survey="C (stream-stream FULL OUTER join — completes the join-mode "
    "matrix: inner emits on match, left outer null-pads evicted left "
    "rows, full outer null-pads BOTH sides' watermark-proven orphans)",
    scale="""
    The full-outer mode of the dual-stream interval join, with BOTH
    sides' eviction boundaries empirically pinned (sf0.001 AND sf0.01:
    every emission class matches the oracle exactly). Matched pairs
    emit on match — no eviction involved. An unmatched PURCHASE
    null-emits iff p_us < w (w = min of the two per-side
    ms-truncated max event times minus the 1h delay — the
    stream_join_left_outer boundary). An unmatched SIGNUP null-emits
    iff s_us < w - 1h: the signup's match window extends FORWARD
    (it matches purchases in [s_us, s_us + 1h)), so the state store
    must hold it until the watermark clears the WHOLE window — the
    asymmetry between the two eviction predicates IS the join
    condition's time geometry, and getting it wrong under-evicts
    (state growth) or over-evicts (dropped matches) at 100 TB. State
    bound per side stays O(rate x interval + watermark delay); the
    full-outer mode adds only the second eviction scan per
    micro-batch.
    """,
)
def stream_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases FULL OUTER signups within 1h as a real dual-stream join."""
    return _dual_stream_join(
        spark, sf_dir, "full_outer",
        "mrs_stream_full_outer_sink", "mrs_sfo_ckpt_",
        coalesce_user=True,
    )

@register(
    "stream_join_right_outer",
    oracle="""
    WITH mxp AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
                 WHERE event_type = 'purchase'),
    mxs AS (SELECT max(epoch_ns(ts) // 1000000) AS m FROM events
            WHERE event_type = 'signup'),
    w AS (SELECT (least(mxp.m, mxs.m) - 3600000) * 1000 AS w_us
          FROM mxp, mxs),
    p AS (SELECT event_id AS purchase_id, user_id,
                 epoch_ns(ts) // 1000 AS p_us
          FROM events WHERE event_type = 'purchase'),
    s AS (SELECT event_id AS signup_id, user_id AS s_user,
                 epoch_ns(ts) // 1000 AS s_us
          FROM events WHERE event_type = 'signup'),
    m AS (SELECT p.purchase_id, s.signup_id, p.user_id,
                 p.p_us - s.s_us AS gap_us
          FROM p JOIN s
            ON p.user_id = s.s_user
           AND s.s_us <= p.p_us
           AND s.s_us > p.p_us - 3600000000)
    SELECT purchase_id, signup_id, user_id,
           CAST(gap_us AS BIGINT) AS gap_us
    FROM m
    UNION ALL
    SELECT NULL, s.signup_id, s.s_user, NULL
    FROM s
    WHERE s.signup_id NOT IN (SELECT signup_id FROM m)
      AND s.s_us < (SELECT w_us FROM w) - 3600000000
    """,
    survey="C (stream-stream RIGHT OUTER join — the fourth and final "
    "mode: inner, left outer E49, full outer E95, right outer here; "
    "the matrix is closed)",
    scale="""
    The right-preserving mode, free once the full-outer boundaries were
    pinned: matched pairs emit on match (no eviction), and an unmatched
    SIGNUP null-emits iff s_us < w − 1h — the same forward-window
    eviction the full-outer right side uses (the signup matches
    purchases in [s_us, s_us + 1h), so its state survives until the
    watermark clears the whole window). Oracle = the full-outer oracle
    minus the left-orphan class, nothing re-derived. State bound and
    micro-batch cost identical to the other outer modes.
    """,
)
def stream_join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """purchases RIGHT OUTER signups within 1h as a real dual-stream join."""
    return _dual_stream_join(
        spark, sf_dir, "right_outer",
        "mrs_stream_right_outer_sink", "mrs_sro_ckpt_",
        coalesce_user=True,
    )

