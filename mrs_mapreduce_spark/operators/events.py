"""Event-sequence analytics over the events table (SURVEY.md §2.D D6).

Funnel analysis composed from the window/join primitives — the kind of
multi-step event query a Mrs user would hand-roll as chained map/reduce
phases; here it is one declarative plan.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..exprs import pround, pround0
from ..registry import register

_NS_PER_DAY = 86_400_000_000_000


@register(
    "events_funnel",
    oracle=f"""
    WITH su AS (SELECT user_id, min(epoch_ns(ts)) AS s
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (SELECT su.user_id, su.s,
                    CASE WHEN EXISTS (
                        SELECT 1 FROM events p
                        WHERE p.user_id = su.user_id
                          AND p.event_type = 'purchase'
                          AND epoch_ns(p.ts) >= su.s)
                    THEN 1 ELSE 0 END AS converted
             FROM su)
    SELECT s // {_NS_PER_DAY} AS cohort_day,
           count(*) AS n_signups,
           CAST(sum(converted) AS BIGINT) AS n_conv,
           round(100.0 * sum(converted) / count(*), 2) AS conv_pct
    FROM conv GROUP BY 1
    """,
    survey="D6 (signup→purchase funnel by cohort)",
    scale="""
    Funnel without a correlated per-user scan: first-signup is one
    partial-aggregated groupBy; conversion is a left join from signups to
    purchases re-aggregated to a flag — two shuffles on user_id total
    (co-partitioned, so AQE can reuse the exchange). Cohort key is integer
    day arithmetic on exact nanos.
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort-day signup→purchase conversion rates."""
    ev = table(spark, sf_dir, "events")
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("s"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ns").alias("p_ns")
    )
    converted = (
        signups.join(purchases, "user_id", "left")
        .groupBy("user_id", "s")
        .agg(
            F.max(
                F.when(F.col("p_ns") >= F.col("s"), 1).otherwise(0)
            ).alias("converted")
        )
    )
    return (
        converted.groupBy(
            # integer div: double division drifts near day boundaries
            F.expr(f"s div {_NS_PER_DAY}").alias("cohort_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_signups"),
            F.sum("converted").cast("long").alias("n_conv"),
            pround(
                100.0 * F.sum("converted") / F.count(F.lit(1)), 2
            ).alias("conv_pct"),
        )
    )


@register(
    "events_retention",
    oracle=f"""
    WITH su AS (SELECT user_id, min(epoch_ns(ts)) // {_NS_PER_DAY} AS s_day
                FROM events WHERE event_type = 'signup' GROUP BY user_id),
    act AS (SELECT DISTINCT user_id,
                   epoch_ns(ts) // {_NS_PER_DAY} AS a_day
            FROM events)
    SELECT su.s_day AS cohort_day,
           CAST(act.a_day - su.s_day AS BIGINT) AS day_offset,
           count(DISTINCT su.user_id) AS n_active
    FROM su JOIN act ON act.user_id = su.user_id
    WHERE act.a_day - su.s_day BETWEEN 0 AND 7
    GROUP BY su.s_day, act.a_day - su.s_day
    """,
    survey="D6 (cohort retention matrix)",
    scale="""
    The retention triangle: first-touch cohorts joined to distinct
    (user, day) activity — both sides pre-aggregated per user/day before
    the join, so the join input is |users| + |user-days|, never raw
    events. Day arithmetic is integer nanos. At 100 TB the (user, day)
    distinct is the only heavy shuffle and is itself partial-aggregated.
    """,
)
def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-0..7 retention counts per signup cohort day."""
    ev = table(spark, sf_dir, "events")
    su = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.expr(f"min(ts_ns) div {_NS_PER_DAY}").alias("s_day"))
    )
    act = ev.select(
        "user_id", F.expr(f"ts_ns div {_NS_PER_DAY}").alias("a_day")
    ).distinct()
    return (
        su.join(act, "user_id")
        .withColumn("day_offset", F.col("a_day") - F.col("s_day"))
        .filter(F.col("day_offset").between(0, 7))
        .groupBy(F.col("s_day").alias("cohort_day"), "day_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )


_NS_PER_HOUR = 3_600_000_000_000


@register(
    "events_gapfill",
    oracle=f"""
    WITH hourly AS (
        SELECT epoch_ns(ts) // {_NS_PER_HOUR} AS hr,
               count(*) AS cnt,
               round(sum(value), 2) AS total
        FROM events GROUP BY 1
    ),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
    grid AS (SELECT unnest(generate_series(lo, hi)) AS hr FROM bounds)
    SELECT g.hr,
           CAST(coalesce(h.cnt, 0) AS BIGINT) AS cnt,
           coalesce(h.total, 0.0) AS total
    FROM grid g LEFT JOIN hourly h ON g.hr = h.hr
    """,
    survey="D6/C1 (time-series rollup with gap filling, hypertable-style)",
    scale="""
    Gap filling without a driver loop: the dense hour grid is generated
    with sequence() from the (tiny, broadcast) min/max bounds row and
    exploded DISTRIBUTED — never materialized on the driver. The grid
    side is |hours| rows (87.6k/decade — trivial), so it broadcasts into
    the left join against the pre-aggregated hourly rollup; raw events
    are touched exactly once. Integer-nanos hour keys, order-exact.
    """,
)
def events_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly event counts with empty hours zero-filled."""
    ev = table(spark, sf_dir, "events")
    # eager checkpoint: the bounds agg and the left join both consume
    # hourly, and Catalyst plans no common-subplan dedup — without it
    # raw events were scanned and shuffled once PER consumer, falsifying
    # the "touched exactly once" scale claim (r10 events review)
    hourly = (
        ev.groupBy(F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hr"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("value"), 2).alias("total"),
        )
        .localCheckpoint(eager=True)
    )
    grid = (
        hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("hr"))
    )
    return (
        grid.join(hourly, "hr", "left")
        .select(
            "hr",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total"),
        )
    )


@register(
    "events_anomaly",
    oracle="""
    WITH stats AS (
        SELECT event_type,
               avg(value) AS mu,
               stddev_samp(value) AS sigma,
               count(*) AS n
        FROM events GROUP BY event_type),
    scored AS (
        SELECT e.user_id, e.event_type, e.value,
               round((e.value - s.mu) / s.sigma, 4) AS z
        FROM events e JOIN stats s ON e.event_type = s.event_type
        WHERE s.sigma > 0)
    SELECT user_id, event_type, round(value, 2) AS value, z
    FROM scored WHERE abs(z) > 3
    """,
    survey="D6 (per-segment z-score anomaly flagging)",
    scale="""
    Two-pass outlier scan: per-type moments are ONE partial-aggregated
    groupBy (|event_types| rows), broadcast back onto the stream — the
    scoring join is map-side, zero shuffle of events. The same shape
    handles per-(type, hour) baselines by widening the stats key. At
    100 TB this is the data-quality gate before training ingest;
    stddev_samp's merge is Welford-style and order-stable enough that
    the rounded z matches across engines (boundary ties would need the
    integer-moments trick if they ever appeared).
    """,
)
def events_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events more than 3 sigma from their type's mean value."""
    ev = table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"),
        F.stddev_samp("value").alias("sigma"),
    )
    return (
        ev.join(F.broadcast(stats.filter(F.col("sigma") > 0)), "event_type")
        .withColumn("z", pround((F.col("value") - F.col("mu")) / F.col("sigma"), 4))
        .filter(F.abs(F.col("z")) > 3)
        .select("user_id", "event_type", pround("value", 2).alias("value"), "z")
    )


@register(
    "events_transitions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_ns(ts), event_type)
                   AS next_type
        FROM events)
    SELECT event_type AS from_type, next_type AS to_type,
           count(*) AS n_transitions
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
    """,
    survey="D6/B14 (event transition matrix: lead window + rollup)",
    scale="""
    One window shuffle on user_id (the sessionization partitioning every
    D6 query shares — reusable across funnel/retention/transitions in a
    single multi-output pass), then a partial-aggregated rollup of
    |event_types|^2 rows. The deterministic (ts, event_type) tie-break
    matters: pure-ts ordering is ambiguous for same-timestamp events and
    would hash-diverge between engines.
    """,
)
def events_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from->to event-type transition counts per user timeline."""
    ev = table(spark, sf_dir, "events")
    # order on exact int64 nanos, NOT the derived ts column: on the
    # round-1 TIMESTAMP(NANOS) layout Spark's ts is truncated to micros
    # while DuckDB reads full nanos, so sub-microsecond neighbors could
    # order differently per engine (r10 events review; the file-wide
    # ts_ns convention exists for exactly this)
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_type")
    return (
        ev.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_NS_PER_30MIN = 1_800_000_000_000


def _session_flags(ev: DataFrame) -> DataFrame:
    """(user_id, event_id, ts_ns, is_start): 30-min gaps-and-islands
    session-start flags — ONE definition of the sessionization rule
    (r10 review: events_session_ids and events_concurrency carried
    verbatim copies; a gap or tiebreak change applied to one would
    silently desynchronize the other). Ordering is the file-wide
    (ts_ns, event_id) convention.
    """
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        "ts_ns",
        F.when(
            F.lag("ts_ns").over(w).isNull()
            | (F.col("ts_ns") - F.lag("ts_ns").over(w) > _NS_PER_30MIN),
            1,
        )
        .otherwise(0)
        .alias("is_start"),
    )


@register(
    "events_session_ids",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_id, epoch_ns(ts) AS t,
               lag(epoch_ns(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_ns(ts), event_id)
                   AS prev_t
        FROM events),
    flagged AS (
        SELECT user_id, event_id, t,
               CASE WHEN prev_t IS NULL
                         OR t - prev_t > {_NS_PER_30MIN}
                    THEN 1 ELSE 0 END AS is_start
        FROM o),
    ids AS (
        SELECT user_id, event_id,
               CAST(sum(is_start) OVER (PARTITION BY user_id
                                        ORDER BY t, event_id
                                        ROWS UNBOUNDED PRECEDING)
                    AS BIGINT) AS session_no
        FROM flagged)
    SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
           count(*) AS n_events
    FROM ids GROUP BY user_id, session_no
    """,
    survey="D6/C3 (session-ID assignment: gaps-and-islands, row-level)",
    scale="""
    The row-level complement of session_window aggregation: every event
    gets its session ordinal via lag + a running sum of gap flags — ONE
    window shuffle on user_id shared by both functions (same frame), no
    join. This is the shape when downstream needs per-event session
    tags (training-example grouping), where the session_window aggregate
    only yields per-session rollups. Integer-nanos gap arithmetic; the
    (t, event_id) tie-break keeps same-timestamp orderings engine-
    deterministic.
    """,
)
def events_session_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign 30-min-gap session ordinals per user; report session sizes."""
    ev = table(spark, sf_dir, "events")
    flagged = _session_flags(ev)
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ids = flagged.select(
        "user_id",
        "event_id",
        F.sum("is_start").over(w_run).cast("long").alias("session_no"),
    )
    return ids.groupBy("user_id", "session_no").agg(
        F.count(F.lit(1)).alias("n_events")
    )


@register(
    "events_dau_wau",
    oracle="""
    WITH du AS (SELECT DISTINCT
                    CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
                    user_id
                FROM events),
    days AS (SELECT DISTINCT day FROM du),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
    wau AS (SELECT d.day, CAST(count(DISTINCT u.user_id) AS BIGINT) AS wau
            FROM days d
            JOIN du u ON u.day BETWEEN d.day - 6 AND d.day
            GROUP BY d.day)
    SELECT a.day, a.dau, w.wau
    FROM dau a JOIN wau w ON a.day = w.day
    """,
    survey="D6 extension (rolling active users: DAU + 7-day WAU)",
    scale="""
    count(DISTINCT user) over a sliding range frame is not a window
    Spark (or any engine) can stream, because distinctness does not
    decompose over frame slides. The scalable identity: dedup to
    (day, user) FIRST — the only corpus-sized stage, one shuffle whose
    output is bounded by |days| x |users|, not |events| — then a range
    join against the tiny day dimension replays each (day, user) into
    the <=7 windows it can affect, and the final distinct-count runs on
    window-sized groups. The day grid broadcasts at any corpus size; at
    100 TB the (day, user) relation is the thing to persist
    incrementally (append today's dedup, never rescan history).
    """,
)
def events_dau_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU and rolling 7-day WAU per active day."""
    ev = table(spark, sf_dir, "events")
    du = (
        ev.select(
            # integer division: ts_ns exceeds double's exact range, so
            # float division would misbucket near day boundaries
            F.expr(f"ts_ns div {_NS_PER_DAY}").alias("day"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)  # corpus-sized stage runs once
    )
    days = du.select("day").distinct()
    dau = du.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))
    wau = (
        du.alias("u")
        .join(
            F.broadcast(days.alias("d")),
            (F.col("u.day") >= F.col("d.day") - 6)
            & (F.col("u.day") <= F.col("d.day")),
        )
        .groupBy(F.col("d.day").alias("day"))
        .agg(F.count_distinct("u.user_id").alias("wau"))
    )
    return dau.join(wau, "day")


@register(
    "events_rfm",
    oracle="""
    WITH p AS (SELECT user_id, epoch_ns(ts) AS tsn, value FROM events
               WHERE event_type = 'purchase'),
    mx AS (SELECT max(tsn) AS now_ns FROM p),
    per_user AS (
        SELECT user_id,
               CAST((SELECT now_ns FROM mx) - max(tsn) AS BIGINT) AS rec_ns,
               CAST(count(*) AS BIGINT) AS freq,
               round(CAST(sum(value) AS DOUBLE), 2) AS monetary
        FROM p GROUP BY user_id)
    SELECT user_id, rec_ns, freq, monetary,
           CAST(ntile(4) OVER (ORDER BY rec_ns, user_id) AS INT) AS r_quart,
           CAST(ntile(4) OVER (ORDER BY freq DESC, user_id) AS INT)
               AS f_quart,
           CAST(ntile(4) OVER (ORDER BY monetary DESC, user_id) AS INT)
               AS m_quart
    FROM per_user
    """,
    survey="D6 extension (RFM segmentation: recency/frequency/monetary)",
    scale="""
    The per-entity profile + global quantile-bucket shape: the corpus
    collapses to one row per user in a single partial-aggregated
    shuffle, and only THEN are quartiles assigned — over the |users|
    relation, not |events|. The quartiles are EXACT global ntiles but
    computed WITHOUT any single-partition window: each dimension
    range-partitions on its (total) order, ranks within each range
    partition in parallel, and re-bases local ranks with per-partition
    offsets from a tiny broadcast pid<pid prefix-sum join — the
    distributed global-rank pattern. Every window in the plan is
    partitioned by _pid, so a billion-user relation ranks across the
    whole cluster instead of funnelling through one task per
    dimension. The user_id tiebreak makes ranks (and the oracle's
    plain ntile) deterministic.
    """,
)
def events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM quartiles per purchasing user, fully deterministic."""
    p = table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    per_user = p.groupBy("user_id").agg(
        F.max("ts_ns").alias("last_ns"),
        F.count(F.lit(1)).alias("freq"),
        pround(F.sum("value"), 2).alias("monetary"),
    )
    now_ns = per_user.agg(F.max("last_ns").alias("now_ns"))
    scored = per_user.crossJoin(F.broadcast(now_ns)).select(
        "user_id",
        (F.col("now_ns") - F.col("last_ns")).alias("rec_ns"),
        "freq",
        "monetary",
    )
    scored = _global_ntile(scored, [F.asc("rec_ns"), F.asc("user_id")], "r_quart")
    scored = _global_ntile(scored, [F.desc("freq"), F.asc("user_id")], "f_quart")
    scored = _global_ntile(
        scored, [F.desc("monetary"), F.asc("user_id")], "m_quart"
    )
    return scored.select(
        "user_id", "rec_ns", "freq", "monetary",
        "r_quart", "f_quart", "m_quart",
    )


#: Range partitions per ntile dimension. The global rank is n-invariant
#: (range order + per-partition offsets give the same ntile for any
#: count), so this only sets throughput; deriving it from the core count
#: was A/B'd at sf0.1 and rejected (slower in 6/7 interleaved rounds,
#: medians 2.46 -> 3.46 s): the per-user relation fits in 8 partitions.
_NTILE_PARTS = 8


def _global_ntile(df: DataFrame, order: list, out: str) -> DataFrame:
    """Exact global ``ntile(4)`` with no single-partition window.

    Distributed global-rank: range-partition the relation on the given
    total order (pid 0 holds the first range), number rows within each
    partition via ``sortWithinPartitions`` + ``monotonically_increasing_id``
    (the id embeds the partition index in its high bits, so
    ``id - min(id per partition) + 1`` is the local rank — NO window and
    no second full-relation shuffle), then re-base with per-partition
    row-count offsets (tiny ``b._pid < a._pid`` broadcast prefix-sum
    join — the same pattern as corpus_pack_contexts' distributed prefix
    sum). Global rank plus total count give the exact SQL ntile bucket in
    closed form, so the result is bit-identical to
    ``ntile(4) OVER (ORDER BY ...)`` whenever the order is total (ours
    is: user_id tiebreak). The ranked relation is eagerly
    localCheckpoint'd: entity-sized (one row per user), read by three
    consumers (stats, total, rebase), materialized exactly once.
    """
    # SQL ntile(k): q = n div k rows per bucket, first n%k buckets get one
    # extra. Closed form over global rank _r (1-based); the q=0 edge never
    # reaches the ELSE branch because then every rank satisfies the WHEN.
    bucket = F.expr(
        "CAST(CASE WHEN _r <= (_n % 4) * (_n div 4 + 1) "
        "THEN (_r + (_n div 4 + 1) - 1) div (_n div 4 + 1) "
        "ELSE (_n % 4) + (_r - (_n % 4) * (_n div 4 + 1) + (_n div 4) - 1)"
        " div (_n div 4) END AS INT)"
    )
    return _global_rank(df, order).withColumn(out, bucket).drop("_r", "_n")


def _ranked_chain(df: DataFrame, order: list) -> DataFrame:
    """The pre-checkpoint range-rank chain of :func:`_global_rank`.

    Split out so tests/test_scale_plans.py can pin the plan each ntile
    dimension EXECUTES at checkpoint time (the eager localCheckpoint
    hides it from the final query plan): exactly ONE range exchange —
    AQE must not insert a second around the repartitionByRange (r13,
    verdict task #5 plan pin)."""
    return (
        df.repartitionByRange(_NTILE_PARTS, *order)
        .sortWithinPartitions(*order)
        .withColumn("_mid", F.monotonically_increasing_id())
    )


def _global_rank(df: DataFrame, order: list) -> DataFrame:
    """Attach exact 1-based global rank ``_r`` (by ``order``) and total
    count ``_n`` — no single-partition window (see :func:`_global_ntile`'s
    docstring for the mechanism)."""
    ranked = _ranked_chain(df, order).localCheckpoint(eager=True)
    ranked = ranked.withColumn("_pid", F.shiftrightunsigned("_mid", 33))
    counts = ranked.groupBy("_pid").agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("_mid").alias("_base")
    )
    offs = (
        counts.alias("a")
        .join(
            F.broadcast(counts.alias("b")),
            F.col("b._pid") < F.col("a._pid"),
            "left",
        )
        .groupBy(F.col("a._pid").alias("_pid"), F.col("a._base").alias("_base"))
        .agg(F.coalesce(F.sum("b._cnt"), F.lit(0)).alias("_off"))
    )
    total = counts.agg(F.sum("_cnt").alias("_n"))
    return (
        ranked.join(F.broadcast(offs), "_pid")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_r", F.col("_off") + (F.col("_mid") - F.col("_base")) + 1
        )
        .drop("_pid", "_mid", "_base", "_off")
    )


@register(
    "events_funnel_ordered",
    oracle="""
    WITH s AS (SELECT user_id, min(epoch_ns(ts)) AS t0 FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    c AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t1
          FROM events e JOIN s ON s.user_id = e.user_id
          WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s.t0
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t2
          FROM events e JOIN c ON c.user_id = e.user_id
          WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > c.t1
          GROUP BY e.user_id)
    SELECT CAST((SELECT count(*) FROM s) AS BIGINT) AS n_signup,
           CAST((SELECT count(*) FROM c) AS BIGINT) AS n_then_click,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS n_then_purchase
    """,
    survey="D6 extension (strictly-ordered multi-step funnel)",
    scale="""
    The ORDERED funnel (each step must follow the previous step's first
    completion — events_funnel only checks existence): computed as a
    chain of min-timestamp semi-reductions, each one partial-aggregated
    groupBy on user_id. All three stages key on user_id, so AQE reuses
    one exchange; nothing ever materializes per-event state. The same
    chain extends to N steps linearly — the window alternative (sort
    each user's history, scan for the subsequence) costs the same single
    shuffle but holds the full history per user; the min-chain holds one
    timestamp. That difference is what survives 100 TB.
    """,
)
def events_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """signup -> click -> purchase completed strictly in order."""
    ev = table(spark, sf_dir, "events")

    def first_after(event_type: str, prev, prev_col: str, out: str):
        step = ev.filter(F.col("event_type") == event_type).select(
            "user_id", F.col("ts_ns").alias("t")
        )
        return (
            step.join(prev, "user_id")
            .filter(F.col("t") > F.col(prev_col))
            .groupBy("user_id", prev_col)
            .agg(F.min("t").alias(out))
        )

    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("t0"))
    )
    # s/c stay UNcheckpointed — the r12 rejection re-confirmed at the
    # sf1-synth tier (r13, verdict task #7): checkpoint arms ran worse
    # in 3/4 interleaved rounds (medians 1.77 -> 2.26 s); the barriers
    # serialize subtrees the scheduler overlaps, same as the 100-copy
    # finding.
    c = first_after("click", s, "t0", "t1")
    p = first_after("purchase", c, "t1", "t2")
    return (
        s.agg(F.count(F.lit(1)).alias("n_signup"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_then_click")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_then_purchase")))
    )


@register(
    "events_trigrams",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type, 1) OVER w AS p1,
               lag(event_type, 2) OVER w AS p2
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id))
    SELECT p2 AS e1, p1 AS e2, event_type AS e3,
           CAST(count(*) AS BIGINT) AS freq
    FROM seq WHERE p2 IS NOT NULL
    GROUP BY p2, p1, event_type
    ORDER BY freq DESC, e1, e2, e3
    LIMIT 20
    """,
    survey="D6 extension (sequential pattern mining: top event trigrams)",
    scale="""
    Sequence mining without state explosion: the double-lag window turns
    each user's ordered history into overlapping trigrams inside the
    SAME single user_id shuffle + sort every other per-user window op
    pays — no self-joins (the naive 3-way event join is cubic in events
    per user), no collected arrays. Generalizes to n-grams by adding
    lags; the composite (ts_ns, event_id) order keeps ties
    deterministic. The trigram aggregate is |event_types|^3-bounded —
    trivially partial-aggregated at any corpus size.
    """,
)
def events_trigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 consecutive event-type trigrams across all user histories."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    seq = ev.select(
        F.lag("event_type", 2).over(w).alias("e1"),
        F.lag("event_type", 1).over(w).alias("e2"),
        F.col("event_type").alias("e3"),
    ).filter(F.col("e1").isNotNull())
    return (
        seq.groupBy("e1", "e2", "e3")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), "e1", "e2", "e3")
        .limit(20)
    )


@register(
    "events_interarrival",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_ns(ts) - lag(epoch_ns(ts)) OVER
                   (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id)
                   AS gap_ns
        FROM events),
    per_user AS (
        SELECT user_id,
               CAST(quantile_cont(gap_ns, 0.5) AS DOUBLE) AS med_gap_ns
        FROM gaps WHERE gap_ns IS NOT NULL
        GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           round(quantile_cont(med_gap_ns, 0.25) / 1e9, 2) AS p25_s,
           round(quantile_cont(med_gap_ns, 0.5) / 1e9, 2) AS p50_s,
           round(quantile_cont(med_gap_ns, 0.75) / 1e9, 2) AS p75_s
    FROM per_user
    """,
    survey="D6 extension (inter-arrival analysis: per-user median gaps)",
    scale="""
    The activity-cadence profile: per-user inter-event gaps from one lag
    window (single user_id shuffle + sort), per-user exact median
    (bounded: one user's history — the only percentile buffer anywhere,
    plan-asserted), then cross-user quartiles WITHOUT a global
    percentile: exact interpolated quantiles are order statistics, so
    the per-user medians get a distributed global rank (events_rfm's
    range-partition + prefix-sum machinery, one shuffle), the <= 6 rows
    at quantile floor/ceil ranks survive a codegen filter, and the
    closed-form interpolation reproduces quantile_cont exactly. A
    billion-user relation never funnels values through one task; the
    approx alternative (sketch_quantile's GK/t-digest) trades that
    exactness for one fewer shuffle.
    """,
)
def events_interarrival(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quartiles of per-user median inter-event gaps (seconds)."""
    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    gaps = ev.select(
        "user_id",
        (F.col("ts_ns") - F.lag("ts_ns").over(w)).alias("gap_ns"),
    ).filter(F.col("gap_ns").isNotNull())
    per_user = gaps.groupBy("user_id").agg(
        F.expr("percentile(gap_ns, 0.5)").alias("med_gap_ns"),
    )
    # cross-user quartiles WITHOUT a global percentile buffer: exact
    # interpolated quantile = order statistics at positions
    # 1 + (n-1)*q, so distributed-rank the per-user medians (the
    # _global_rank machinery events_rfm uses — one range shuffle), keep
    # the <= 6 rows whose rank is a floor/ceil of a quantile position,
    # and interpolate in closed form: identical to quantile_cont /
    # percentile by definition, but the only value buffer anywhere is
    # per-user (bounded by one user's history)
    ranked = _global_rank(per_user, [F.asc("med_gap_ns"), F.asc("user_id")])
    qs = [0.25, 0.5, 0.75]
    pos = {q: F.lit(1.0) + (F.col("_n") - 1) * F.lit(q) for q in qs}
    cand = ranked.filter(
        functools.reduce(
            lambda a, b: a | b,
            [
                (F.col("_r") == F.floor(pos[q]))
                | (F.col("_r") == F.ceiling(pos[q]))
                for q in qs
            ],
        )
    )

    def interp(q: float):
        p = pos[q]
        vlo = F.max(
            F.when(F.col("_r") == F.floor(p), F.col("med_gap_ns"))
        )
        vhi = F.max(
            F.when(F.col("_r") == F.ceiling(p), F.col("med_gap_ns"))
        )
        frac = F.max(p - F.floor(p))
        return vlo + frac * (vhi - vlo)

    # coalesce: with no user having >= 2 events the cand relation is
    # EMPTY and max(_n) is NULL, while the oracle's count(*) is 0
    # (r10 events review — degenerate-input parity)
    return cand.agg(
        F.coalesce(F.max("_n"), F.lit(0).cast("long")).alias("n_users"),
        pround(interp(0.25) / 1e9, 2).alias("p25_s"),
        pround(interp(0.5) / 1e9, 2).alias("p50_s"),
        pround(interp(0.75) / 1e9, 2).alias("p75_s"),
    )


@register(
    "scd2_build",
    oracle="""
    WITH ch AS (SELECT user_id, event_id,
                       epoch_ns(ts) // 1000 AS ts_us,
                       round(value, 2) AS val
                FROM events WHERE event_type = 'purchase')
    SELECT user_id,
           ts_us AS valid_from_us,
           coalesce(lead(ts_us) OVER (PARTITION BY user_id
                                      ORDER BY ts_us, event_id),
                    9223372036854775807) AS valid_to_us,
           val,
           CAST(row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts_us, event_id)
                AS BIGINT) AS version
    FROM ch
    """,
    survey="B8/E33 companion (SCD2 dimension BUILD from a change log)",
    scale="""
    The other half of join_pit_scd2: turn an append-only change log
    into SCD2 validity intervals — valid_from = the change's own
    timestamp, valid_to = lead() of the next same-key change (open
    tail = max int64, so interval probes never need NULL handling).
    ONE window pass computes both the interval and the version number
    over a single user_id exchange; no self-join, no aggregation. At
    100 TB this runs incrementally: only keys present in the new log
    slice re-window (join the delta's key set semi-style), everything
    else keeps its intervals — the standard warehouse dim-refresh.
    Microsecond timestamps on both engines (DuckDB ns truncation
    rule).
    """,
)
def scd2_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 intervals (valid_from/valid_to/version) from purchase changes."""
    ch = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            "event_id",
            F.expr("ts_ns div 1000").alias("ts_us"),
            pround("value", 2).alias("val"),
        )
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return ch.select(
        "user_id",
        F.col("ts_us").alias("valid_from_us"),
        F.coalesce(
            F.lead("ts_us").over(w), F.lit(9223372036854775807)
        ).alias("valid_to_us"),
        "val",
        F.row_number().over(w).cast("long").alias("version"),
    )


@register(
    "events_attribution",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, value, epoch_ns(ts) AS tsn, event_id,
             last_value(CASE WHEN event_type <> 'purchase'
                             THEN event_type END IGNORE NULLS)
                 OVER (PARTITION BY user_id
                       ORDER BY epoch_ns(ts), event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS channel
      FROM events)
    SELECT coalesce(channel, '(none)') AS channel,
           count(*) AS n_purchases,
           round(sum(value), 2) AS revenue
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY 1
    """,
    survey="D6 extension (last-touch attribution)",
    scale="""
    Marketing attribution without an as-of self-join: the attributed
    channel is last_value(ignorenulls) of the preceding non-purchase
    event inside ONE user_id window pass (frame ends at 1 PRECEDING so
    a purchase never attributes to itself), then a tiny channel-level
    aggregate. One exchange on user_id, O(1) state per row — the
    window alternative to join_asof for the "latest prior fact"
    family. (event_id tiebreak = deterministic under simultaneous
    events.) At 100 TB identical shape; multi-touch variants swap
    last_value for collect+weights over the same single window.
    """,
)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue credited to the last non-purchase touch before purchase."""
    ev = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn(
        "channel",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    return (
        touched.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("(none)")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            pround(F.sum("value"), 2).alias("revenue"),
        )
    )


@register(
    "events_ewma",
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
    survey="B15 extension (exponentially weighted moving average — "
    "recursive state, not frame-expressible)",
    scale="""
    EWMA is a linear RECURRENCE (acc = (1-α)·acc + α·x), which no
    window frame expresses — the engine's answer is an order-stable
    in-group fold: collect the user's ordered history once and fold
    with a higher-order aggregate, the same left-to-right discipline as
    the vector dot product, so both engines produce bit-identical
    doubles (α=0.5 is dyadic: every step is exact halving, no rounding
    drift). The group history must fit a task — per-user purchase
    streams do by orders of magnitude; for unbounded keys the same
    recurrence runs as per-key streaming state, two scalars per key
    (stream_ewma_state in streaming/stateful.py), or segmented-scan
    style over fixed windows. One shuffle on user_id, partial-aggregated
    collect.
    """,
)
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA (α=0.5) of purchase values, order-stable fold."""
    p = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.struct(
                F.col("ts_ns"), F.col("event_id"),
                F.col("value").cast("double").alias("v"),
            ).alias("s"),
        )
    )
    seq = p.groupBy("user_id").agg(
        F.sort_array(F.collect_list("s")).alias("ss")
    )
    vs = F.col("ss").getField("v")
    fold = F.aggregate(
        F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
        F.element_at(vs, 1),
        lambda acc, x: acc * 0.5 + x * 0.5,
    )
    return seq.select(
        "user_id",
        F.size("ss").cast("long").alias("n_purchases"),
        pround(fold, 6).alias("ewma"),
    )


@register(
    "events_abtest",
    oracle=f"""
    WITH assign AS (
      SELECT user_id, CAST(user_id % 2 AS INT) AS grp FROM events
      GROUP BY user_id),
    conv AS (
      SELECT a.grp,
             count(*) AS n_users,
             CAST(sum(CASE WHEN EXISTS (
                 SELECT 1 FROM events p
                 WHERE p.user_id = a.user_id
                   AND p.event_type = 'purchase'
                   AND p.value > 180)
               THEN 1 ELSE 0 END) AS BIGINT) AS n_conv
      FROM assign a GROUP BY a.grp),
    wide AS (
      SELECT max(CASE WHEN grp = 0 THEN n_users END) AS n0,
             max(CASE WHEN grp = 0 THEN n_conv END) AS c0,
             max(CASE WHEN grp = 1 THEN n_users END) AS n1,
             max(CASE WHEN grp = 1 THEN n_conv END) AS c1
      FROM conv)
    SELECT n0, c0, n1, c1,
           round(c0 * 1.0 / n0, 6) AS p0,
           round(c1 * 1.0 / n1, 6) AS p1,
           round((c0 * 1.0 / n0 - c1 * 1.0 / n1)
                 / sqrt(((c0 + c1) * 1.0 / (n0 + n1))
                        * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)), 4) AS z
    FROM wide
    """,
    survey="D6 extension (two-proportion z-test — experimentation rollup)",
    scale="""
    The A/B readout: deterministic hash assignment (user_id parity
    stands in for the hash bucket), per-user conversion collapse (one
    partial-aggregated groupBy — EXISTS in the oracle, max-of-flag
    here), then a 2-row group rollup pivoted wide and the closed-form
    pooled z-statistic computed from integer counts — identical doubles
    on both engines because every input to the formula is an exact
    int64. At 100 TB only the per-user collapse touches the corpus;
    everything after is constant-size. Extend grp to a hash-mod-k for
    multi-arm tests; same shape.
    """,
)
def events_abtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test: high-value purchase conversion by parity."""
    ev = table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 180),
                1,
            ).otherwise(0)
        ).alias("converted")
    )
    conv = per_user.groupBy(
        F.pmod("user_id", F.lit(2)).cast("int").alias("grp")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    wide = conv.agg(
        F.max(F.when(F.col("grp") == 0, F.col("n_users"))).alias("n0"),
        F.max(F.when(F.col("grp") == 0, F.col("n_conv"))).alias("c0"),
        F.max(F.when(F.col("grp") == 1, F.col("n_users"))).alias("n1"),
        F.max(F.when(F.col("grp") == 1, F.col("n_conv"))).alias("c1"),
    )
    p0 = F.col("c0") * 1.0 / F.col("n0")
    p1 = F.col("c1") * 1.0 / F.col("n1")
    pp = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    # try_divide: an all-convert or no-convert pooled rate makes the
    # denominator 0, where ANSI / throws but DuckDB yields NULL (the
    # safe_corr degenerate class)
    z = F.try_divide(
        p0 - p1,
        F.sqrt(pp * (1 - pp) * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
    )
    return wide.select(
        "n0", "c0", "n1", "c1",
        pround(p0, 6).alias("p0"),
        pround(p1, 6).alias("p1"),
        pround(z, 4).alias("z"),
    )


_NS_PER_WEEK = 7 * _NS_PER_DAY


@register(
    "events_funnel_bounded",
    oracle=f"""
    WITH s AS (SELECT user_id, min(epoch_ns(ts)) AS s_ns FROM events
               WHERE event_type = 'signup' GROUP BY user_id),
    conv AS (
      SELECT s.user_id,
             CASE WHEN EXISTS (
                 SELECT 1 FROM events p
                 WHERE p.user_id = s.user_id
                   AND p.event_type = 'purchase'
                   AND epoch_ns(p.ts) >= s.s_ns
                   AND epoch_ns(p.ts) < s.s_ns + {_NS_PER_WEEK})
             THEN 1 ELSE 0 END AS in_window
      FROM s)
    SELECT count(*) AS n_signups,
           CAST(sum(in_window) AS BIGINT) AS n_conv_7d,
           round(100.0 * sum(in_window) / count(*), 2) AS conv_7d_pct
    FROM conv
    """,
    survey="D6 (TIME-BOUNDED funnel: convert within 7 days of signup)",
    scale="""
    The windowed conversion metric product teams actually track
    (events_funnel counts ever-converted): first signup per user is one
    partial-aggregated groupBy, the 7-day bound is integer-nanos
    arithmetic on the same user_id-keyed join, and the rollup is
    constant-size. One co-partitioned shuffle pair at any corpus size.
    The bound also CAPS the join state in the streaming form — this
    batch query is exactly stream_join_left_outer's interval shape with
    an aggregation on top.
    """,
)
def events_funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signup→purchase conversion within a 7-day window."""
    ev = table(spark, sf_dir, "events")
    s = (
        ev.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts_ns").alias("s_ns"))
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts_ns").alias("p_ns")
    )
    conv = (
        s.join(p, "user_id", "left")
        .groupBy("user_id", "s_ns")
        .agg(
            F.max(
                F.when(
                    (F.col("p_ns") >= F.col("s_ns"))
                    & (F.col("p_ns") < F.col("s_ns") + _NS_PER_WEEK),
                    1,
                ).otherwise(0)
            ).alias("in_window")
        )
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_signups"),
        F.sum("in_window").cast("long").alias("n_conv_7d"),
        pround(
            100.0 * F.sum("in_window") / F.count(F.lit(1)), 2
        ).alias("conv_7d_pct"),
    )


_NS_PER_30D = 30 * _NS_PER_DAY


@register(
    "events_mom_growth",
    oracle=f"""
    WITH monthly AS (
      SELECT epoch_ns(ts) // {_NS_PER_30D} AS period,
             count(*) AS n_events,
             round(sum(value), 2) AS revenue
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1)
    SELECT period, n_events, revenue,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY period))
                 / lag(revenue) OVER (ORDER BY period), 2) AS rev_mom_pct
    FROM monthly
    """,
    survey="B14 extension (period-over-period growth — the BI staple)",
    scale="""
    Month-over-month revenue growth: the corpus collapses to one row
    per 30-day period FIRST (partial-aggregated groupBy on integer-nanos
    arithmetic), and only then does the lag window run — over the
    |periods| relation, dozens of rows per decade, so its global window
    is bounded by CALENDAR TIME, not data volume (the same
    entity-collapse-first discipline as events_rfm). At 100 TB the
    rollup is the only corpus-sized stage.
    """,
)
def events_mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-day-period purchase revenue with period-over-period % change."""
    monthly = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.expr(f"ts_ns div {_NS_PER_30D}").alias("period"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            pround(F.sum("value"), 2).alias("revenue"),
        )
    )
    w = Window.orderBy("period")  # |periods| rows — calendar-bounded
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "period",
        "n_events",
        "revenue",
        pround(100.0 * (F.col("revenue") - prev) / prev, 2).alias(
            "rev_mom_pct"
        ),
    )


@register(
    "events_fill_forward",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type,
               epoch_ns(ts) // {3600 * 10**9} AS hr,
               round(avg(value), 4) AS avg_val
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(hr) AS lo, max(hr) AS hi FROM hourly),
    grid AS (SELECT t.event_type, g.hr
             FROM (SELECT DISTINCT event_type FROM hourly) t
             CROSS JOIN (SELECT unnest(generate_series(lo, hi)) AS hr
                         FROM bounds) g)
    SELECT event_type, hr,
           last_value(avg_val IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS locf_val
    FROM grid LEFT JOIN hourly USING (event_type, hr)
    """,
    survey="D6/B14 extension (forward fill / LOCF over a dense time grid — "
    "the hypertable locf() twin of events_gapfill's zero fill)",
    scale="""
    Last-observation-carried-forward: the dense (type x hour) grid is
    sequence()-exploded from one broadcast bounds row (never a driver
    loop), left-joined to the hourly rollup, and the fill is ONE
    last(ignorenulls) frame over the per-type sorted run — the same
    single-exchange window shape as any B14 offset function, with grid
    cardinality |types| x |hours| (bounded by calendar, not by events).
    Leading NULLs before a type's first observation stay NULL on both
    engines. This is the standard sensor/metrics densification at any
    scale: raw events touched once, everything after is grid-sized.
    """,
)
def events_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly per-type averages on a dense grid, forward-filled."""
    ev = table(spark, sf_dir, "events")
    # eager checkpoint: hourly feeds THREE subtrees (bounds agg, the
    # distinct type list, the left join) and Catalyst plans no
    # common-subplan dedup — raw events were scanned per consumer
    # (r10 events review; same fix as events_gapfill)
    hourly = (
        ev.groupBy(
            "event_type", F.expr(f"ts_ns div {_NS_PER_HOUR}").alias("hr")
        )
        .agg(pround(F.avg("value"), 4).alias("avg_val"))
        .localCheckpoint(eager=True)
    )
    hours = (
        hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("hr"))
    )
    grid = hourly.select("event_type").distinct().crossJoin(
        F.broadcast(hours)
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.last("avg_val", ignorenulls=True).over(w).alias("locf_val"),
        )
    )


@register(
    "events_concurrency",
    oracle=f"""
    WITH o AS (
        SELECT user_id, event_id, epoch_ns(ts) AS t,
               lag(epoch_ns(ts)) OVER (PARTITION BY user_id
                                       ORDER BY epoch_ns(ts), event_id)
                   AS prev_t
        FROM events),
    flagged AS (
        SELECT user_id, event_id, t,
               CASE WHEN prev_t IS NULL
                         OR t - prev_t > {_NS_PER_30MIN}
                    THEN 1 ELSE 0 END AS is_start
        FROM o),
    ids AS (
        SELECT user_id, t,
               sum(is_start) OVER (PARTITION BY user_id
                                   ORDER BY t, event_id
                                   ROWS UNBOUNDED PRECEDING) AS sno
        FROM flagged),
    sess AS (SELECT user_id, sno, min(t) AS st,
                    max(t) + {_NS_PER_30MIN} AS en
             FROM ids GROUP BY user_id, sno),
    seg AS (SELECT user_id, sno, d,
                   greatest(st, d * {_NS_PER_DAY}) AS sst,
                   least(en, (d + 1) * {_NS_PER_DAY}) AS sen
            FROM sess,
                 unnest(range(st // {_NS_PER_DAY},
                              (en - 1) // {_NS_PER_DAY} + 1)) AS u(d)),
    pts AS (SELECT d, 2 * sst + 1 AS k, 1 AS delta FROM seg
            WHERE sen > sst
            UNION ALL
            SELECT d, 2 * sen AS k, -1 FROM seg WHERE sen > sst),
    run AS (SELECT d, delta,
                   sum(delta) OVER (PARTITION BY d ORDER BY k
                                    RANGE BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS conc
            FROM pts)
    SELECT CAST(d AS BIGINT) AS day,
           CAST(count(*) FILTER (WHERE delta = 1) AS BIGINT)
               AS n_active_sessions,
           CAST(max(conc) AS BIGINT) AS peak_concurrent
    FROM run GROUP BY d
    """,
    survey="D6 extension (interval concurrency via sweep-line: peak "
    "simultaneous 30-min sessions per day — the +1/-1 boundary-point "
    "running sum, day-split so every day's sweep is an independent "
    "partition)",
    scale="""
    The sweep-line algorithm as a relational plan: each session interval
    [first_event, last_event + 30min) emits a +1 point at its start and
    a -1 at its (exclusive) end; concurrency at any instant is the
    running sum, and the day's peak is its max. Two scale decisions:
    (1) intervals are SPLIT at day boundaries first (unnest over the
    session's day range), so the running-sum window partitions by DAY —
    independent per-day sorts instead of one global ordered sweep, which
    is what makes the plan parallel at 100 TB (a day of boundary points
    per task; sessions spanning midnight contribute a segment to each
    day, preserving exact cross-boundary concurrency). (2) The frame is
    RANGE over the single packed key k = 2t + (1 if start) — ties (many
    sessions starting the same instant) are PEERS whose sum is frame-
    identical in any order, so the peak is engine-deterministic without
    a total tie-break; packing ends at even keys sorts them before
    same-instant starts (end-exclusive semantics). Session derivation
    reuses events_session_ids' pinned gaps-and-islands exactly.
    """,
)
def events_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous sessions per day (sweep-line over intervals)."""
    ev = table(spark, sf_dir, "events")
    flagged = _session_flags(ev)
    w_run = Window.partitionBy("user_id").orderBy(
        "ts_ns", "event_id"
    ).rowsBetween(Window.unboundedPreceding, 0)
    sess = (
        flagged.withColumn("sno", F.sum("is_start").over(w_run))
        .groupBy("user_id", "sno")
        .agg(
            F.min("ts_ns").alias("st"),
            (F.max("ts_ns") + _NS_PER_30MIN).alias("en"),
        )
    )
    seg = (
        sess.select(
            F.explode(
                F.sequence(
                    F.expr(f"st div {_NS_PER_DAY}"),
                    F.expr(f"(en - 1) div {_NS_PER_DAY}"),
                )
            ).alias("d"),
            "st",
            "en",
        )
        .select(
            "d",
            F.greatest("st", F.col("d") * _NS_PER_DAY).alias("sst"),
            F.least("en", (F.col("d") + 1) * _NS_PER_DAY).alias("sen"),
        )
        .filter(F.col("sen") > F.col("sst"))
    )
    pts = seg.select(
        "d",
        F.explode(
            F.array(
                F.struct(
                    (F.lit(2) * F.col("sst") + 1).alias("k"),
                    F.lit(1).alias("delta"),
                ),
                F.struct(
                    (F.lit(2) * F.col("sen")).alias("k"),
                    F.lit(-1).alias("delta"),
                ),
            )
        ).alias("p"),
    ).select("d", "p.k", "p.delta")
    w_sweep = (
        Window.partitionBy("d")
        .orderBy("k")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    run = pts.withColumn("conc", F.sum("delta").over(w_sweep))
    return run.groupBy("d").agg(
        F.col("d").alias("day"),
        F.count_if(F.col("delta") == 1).alias("n_active_sessions"),
        F.max("conc").alias("peak_concurrent"),
    ).select("day", "n_active_sessions", "peak_concurrent")



@register(
    "events_retention_cohorts",
    oracle=f"""
    WITH uw AS (SELECT DISTINCT
                    CAST(epoch_ns(ts) // {_NS_PER_WEEK} AS BIGINT) AS week,
                    user_id
                FROM events),
    first AS (SELECT user_id, min(week) AS cohort_week
              FROM uw GROUP BY user_id),
    sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
              FROM first GROUP BY cohort_week),
    ret AS (SELECT f.cohort_week,
                   u.week - f.cohort_week AS week_offset,
                   CAST(count(*) AS BIGINT) AS n_active
            FROM uw u JOIN first f ON u.user_id = f.user_id
            GROUP BY f.cohort_week, u.week - f.cohort_week)
    SELECT r.cohort_week, r.week_offset, r.n_active, s.cohort_size,
           round(r.n_active * 1.0 / s.cohort_size, 4) + 0.0 AS retention
    FROM ret r JOIN sizes s ON r.cohort_week = s.cohort_week
    """,
    survey="E108 (cohort retention matrix — the classic product-analytics "
    "triangle over D6's event stream)",
    scale="""
    The only corpus-sized stage is the (week, user) dedup — ONE
    exchange whose output is bounded by |users| x |weeks|, the same
    identity events_dau_wau pins. Everything after runs on user-sized
    relations: first-week is a groupBy over the deduped pairs, the
    cohort join re-keys them by user_id, and each (user, week) pair is
    already distinct so the retention cell count is a plain count, not
    a count-distinct. Cohort sizes are |weeks|-sized and the final join
    broadcasts. At 100 TB the (week, user) relation is the artifact to
    persist incrementally (append the current week, never rescan
    history) — retention backfills then never touch raw events.
    """,
)
def events_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention: cohort = first active epoch-week."""
    ev = table(spark, sf_dir, "events")
    uw = (
        ev.select(
            # integer division on exact int64 nanos (the dau_wau rule:
            # float division misbuckets near boundaries)
            F.expr(f"ts_ns div {_NS_PER_WEEK}").alias("week"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)  # corpus-sized stage runs once
    )
    first = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    sizes = first.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    ret = (
        uw.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return ret.join(F.broadcast(sizes), "cohort_week").select(
        "cohort_week",
        "week_offset",
        "n_active",
        "cohort_size",
        pround0(
            F.col("n_active") / F.col("cohort_size").cast("double"), 4
        ).alias("retention"),
    )
