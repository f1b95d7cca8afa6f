"""Aggregation operators.

Capability parity: the reference's ``reduce`` (A10,
``mrs/tasks.py::ReduceTask``) with map-side ``combine`` (A6) — SURVEY.md
§2.A/§2.B B9–B12. Every groupBy here compiles to partial→final
``HashAggregateExec`` (the combine/reduce split the reference implements by
hand), with map-side partial aggregation shrinking the shuffle exactly like
a Mrs combiner.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import (cents, net4_sql, pround, pround0, rev4, rev4_sql,
                     safe_corr)
from ..registry import register


@register(
    "groupby_agg",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           round(sum(l_quantity), 2) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round({rev4_sql()} / 10000.0, 2) AS sum_disc,
           round(avg(l_quantity), 2) AS avg_qty,
           count(*) AS cnt
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-01'
    GROUP BY l_returnflag, l_linestatus
    """,
    survey="B9 (flagship, TPC-H Q1 shape)",
    scale="""
    Filter pushes to the parquet scan; partial HashAggregate runs map-side
    (combiner parity) so the exchange carries ~6 grouped rows per task, not
    the fact table. At 100 TB this plan's shuffle is KBs. Low-cardinality
    group keys -> no skew concern.
    """,
)
def groupby_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary — the engine's flagship query."""
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            F.col("l_shipdate") <= F.lit("2000-09-01").cast("timestamp_ntz")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            pround(F.sum("l_quantity"), 2).alias("sum_qty"),
            pround(F.sum("l_extendedprice"), 2).alias("sum_base"),
            # exact integer 10^-4 units: ep x (1-disc) is an exact
            # 4-decimal rational that can land ON a .005 boundary where
            # a last-ulp accumulation difference flips the cent (the
            # r11 tpch discipline, applied to the flagship)
            pround(rev4() / 10000.0, 2).alias("sum_disc"),
            pround(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@register(
    "agg_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS n_custs,
           count(*) AS cnt
    FROM orders GROUP BY o_orderstatus
    """,
    survey="B10",
    scale="""
    count(DISTINCT) expands to a two-phase aggregate (dedup on
    (status, custkey), then count) — two shuffles. At 100 TB prefer
    approx_count_distinct (HLL sketch, one shuffle of fixed-size sketches)
    unless exactness is required; see agg_approx_distinct.
    """,
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase reduce in Mrs terms)."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
    SELECT o_orderstatus,
           count(DISTINCT o_custkey) AS exact_custs,
           count(*) AS cnt,
           TRUE AS within_bound
    FROM orders GROUP BY o_orderstatus
    """,
    survey="B10",
    scale="""
    HyperLogLog++ sketch: one shuffle of constant-size state per group —
    THE 100 TB answer to distinct counting. Oracle contract (round-4
    redesign): DuckDB's approx estimator is a different algorithm, so
    instead of comparing raw estimates the query emits the EXACT count
    (computed independently in both engines) plus a bounded-error
    witness ``within_bound = |approx - exact| / exact <= 0.10`` — the
    oracle asserts TRUE, so an estimator drifting past the bound
    becomes a hash mismatch. The epsilon is 5x the configured rsd=0.02
    (ADVICE r4: 2.5 sigma was a coin-flip away from a red row on a
    regenerated fixture — the estimator is deterministic per dataset,
    so a single unlucky group would fail every run); the tight 5%
    whole-table assertion lives in tests/test_properties.py
    (test_approx_distinct_error_bound) where a miss is debuggable
    rather than a driver hash mismatch.
    """,
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ distinct estimate, checked against the exact count in-query."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("exact_custs"),
        F.count(F.lit(1)).alias("cnt"),
        (
            F.abs(
                F.approx_count_distinct("o_custkey", rsd=0.02)
                - F.countDistinct("o_custkey")
            )
            / F.countDistinct("o_custkey").cast("double")
            <= F.lit(0.10)
        ).alias("within_bound"),
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag,
           l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           round(sum(l_quantity), 2) AS sum_qty,
           count(*) AS cnt
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
    survey="B11",
    scale="""
    Rollup = Expand (one emitted row per grouping set) + single hash
    aggregate: one shuffle regardless of grouping-set count. The Expand
    multiplies map output rows by #sets — keep set count small or pre-
    aggregate at the finest granularity first at extreme scale.
    """,
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals with grouping_id (verified bit-order == DuckDB)."""
    li = table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping_id().cast("long").alias("gid"),
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    survey="B11",
    scale="Cube = Expand x 4 grouping sets; same single-shuffle shape as rollup.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All grouping-set combinations over two dimensions."""
    orders = table(spark, sf_dir, "orders")
    return orders.cube("o_orderstatus", "o_orderpriority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_collect",
    oracle="""
    SELECT l_returnflag,
           string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus)
               AS statuses,
           count(*) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    survey="B12",
    scale="""
    collect_set materializes the group's distinct values in executor memory
    — bounded here (2 statuses). At 100 TB never collect an unbounded
    group; cap with slice() or aggregate to sketches instead. sort_array
    before output: collect order is nondeterministic (SURVEY §7.4).
    """,
)
def agg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested/list aggregation, canonicalized by sorting (B12)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.array_join(
            F.sort_array(F.collect_set("l_linestatus")), ","
        ).alias("statuses"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_stats",
    oracle="""
    SELECT l_returnflag,
           round(stddev_samp(l_quantity), 4) AS sd_qty,
           round(var_samp(l_quantity), 4) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qd,
           round(quantile_cont(l_quantity, 0.5), 2) AS med_qty,
           round(min(l_extendedprice), 2) AS min_price,
           round(max(l_extendedprice), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
    survey="B9 (statistical aggregates)",
    scale="""
    stddev/var/corr/covar are algebraic (single-pass partial aggregation).
    percentile() is exact and holds the group's values — at 100 TB switch
    to approx_percentile (t-digest sketch, constant memory).
    """,
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family with exact median."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
        pround(F.var_samp("l_quantity"), 4).alias("var_qty"),
        pround(safe_corr("l_quantity", "l_extendedprice"), 6).alias("corr_qp"),
        pround(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qd"),
        # median over l_quantity (integral values): exact-percentile
        # interpolation on price doubles differs between engines in the
        # last cent; quantity midpoints are exact halves on both
        pround(F.expr("percentile(l_quantity, 0.5)"), 2).alias("med_qty"),
        pround(F.min("l_extendedprice"), 2).alias("min_price"),
        pround(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
    survey="B11 (pivot / conditional aggregation)",
    scale="""
    pivot with an EXPLICIT value list compiles to one conditional
    aggregate per pivot value in a single groupBy — one shuffle. Omitting
    the list adds a blocking distinct-scan to discover values; never do
    that at 100 TB.
    """,
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Status counts pivoted to columns per order priority."""
    orders = table(spark, sf_dir, "orders")
    pivoted = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


@register(
    "agg_minmax_by",
    oracle="""
    SELECT o_orderstatus,
           arg_max(o_orderkey, o_totalprice) AS biggest_order,
           arg_min(o_orderkey, o_totalprice) AS smallest_order,
           round(max(o_totalprice), 2) AS max_price
    FROM orders GROUP BY o_orderstatus
    """,
    survey="B9 (argmax/argmin aggregates)",
    scale="""
    max_by/min_by carry the argmax through partial aggregation — one
    shuffle, no self-join back to find the extreme row (the naive
    pattern costs a join). Deterministic here because o_totalprice
    values are distinct per group at fixture scale; production code
    should pair with a tiebreak struct.
    """,
)
def agg_minmax_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-identity extremes per group without a rejoin."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.expr("max_by(o_orderkey, o_totalprice)").alias("biggest_order"),
        F.expr("min_by(o_orderkey, o_totalprice)").alias("smallest_order"),
        pround(F.max("o_totalprice"), 2).alias("max_price"),
    )


@register(
    "agg_percentile",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
           round(quantile_cont(l_extendedprice, 0.9), 2) AS p90,
           round(quantile_cont(l_extendedprice, 0.99), 2) AS p99
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey="B9 (exact interpolated percentiles per group)",
    scale="""
    EXACT percentile via the percentile() aggregate holds the full value
    set per group — kept here as the B9 parity specimen with coarse
    groups (3 return flags). At 100 TB there are two implemented escape
    hatches in this repo: the GK sketch (sketch_quantile's
    percentile_approx, bounded state) and the rank-selection plan
    (window row_number + boundary-rank interpolation — sketch_quantile's
    exact side and events_interarrival's quartiles), which computes the
    SAME exact interpolated value with only a spillable sort.
    Interpolation (linear) runs on identical sorted doubles in both
    engines, so values are exact.
    """,
)
def agg_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 of extended price per return flag."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        pround(F.expr("percentile(l_extendedprice, 0.5)"), 2).alias("p50"),
        pround(F.expr("percentile(l_extendedprice, 0.9)"), 2).alias("p90"),
        pround(F.expr("percentile(l_extendedprice, 0.99)"), 2).alias("p99"),
    )


@register(
    "agg_unpivot",
    oracle="""
    WITH wide AS (
        SELECT l_returnflag,
               round(sum(l_quantity), 2) AS sum_qty,
               round(sum(l_extendedprice), 2) AS sum_price,
               round(avg(l_discount), 4) AS avg_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS val FROM wide
    UNION ALL
    SELECT l_returnflag, 'sum_price', sum_price FROM wide
    UNION ALL
    SELECT l_returnflag, 'avg_disc', avg_disc FROM wide
    """,
    survey="B2/B9 (unpivot/melt wide aggregates to long form)",
    scale="""
    unpivot is a narrow 1->k row explosion — no shuffle of its own, it
    rides whatever partitioning the input has. The inverse of agg_pivot;
    together they round-trip wide<->long without leaving the JVM. The
    oracle spells it as UNION ALL arms (portable SQL for the same plan).
    """,
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Melt the per-flag aggregate into (flag, metric, val) rows."""
    li = table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        pround(F.sum("l_quantity"), 2).alias("sum_qty"),
        pround(F.sum("l_extendedprice"), 2).alias("sum_price"),
        pround(F.avg("l_discount"), 4).alias("avg_disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "avg_disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT o_orderstatus,
           o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                            (o_orderpriority), ())
    """,
    survey="B11 (explicit GROUPING SETS, the rollup/cube generalization)",
    scale="""
    Same Expand + one-hash-aggregate plan as rollup/cube but with ONLY
    the requested sets — here 3 emitted rows per input instead of cube's
    4. At 100 TB grouping-set choice is a direct map-output multiplier;
    explicit sets (not cube) keep the Expand factor minimal, and the
    single shuffle carries all granularities at once instead of N
    separate groupBy jobs over the fact table.
    """,
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit grouping sets via the Spark 4 DataFrame API."""
    orders = table(spark, sf_dir, "orders")
    return orders.groupingSets(
        [["o_orderstatus", "o_orderpriority"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).alias("cnt"),
        pround(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "agg_histogram",
    oracle="""
    SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
           CAST(floor(o_totalprice / 50000) * 50000 AS DOUBLE) AS lo,
           count(*) AS cnt,
           round(avg(o_totalprice), 2) AS avg_price
    FROM orders
    GROUP BY 1, 2
    """,
    survey="B9 (equi-width histogram: the profiling aggregate)",
    scale="""
    Histogram = groupBy on a computed bucket key: one partial-aggregated
    shuffle of |buckets| rows however large the fact table — the
    profiling pass every ingest pipeline runs before choosing partition
    boundaries. The bucket expression is a literal floor-division, so it
    pushes into the scan's codegen; for data-driven bounds compute
    min/max first and broadcast them (same two-pass shape as
    embedding_quantize).
    """,
)
def agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width price histogram over orders."""
    o = table(spark, sf_dir, "orders")
    bucket = F.floor(F.col("o_totalprice") / 50000)
    return (
        o.groupBy(
            bucket.cast("long").alias("bucket"),
            (bucket * 50000).cast("double").alias("lo"),
        )
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


@register(
    "agg_mode",
    oracle="""
    WITH counts AS (
        SELECT c_nationkey, c_mktsegment, count(*) AS c
        FROM customer GROUP BY c_nationkey, c_mktsegment)
    SELECT c_nationkey, c_mktsegment AS mode_segment, CAST(c AS BIGINT) AS c
    FROM (SELECT c_nationkey, c_mktsegment, c,
                 row_number() OVER (PARTITION BY c_nationkey
                                    ORDER BY c DESC, c_mktsegment) AS rk
          FROM counts)
    WHERE rk = 1
    """,
    survey="B9 (deterministic statistical mode per group)",
    scale="""
    Mode via count-then-argmax, NOT the built-in mode() (engines break
    frequency ties arbitrarily — non-deterministic across engines AND
    runs): one partial-aggregated count per (group, value), then a
    max_by on the (count, value) struct with an explicit lexical
    tie-break. Shuffle carries |group x value| rows; the argmax is a
    second tiny aggregation, and both stages stay partial-aggregated.
    """,
)
def agg_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Most common market segment per nation, ties broken lexically."""
    c = table(spark, sf_dir, "customer")
    counts = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("c")
    )
    # lexicographic struct-min: (-count, value) — max count first, then
    # the lexically smallest value on ties; one hash aggregation, no sort
    best = counts.groupBy("c_nationkey").agg(
        F.min(
            F.struct((-F.col("c")).alias("negc"), "c_mktsegment", "c")
        ).alias("m")
    )
    return best.select(
        "c_nationkey",
        F.col("m.c_mktsegment").alias("mode_segment"),
        F.col("m.c").alias("c"),
    )


@register(
    "agg_conditional",
    oracle="""
    SELECT o_orderstatus,
           CAST(count(*) FILTER (WHERE o_totalprice > 200000) AS BIGINT)
               AS n_big,
           bool_and(o_totalprice > 1000) AS all_over_1k,
           bool_or(o_orderpriority = '1-URGENT') AS any_urgent,
           CAST(min(o_custkey) AS BIGINT) AS a_custkey
    FROM orders
    GROUP BY o_orderstatus
    """,
    survey="B9 extension (conditional/boolean aggregates: count_if, bool_and/or, any_value)",
    scale="""
    count_if / bool_and / bool_or are single-pass partial-aggregated
    counters — same HashAggregate shape as sum/count, no second scan or
    CASE scaffolding. any_value is the one to watch: it is
    NON-DETERMINISTIC by contract (whichever partial arrives first), so
    a testable pipeline pins it to min/max_by — done here (min), which
    keeps the oracle exact; use true any_value only where the consumer
    genuinely doesn't care, it saves the comparator.
    """,
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional and boolean aggregates per order status."""
    o = table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 200000).alias("n_big"),
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_orderpriority") == "1-URGENT").alias("any_urgent"),
        F.min("o_custkey").alias("a_custkey"),
    )


@register(
    "agg_weighted",
    oracle=f"""
    SELECT l_returnflag,
           round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * CAST(trunc(l_quantity) AS BIGINT))
                 / (100.0 * sum(l_quantity)), 4) AS wavg_price,
           round({rev4_sql()}
                 / (100.0 * sum(CAST(round(l_extendedprice * 100)
                                     AS BIGINT))), 6) AS eff_discount_keep,
           CAST(count(*) AS BIGINT) AS cnt
    FROM lineitem
    GROUP BY l_returnflag
    """,
    survey="B9 extension (weighted average / ratio-of-sums aggregates)",
    scale="""
    The ratio-of-sums discipline: a weighted average is sum(w*x)/sum(w)
    computed as TWO algebraic partial aggregates and one final division
    — never avg() over pre-divided rows (averaging ratios weights every
    row equally: Simpson's-paradox wrong) and never a two-pass plan.
    Both numerator and denominator ride the same HashAggregate, so the
    marginal cost over a plain sum is one more accumulator. Division
    AFTER final aggregation also keeps the float deterministic: one
    divide per group instead of a summation of divided terms.
    """,
)
def agg_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted price and effective discount per return flag.

    Numerators and denominators are EXACT int64 sums (cents x integer
    quantity), so both engines divide identical integers and the ratio
    is deterministic under any aggregation order — the r11 money-sum
    discipline extended to ratio-of-sums aggregates.
    """
    li = table(spark, sf_dir, "lineitem")
    # Spark's double→long cast TRUNCATES; DuckDB's CAST ROUNDS (probed
    # r12: CAST(2.7 AS BIGINT)=3). The oracle says trunc(...)::BIGINT so
    # both engines truncate bit-identically for any quantity domain.
    qty = F.col("l_quantity").cast("long")
    return li.groupBy("l_returnflag").agg(
        pround(
            F.sum(cents(F.col("l_extendedprice")) * qty)
            / (F.lit(100.0) * F.sum("l_quantity")),
            4,
        ).alias("wavg_price"),
        pround(
            rev4()
            / (F.lit(100.0) * F.sum(cents(F.col("l_extendedprice")))),
            6,
        ).alias("eff_discount_keep"),
        F.count(F.lit(1)).alias("cnt"),
    )


@register(
    "agg_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 2)
               AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem GROUP BY l_returnflag
    """,
    survey="B9 (OLS regression aggregates — regr_* family)",
    scale="""
    Per-group ordinary least squares without collecting anything: the
    regr_* aggregates are algebraic (sums of x, y, xy, x², count), so
    they partial-aggregate map-side like any sum — a linear trend per
    segment at 100 TB costs exactly one groupBy. Both engines implement
    the same closed form; rounding per the float value-hash discipline.
    The window variant (regr_slope OVER a trailing frame) gives rolling
    trend detection with the same state.
    """,
)
def agg_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flag OLS of extendedprice on quantity (slope/intercept/R²)."""
    li = table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.regr_count("l_extendedprice", "l_quantity")
        .cast("long")
        .alias("n"),
        pround(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias(
            "slope"
        ),
        pround(F.regr_intercept("l_extendedprice", "l_quantity"), 2).alias(
            "intercept"
        ),
        pround(F.regr_r2("l_extendedprice", "l_quantity"), 6).alias("r2"),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
    FROM orders GROUP BY o_orderpriority
    """,
    survey="B10 extension (EXACT distinct via Spark 4 bitmap aggregates — "
    "the shard-mergeable alternative to count_distinct's expand)",
    scale="""
    Two-level exact distinct count that merges like a monoid: keys map to
    (bucket, bit) via bitmap_bucket_number/bitmap_bit_position, each
    (group, bucket) partial-aggregates a fixed 4 KB bitmap map-side, the
    shuffle carries bitmaps instead of raw keys, and the final count is
    sum(bitmap_count). Unlike count(DISTINCT x) — whose Expand doubles
    the input when combined with other aggregates — bitmaps OR
    associatively, so per-shard/per-day bitmap relations can be stored
    and re-merged incrementally (the exact-distinct rollup pattern at
    100 TB: materialize per-partition bitmaps once, answer any
    date-range distinct by OR-ing a few thousand bitmap rows).
    """,
)
def agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct customers per priority via mergeable bitmaps."""
    orders = table(spark, sf_dir, "orders")
    per_bucket = orders.groupBy(
        "o_orderpriority",
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
    ).agg(
        F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias(
            "bm"
        )
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).cast("long").alias("n_cust")
    )


_CORR_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


@register(
    "agg_corr_matrix",
    oracle="""
    SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
           round(corr(l_quantity, l_extendedprice), 6) AS r FROM lineitem
    UNION ALL SELECT 'l_quantity', 'l_discount',
           round(corr(l_quantity, l_discount), 6) FROM lineitem
    UNION ALL SELECT 'l_quantity', 'l_tax',
           round(corr(l_quantity, l_tax), 6) FROM lineitem
    UNION ALL SELECT 'l_extendedprice', 'l_discount',
           round(corr(l_extendedprice, l_discount), 6) FROM lineitem
    UNION ALL SELECT 'l_extendedprice', 'l_tax',
           round(corr(l_extendedprice, l_tax), 6) FROM lineitem
    UNION ALL SELECT 'l_discount', 'l_tax',
           round(corr(l_discount, l_tax), 6) FROM lineitem
    """,
    survey="B9 extension (pairwise Pearson correlation matrix — the "
    "feature-profiling aggregate, all pairs in ONE corpus pass)",
    scale="""
    All C(4,2)=6 pairwise correlations compute in a SINGLE aggregation
    over ONE scan: corr is algebraic (sums of x, y, xy, x2, y2, n), so
    the 6 aggregates share the scan and partial-aggregate map-side
    together — the shuffle carries one 6-aggregate state row per
    partition, and the long-form unpivot (stack) happens on the 1-row
    result. The naive form — one query per pair — would scan the corpus
    6 times; at p columns and 100 TB the one-pass property is the
    difference between O(p^2) scans and exactly one. The oracle spells
    the same matrix as a UNION of scalar aggregates because DuckDB
    dedups the shared scan internally; the Spark plan is pinned
    single-scan by construction.
    """,
)
def agg_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlations of the lineitem numeric columns, one pass."""
    li = table(spark, sf_dir, "lineitem")
    pairs = [
        (x, y)
        for i, x in enumerate(_CORR_COLS)
        for y in _CORR_COLS[i + 1 :]
    ]
    wide = li.agg(
        *[
            pround(safe_corr(x, y), 6).alias(f"{x}__{y}")
            for x, y in pairs
        ]
    )
    stack = ", ".join(f"'{x}', '{y}', {x}__{y}" for x, y in pairs)
    return wide.select(
        F.expr(
            f"stack({len(pairs)}, {stack}) AS (col_x, col_y, r)"
        )
    )


_DP_M = 4503599627370496  # 2^52: PRF output domain for the uniform draw
_DP_EPS = 1.0  # epsilon; counts have sensitivity 1, so b = 1/eps
_DP_RELEASE = "dp-release-1"  # release id — the PRF key


@register(
    "agg_dp_release",
    oracle=f"""
    WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
    u AS (SELECT event_type, n,
                 ((('0x' || substr(md5('{_DP_RELEASE}:' || event_type),
                                   1, 15))::BIGINT % {_DP_M}) + 0.5)
                 / {_DP_M}.0 AS u
          FROM g),
    z AS (SELECT event_type, n,
                 -(1.0 / {_DP_EPS}) * sign(u - 0.5)
                     * ln(1 - 2 * abs(u - 0.5)) AS noise
          FROM u)
    SELECT event_type,
           CAST(n AS BIGINT) AS true_n,
           round(n + noise, 4) AS released_n,
           round(noise, 4) + 0.0 AS noise
    FROM z
    """,
    survey="B9 extension (differential-privacy count release: Laplace "
    "mechanism with PRF-seeded noise — the deterministic per-release "
    "noise derivation production DP systems use, making the release "
    "reproducible and engine-portable)",
    scale="""
    The Laplace mechanism for counting queries (sensitivity 1, b=1/eps)
    with the noise drawn from a keyed PRF over (release_id, group) via
    inverse-CDF — exactly how production DP releases derive per-cell
    noise from a per-release seed so re-runs are reproducible and
    auditable. The whole mechanism is a codegen projection OVER the
    aggregated relation: at 100 TB the counts partial-aggregate
    map-side like any groupBy and the noise costs |groups| hash+log
    evaluations, nothing at data scale. Post-processing invariance
    means downstream rounding/clamping stays DP. ``true_n`` is emitted
    here ONLY as the oracle witness — the production release artifact
    is (group, released_n); the md5-domain uniform is offset by +0.5
    inside a 2^52 grid so u is strictly inside (0,1) and ln never sees
    0. Both engines evaluate the identical double pipeline (libm log on
    identical inputs); the declared values round at 4 decimals per the
    float discipline.
    """,
)
def agg_dp_release(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts released via PRF-seeded Laplace noise."""
    ev = table(spark, sf_dir, "events")
    g = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    u = (
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{_DP_RELEASE}:"), F.col("event_type"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _DP_M
        ).cast("double")
        + 0.5
    ) / float(_DP_M)
    noise = (
        F.lit(-1.0 / _DP_EPS)
        * F.signum(u - 0.5)
        * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(u - 0.5))
    )
    return g.select(
        "event_type",
        F.col("n").cast("long").alias("true_n"),
        pround(F.col("n") + noise, 4).alias("released_n"),
        # pround0, not pround: Laplace noise is sign-symmetric with max
        # density at 0, so a draw just below u=0.5 rounds to -0.0 under
        # a sign-preserving round -- the informative-float class the
        # registry's negative-zero gate bans (r11 aggregates review #2)
        pround0(noise, 4).alias("noise"),
    )


@register(
    "feature_standardize",
    oracle="""
    WITH s AS (SELECT c_mktsegment, avg(c_acctbal) AS mu,
                      stddev_samp(c_acctbal) AS sd, count(*) AS n
               FROM customer GROUP BY c_mktsegment),
    z AS (SELECT c.c_mktsegment, (c.c_acctbal - s.mu) / s.sd AS z
          FROM customer c JOIN s ON c.c_mktsegment = s.c_mktsegment)
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n,
           abs(avg(z)) < 1e-9 AS mean_zero_ok,
           abs(var_samp(z) - 1) < 1e-9 AS var_one_ok,
           round(min(z), 4) AS min_z,
           round(max(z), 4) AS max_z
    FROM z GROUP BY c_mktsegment
    """,
    survey="B9 extension (per-group z-score standardization — the ML "
    "feature-scaling pass, stats via ONE aggregate + broadcast join "
    "back, no window sort; post-transform moments witnessed in-plan as "
    "sign-safe booleans: |mean|<1e-9, |var-1|<1e-9)",
    scale="""
    Standardization needs each row joined with its group's (mu, sd). The
    window formulation (avg OVER (PARTITION BY g)) forces a full sort
    shuffle of the fact table; this plan instead aggregates the
    |groups|-row stats relation (partial-aggregated, one shuffle of
    state rows) and BROADCASTS it back onto the scan — the fact table is
    never re-partitioned, and the transform is a codegen projection.
    At 100 TB that is the difference between a petabyte sort and a
    kilobyte broadcast. The declared output re-aggregates the
    standardized column into per-group moments — mean 0 and variance 1
    by construction. Because the true values ARE 0/1, avg(z) is a
    catastrophic-cancellation residual (~1e-13) whose SIGN depends on
    partition summation order — round(·,6) of it flips between 0.0 and
    -0.0 across runs/engines (the r8 red row). So the moments are
    emitted as sign-safe boolean witnesses (|avg(z)| < 1e-9,
    |var_samp(z)-1| < 1e-9) in BOTH engines; any drift in either
    engine's mu/sd/transform still breaks them. min_z/max_z stay as the
    informative floats: the group's outlier envelope (the winsorization
    knob's input).
    """,
)
def feature_standardize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score customer balances per segment; verify the moments."""
    cust = table(spark, sf_dir, "customer")
    stats = cust.groupBy("c_mktsegment").agg(
        F.avg("c_acctbal").alias("mu"),
        F.stddev_samp("c_acctbal").alias("sd"),
    )
    z = (
        cust.join(F.broadcast(stats), "c_mktsegment")
        .select(
            "c_mktsegment",
            ((F.col("c_acctbal") - F.col("mu")) / F.col("sd")).alias("z"),
        )
    )
    return z.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        (F.abs(F.avg("z")) < 1e-9).alias("mean_zero_ok"),
        (F.abs(F.var_samp("z") - 1) < 1e-9).alias("var_one_ok"),
        pround(F.min("z"), 4).alias("min_z"),
        pround(F.max("z"), 4).alias("max_z"),
    )


@register(
    "agg_ttest",
    oracle="""
    WITH s AS (SELECT
        count(value) FILTER (WHERE event_type = 'purchase') AS n_a,
        avg(value) FILTER (WHERE event_type = 'purchase') AS m_a,
        var_samp(value) FILTER (WHERE event_type = 'purchase') AS v_a,
        count(value) FILTER (WHERE event_type = 'view') AS n_b,
        avg(value) FILTER (WHERE event_type = 'view') AS m_b,
        var_samp(value) FILTER (WHERE event_type = 'view') AS v_b
        FROM events)
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           round(m_a, 4) AS mean_a, round(m_b, 4) AS mean_b,
           round((m_a - m_b) / sqrt(v_a / n_a + v_b / n_b), 4) AS t_stat,
           round(pow(v_a / n_a + v_b / n_b, 2)
                 / (pow(v_a / n_a, 2) / (n_a - 1)
                    + pow(v_b / n_b, 2) / (n_b - 1)), 2) AS df
    FROM s
    """,
    survey="B9 extension (Welch's two-sample t-test — the continuous-"
    "outcome complement of events_abtest's two-proportion z-test E61; "
    "unequal variances, Welch-Satterthwaite df)",
    scale="""
    The experimentation primitive for continuous metrics: both arms'
    (n, mean, var) come from ONE conditional aggregation pass (count/
    avg/var_samp FILTER per arm — algebraic, partial-aggregated
    map-side, a single state row on the wire), and the t statistic plus
    Welch-Satterthwaite degrees of freedom are a codegen projection over
    that one row. At 100 TB an A/B readout costs one scan regardless of
    how many metrics/arms are added (more FILTER aggregates, same
    shuffle). Welch's form is deliberate: it never assumes equal
    variances, so skewed treatment groups don't silently bias the test
    the way pooled-variance Student's t does. n_a/n_b count NON-NULL
    values on both sides (count(value) FILTER, matching the builder's
    count(when(...))) — the statistically correct n for a mean/variance
    that skip NULLs, and engine-consistent if value is ever NULL.
    """,
)
def agg_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t for purchase-vs-view event values, one pass."""
    ev = table(spark, sf_dir, "events")

    def arm(t: str, fn):
        return fn(F.when(F.col("event_type") == t, F.col("value")))

    s = ev.agg(
        F.count(arm("purchase", lambda c: c)).alias("n_a"),
        arm("purchase", F.avg).alias("m_a"),
        arm("purchase", F.var_samp).alias("v_a"),
        F.count(arm("view", lambda c: c)).alias("n_b"),
        arm("view", F.avg).alias("m_b"),
        arm("view", F.var_samp).alias("v_b"),
    )
    se2 = F.col("v_a") / F.col("n_a") + F.col("v_b") / F.col("n_b")
    # try_divide, not /: a zero-variance (or singleton) arm makes the
    # denominators 0, where ANSI / throws but DuckDB x/0.0 yields NULL
    # (probed) -- the safe_corr degenerate class
    df = F.try_divide(
        F.pow(se2, 2),
        F.try_divide(
            F.pow(F.col("v_a") / F.col("n_a"), 2), F.col("n_a") - 1
        )
        + F.try_divide(
            F.pow(F.col("v_b") / F.col("n_b"), 2), F.col("n_b") - 1
        ),
    )
    return s.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        pround("m_a", 4).alias("mean_a"),
        pround("m_b", 4).alias("mean_b"),
        pround(
            F.try_divide(F.col("m_a") - F.col("m_b"), F.sqrt(se2)), 4
        ).alias("t_stat"),
        pround(df, 2).alias("df"),
    )


@register(
    "agg_chi2",
    oracle="""
    WITH obs AS (SELECT event_type,
                        CAST(epoch_ns(ts) // 86400000000000 % 7 AS BIGINT)
                            AS dow,
                        count(*) AS o
                 FROM events GROUP BY 1, 2),
    margins AS (SELECT event_type, dow, o,
                       sum(o) OVER (PARTITION BY event_type) AS row_n,
                       sum(o) OVER (PARTITION BY dow) AS col_n,
                       sum(o) OVER () AS n
                FROM obs)
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n,
           round(sum(pow(o - row_n * col_n / CAST(n AS DOUBLE), 2)
                     / (row_n * col_n / CAST(n AS DOUBLE))), 4) AS chi2,
           CAST((count(DISTINCT event_type) - 1)
                * (count(DISTINCT dow) - 1) AS BIGINT) AS df
    FROM margins
    """,
    survey="B9 extension (chi-square independence test for two "
    "categoricals — completes the declared test-statistic trio: "
    "two-proportion z E61, Welch t E100, chi-square here)",
    scale="""
    Independence of event type and day-of-week from the CONTINGENCY
    TABLE, never the raw rows: one partial-aggregated groupBy produces
    the |types| x |days| cell counts, margins come from windows OVER
    that tiny relation, and the chi-square sum is a projection —
    adding a 100 TB of events changes only the first groupBy's scan.
    The day-of-week bucket is integer epoch-day arithmetic (mod 7),
    identical in both engines; expected counts stay in double only for
    the final ratio. The statistic's magnitude on synthetic uniform
    fixtures is small by construction — the point is the plan shape
    and the cross-engine arithmetic, both oracle-pinned.
    """,
)
def agg_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of event_type x day-of-week independence."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type",
        (F.expr("ts_ns div 86400000000000") % 7).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("o"))
    m = (
        obs.withColumn(
            "row_n", F.sum("o").over(Window.partitionBy("event_type"))
        )
        .withColumn("col_n", F.sum("o").over(Window.partitionBy("dow")))
        .withColumn(
            "n", F.sum("o").over(Window.partitionBy())
        )
    )
    exp = F.col("row_n") * F.col("col_n") / F.col("n").cast("double")
    return m.agg(
        F.count(F.lit(1)).alias("n_cells"),
        F.max("n").alias("n"),
        pround(F.sum(F.pow(F.col("o") - exp, 2) / exp), 4).alias("chi2"),
        (
            (F.count_distinct("event_type") - 1)
            * (F.count_distinct("dow") - 1)
        ).alias("df"),
    )


# --- E109: Poisson bootstrap confidence intervals, one pass ---------------

import math as _math

_BOOT_P = 2147483647  #: the package-wide Mersenne prime (dedup.py family)
_BOOT_R = 32  #: bootstrap replicates

#: integer thresholds t_k = floor(cdf_k * P) for the cumulative
#: Poisson(1) CDF at k = 0..5, so the inverse-CDF draw is an ALL-INTEGER
#: comparison chain (x < t_k) — no float literal has to round-trip
#: through two SQL parsers. Built with deterministic left-to-right float
#: ops; P(w > 5) ~ 6e-4 collapses into the ELSE arm.
_POIS_T: list[int] = []
_cum = 0.0
_term = _math.exp(-1.0)
for _k in range(6):
    if _k > 0:
        _term = _term / _k
    _cum = _cum + _term
    _POIS_T.append(int(_cum * _BOOT_P))


def _pois_case(x: str) -> str:
    """Inverse-CDF Poisson(1) draw from an integer-uniform expression."""
    branches = " ".join(
        f"WHEN {x} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {branches} ELSE 6 END)"


def _boot_x(r) -> str:
    """Replicate-r integer uniform in [0, P) from the shared row hash.

    ONE md5 per row (column ``hn``), then the affine family
    h_r(n) = (a_r * n + b_r) mod P — the same splittable-PRF discipline
    the MinHash family documents in llm/dedup.py (16 salted md5 calls
    replaced by a hash family over one md5): the first version of this
    query paid 32 md5 evaluations per row and the sf10 synthetic tier
    billed it at 47 s; this form is all int64 muls. ``r`` may be a
    Python int (Spark side: constant-folds per replicate column) or a
    SQL column name (oracle side). a_r = ((2r+1)*2654435761) mod P is
    nonzero and distinct per replicate — note it is NOT odd after the
    mod (r=1 gives 1520856342); oddness is irrelevant modulo the
    Mersenne prime P, but WOULD be required if this family were ever
    ported to a mod-2^k domain (r11 review: the comment previously
    claimed oddness). Products stay under 2^62, exact in both engines.
    """
    a = f"(((2 * {r} + 1) * 2654435761) % {_BOOT_P})"
    b = f"(({r} * 40503 + 12345) % {_BOOT_P})"
    return f"((({a} * hn + {b}) % {_BOOT_P}))"


_BOOT_HN_SPARK = (
    "(cast(conv(substring(md5(cast(event_id as string)),1,15),16,10)"
    f" as bigint) % {_BOOT_P})"
)
_BOOT_HN_DUCK = (
    f"((('0x' || substr(md5(event_id || ''),1,15))::BIGINT % {_BOOT_P}))"
)


@register(
    "agg_bootstrap_ci",
    oracle=f"""
    WITH base AS (SELECT event_type,
                         CAST(floor(value * 100) AS BIGINT) AS vi,
                         {_BOOT_HN_DUCK} AS hn
                  FROM events),
    rw AS (SELECT event_type, vi, r,
                  {_pois_case(_boot_x("r"))} AS w
           FROM base, range({_BOOT_R}) t(r)),
    rmeans AS (SELECT event_type,
                      CAST(sum(w * vi) AS BIGINT) AS s,
                      CAST(sum(w) AS BIGINT) AS c
               FROM rw GROUP BY event_type, r),
    lst AS (SELECT event_type,
                   list_sort(list(s / (100.0 * c))) AS means
            FROM rmeans GROUP BY event_type),
    pt AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(vi) AS BIGINT) AS sv
           FROM base GROUP BY event_type)
    SELECT p.event_type, p.n,
           p.sv / (100.0 * p.n) AS point_mean,
           l.means[2] AS ci_lo,
           l.means[{_BOOT_R - 1}] AS ci_hi
    FROM pt p JOIN lst l USING (event_type)
    """,
    survey="E109 (Poisson-bootstrap confidence intervals — distributed "
    "uncertainty for pipeline metrics in ONE aggregation pass)",
    scale="""
    The classic big-data bootstrap: resampling-with-replacement does
    not distribute, but per-row Poisson(1) weights do (Chamandy et al.,
    'Estimating Uncertainty for Massive Data Streams', Google 2012) —
    each replicate reweights rows independently, so all 32 replicates
    ride ONE partial-aggregated groupBy: 64 integer sum columns, no
    explode, no second scan, no shuffle beyond the one the plain mean
    already needs. Per-row cost is ONE md5 + 32 affine int hashes (the
    dedup-family splittable-PRF discipline — the naive 32-md5 form
    measured 47 s at the sf10 synthetic tier / 7.4 s at sf0.1; this
    form 2.9 s / 1.4 s, a 16x cut). All replicate math is int64-exact
    (value floored to cents, integer CDF thresholds, weights 0..6), so
    builder and oracle agree bit-for-bit before the single final
    division. At 100 TB this is THE way to put error bars on a corpus
    metric; percentile indices 2/31 of 32 sorted replicate means avoid
    cross-engine quantile interpolation.
    """,
)
def agg_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~95% CI for mean(value) per event_type via Poisson bootstrap."""
    ev = table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.expr("cast(floor(value * 100) as bigint)").alias("vi"),
        F.expr(_BOOT_HN_SPARK).alias("hn"),
    )
    reps = []
    for r in range(_BOOT_R):
        w = _pois_case(_boot_x(r))
        reps.append(F.expr(f"sum({w} * vi)").alias(f"s{r}"))
        reps.append(F.expr(f"sum({w})").alias(f"c{r}"))
    agg = base.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.expr("sum(vi)").alias("sv"), *reps
    )
    # 100.0 in Spark SQL text is a DECIMAL literal (DuckDB's is DOUBLE);
    # the D suffix keeps the division in double like the oracle's
    means = F.array_sort(
        F.array(
            *[F.expr(f"s{r} / (100.0D * c{r})") for r in range(_BOOT_R)]
        )
    )
    return agg.select(
        "event_type",
        "n",
        (F.col("sv") / (100.0 * F.col("n"))).alias("point_mean"),
        F.element_at(means, 2).alias("ci_lo"),
        F.element_at(means, _BOOT_R - 1).alias("ci_hi"),
    )
