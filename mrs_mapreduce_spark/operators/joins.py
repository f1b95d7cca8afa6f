"""Join operators.

Capability parity: SURVEY.md §2.B B3–B8. Mrs has no native join; users build
reduce-side joins (tag both inputs with the join key, merge per key in one
reduce — ``mrs/tasks.py::ReduceTask``) and map-side joins (small table
loaded in every map task). Here joins are declarative: Catalyst picks
broadcast-hash / shuffled-hash / sort-merge, and AQE re-picks at runtime
from observed sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import pround, rev4, rev4_sql
from ..registry import register


@register(
    "join_inner",
    oracle=f"""
    SELECT o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_odate,
           round({rev4_sql('l.')} / 10000.0, 2) AS rev
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
    GROUP BY o.o_orderkey, o.o_orderdate
    ORDER BY rev DESC, o.o_orderkey
    LIMIT 10
    """,
    survey="B3 (TPC-H Q3 shape)",
    scale="""
    Reduce-side join parity, planned: customer (filtered) broadcasts under
    AQE's threshold; orders⋈lineitem sort-merge-joins on o_orderkey with
    both sides hash-partitioned once. Top-10 runs as TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort.
    """,
)
def join_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inner equi-join chain + aggregate + deterministic top-10."""
    cust = table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = table(spark, sf_dir, "orders")
    li = table(spark, sf_dir, "lineitem")
    return (
        orders.join(F.broadcast(cust), cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        # exact int64 10^-4 units (the money-sum discipline): the
        # top-10 SELECTION orders by this value, so a boundary flip
        # would change the returned row set, not just a cell
        .agg(pround(rev4() / 10000.0, 2).alias("rev"))
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_odate"),
            "rev",
        )
        .orderBy(F.desc("rev"), "o_orderkey")
        .limit(10)
    )


@register(
    "join_broadcast",
    oracle="""
    SELECT r.r_name,
           count(*) AS n_cust,
           round(sum(c.c_acctbal), 2) AS bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    survey="B4",
    scale="""
    Map-side join parity: nation (25 rows) and region (5 rows) are
    broadcast() explicitly — the fact side streams through with ZERO
    shuffle before aggregation. At 100 TB this is the only sane plan for
    dimension joins; explicit broadcast() documents intent even where AQE
    would discover it.
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast (map-side) dimension joins."""
    cust = table(spark, sf_dir, "customer")
    nation = table(spark, sf_dir, "nation")
    region = table(spark, sf_dir, "region")
    return (
        cust.join(
            F.broadcast(nation), cust.c_nationkey == nation.n_nationkey
        )
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            pround(F.sum("c_acctbal"), 2).alias("bal"),
        )
    )


@register(
    "join_left",
    oracle="""
    SELECT c.c_custkey,
           count(o.o_orderkey) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM customer c
    LEFT JOIN orders o ON c.c_custkey = o.o_custkey
    GROUP BY c.c_custkey
    """,
    survey="B5",
    scale="""
    Left outer preserves customers with no orders (NULL-extended). Same
    shuffle shape as inner; AQE skew-join splits oversized custkey
    partitions if order counts are skewed.
    """,
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join; unmatched left rows survive with NULL aggregates."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_full",
    oracle="""
    SELECT COALESCE(cn.nk, sn.nk) AS nationkey,
           cn.n_cust,
           sn.n_supp
    FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
          FROM customer WHERE c_acctbal > 5000 GROUP BY c_nationkey) cn
    FULL JOIN (SELECT s_nationkey AS nk, count(*) AS n_supp
               FROM supplier WHERE s_acctbal > 5000 GROUP BY s_nationkey) sn
      ON cn.nk = sn.nk
    """,
    survey="B5",
    scale="""
    Full outer join of two pre-aggregated sides: aggregate BEFORE joining
    so the join input is |distinct keys|, not |rows| — the classic
    shuffle-minimization rewrite. Full outer forces sort-merge (no
    broadcast possible on either side preserving both).
    """,
)
def join_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on both sides."""
    cn = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .groupBy(F.col("c_nationkey").alias("c_nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    sn = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("s_nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return cn.join(sn, cn.c_nk == sn.s_nk, "full").select(
        F.coalesce("c_nk", "s_nk").alias("nationkey"), "n_cust", "n_supp"
    )


@register(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderstatus = 'F')
    """,
    survey="B6",
    scale="""
    left_semi ships only the probe side's keys and stops at first match —
    strictly less work than inner+distinct. Broadcast-able when the
    filtered key set is small.
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Existence join (customers having at least one finished order)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
    """,
    survey="B6",
    scale="""
    Anti join = NOT EXISTS; same physical shape as semi, with the
    build-side predicate pushed below the join. The high-value filter is
    fixture-calibrated non-degeneracy (the original 'no orders at all'
    matched ZERO customers at every tier — a vacuous hash-of-nothing
    witness, caught by the zero-row audit; smoke-guarded now).
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (customers with no high-value order)."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 300000
    )
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@register(
    "join_theta",
    oracle="""
    SELECT a.s_nationkey AS nk,
           count(*) AS n_pairs,
           round(sum(a.s_acctbal - b.s_acctbal), 2) AS gap_sum
    FROM supplier a
    JOIN supplier b
      ON a.s_nationkey = b.s_nationkey
     AND a.s_acctbal > b.s_acctbal
    GROUP BY a.s_nationkey
    """,
    survey="B7",
    scale="""
    Theta join with an equi component: Catalyst joins on the equi key and
    applies the inequality as a post-join residual — NOT a cartesian
    product. Pure-theta (no equi key) degrades to nested-loop; always
    surface an equi/blocking key at scale (here: nationkey).
    """,
)
def join_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inequality self-join (dominance pairs within a nation)."""
    a = table(spark, sf_dir, "supplier").alias("a")
    b = table(spark, sf_dir, "supplier").alias("b")
    return (
        a.join(
            b,
            (F.col("a.s_nationkey") == F.col("b.s_nationkey"))
            & (F.col("a.s_acctbal") > F.col("b.s_acctbal")),
        )
        .groupBy(F.col("a.s_nationkey").alias("nk"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            pround(
                F.sum(F.col("a.s_acctbal") - F.col("b.s_acctbal")), 2
            ).alias("gap_sum"),
        )
    )


@register(
    "join_range",
    oracle="""
    SELECT b.band,
           count(*) AS cnt,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o
    JOIN (VALUES ('low', 0.0, 100000.0),
                 ('mid', 100000.0, 250000.0),
                 ('high', 250000.0, 1e12)) AS b(band, lo, hi)
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY b.band
    """,
    survey="B8 (range/interval join)",
    scale="""
    Interval join against a tiny banding dimension: explicit broadcast()
    makes it a BroadcastNestedLoopJoin where every probe row scans 3 bands
    — O(n·bands), embarrassingly parallel, no shuffle. For large interval
    tables, bucket both sides by interval grid first (turns it into an
    equi-join on bucket + residual).
    """,
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval-containment) join onto a banding dimension."""
    orders = table(spark, sf_dir, "orders")
    bands = spark.createDataFrame(
        [("low", 0.0, 100000.0), ("mid", 100000.0, 250000.0),
         ("high", 250000.0, 1e12)],
        "band string, lo double, hi double",
    )
    return (
        orders.join(
            F.broadcast(bands),
            (orders.o_totalprice >= bands.lo) & (orders.o_totalprice < bands.hi),
        )
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_asof",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           (SELECT max(epoch_ns(s.ts) // 1000) FROM events s
            WHERE s.user_id = p.user_id
              AND s.event_type = 'signup'
              AND epoch_ns(s.ts) <= epoch_ns(p.ts)) AS asof_signup_us
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
    survey="B8 (as-of join)",
    scale="""
    As-of join via the union+window pattern: ONE shuffle on user_id, one
    within-partition sort, then a running max over a RANGE frame carries
    the most recent signup timestamp forward — O(n log n) per partition
    vs the naive per-row backward scan. This is the scalable as-of plan;
    a correlated subquery (the oracle) would be quadratic.
    """,
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (most-recent-prior-event) join between two event streams."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    # RANGE frame + max, not a rows frame + last: the oracle's
    # correlated max(us) WHERE ts <= p.ts includes a same-microsecond
    # signup whatever its event_id, while a rows frame ordered by
    # (ts_ns, event_id) excluded same-ts signups sorting after the
    # purchase (the tie class the forward/nearest siblings already
    # handle). max == most-recent here
    # because the carried value IS the timestamp (monotone in ts_ns);
    # a general payload would need max_by(struct(ts, payload)).
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = ev.withColumn(
        "asof_signup_us",
        # microseconds, not nanos: DuckDB truncates parquet TIMESTAMP_NS
        # to its native microsecond timestamp, so the oracle can only see us
        F.max(
            F.when(
                F.col("event_type") == "signup",
                F.expr("ts_ns div 1000"),
            )
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "asof_signup_us"
    )


@register(
    "join_right",
    oracle="""
    SELECT c.c_custkey,
           o.o_orderkey,
           round(o.o_totalprice, 2) AS price
    FROM orders o
    RIGHT JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_acctbal > 9000
    """,
    survey="B5",
    scale="""
    Right outer is left outer with sides swapped; Catalyst normalizes to
    whichever side can build/stream best. Declared separately so the API
    surface is complete.
    """,
)
def join_right(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving rich customers with no orders."""
    cust = table(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    orders = table(spark, sf_dir, "orders")
    return orders.join(
        cust, cust.c_custkey == orders.o_custkey, "right"
    ).select(
        "c_custkey", "o_orderkey", pround("o_totalprice", 2).alias("price")
    )


def salted_join(
    big: DataFrame, small: DataFrame, key: str, n_salts: int = 8
) -> DataFrame:
    """Skew-buster inner join: salt the big side, replicate the small side.

    For a hot key whose partition would straggle, append a deterministic
    salt (hash of the full row mod n_salts) to the big side's key and
    inner-join against the small side replicated n_salts times. Each big
    row meets exactly one replica, so the result is row-identical to the
    plain inner join (tested); cost is n_salts x the small side. AQE's
    skew-join handles moderate skew automatically; salting is for the
    pathological single-key case (boilerplate documents, null keys,
    celebrity users).
    """
    salt = F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_salted = big.withColumn("_salt", salt)
    salts = big.sparkSession.range(n_salts).select(
        F.col("id").cast("int").alias("_salt")
    )
    small_rep = small.crossJoin(F.broadcast(salts))
    joined = big_salted.join(small_rep, [key, "_salt"])
    return joined.drop("_salt")


@register(
    "join_salted",
    oracle="""
    SELECT s.s_nationkey, count(*) AS n_items,
           round(CAST(sum(l.l_quantity) AS DOUBLE), 2) AS qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_nationkey
    """,
    survey="B3 + §4 skew handling (salted join)",
    scale="""
    Fact side gets a deterministic row-hash salt mod 8; the supplier dim
    is replicated once per salt via a broadcast crossJoin, and the join
    key becomes (suppkey, salt) — a pathological hot supplier's rows now
    land on 8 reducers instead of one straggler. The salt never reaches
    the result (dropped before the rollup), so output is row-identical
    to the plain join at any salt factor. AQE's skew-join split handles
    moderate skew on its own; salting is the explicit fix for the
    single-celebrity-key case where one partition exceeds executor
    memory. Cost: n_salts x the (small) dim, nothing on the fact side.
    """,
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ supplier through the skew-salted join, then rollup."""
    li = table(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    supp = table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_nationkey"
    )
    return (
        salted_join(li, supp, "l_suppkey", n_salts=8)
        .groupBy("s_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            pround(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


@register(
    "join_asof_forward",
    oracle="""
    SELECT p.event_id,
           p.user_id,
           (SELECT min(epoch_ns(s.ts) // 1000) FROM events s
            WHERE s.user_id = p.user_id
              AND s.event_type = 'click'
              AND (epoch_ns(s.ts) > epoch_ns(p.ts)
                   OR (epoch_ns(s.ts) = epoch_ns(p.ts)
                       AND s.event_id > p.event_id))) AS next_click_us
    FROM events p
    WHERE p.event_type = 'purchase'
    """,
    survey="B8 (as-of join, forward direction)",
    scale="""
    The forward twin of join_asof: first(ignorenulls) over a
    currentRow->unboundedFollowing frame carries the NEXT matching event
    backward — same single user_id shuffle + one sort, direction is just
    the frame. The (ts_ns, event_id) composite order makes simultaneous
    events deterministic, and the oracle spells out the identical
    composite comparison so both engines break ties the same way.
    Forward as-of is the attribution/"time-to-next-action" primitive.
    """,
)
def join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Next same-user click at-or-after each purchase (forward as-of)."""
    from pyspark.sql.window import Window

    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_ns", "event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    carried = ev.withColumn(
        "next_click_us",
        F.first(
            F.when(
                F.col("event_type") == "click", F.expr("ts_ns div 1000")
            ),
            ignorenulls=True,
        ).over(w),
    )
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "next_click_us"
    )


@register(
    "join_pit_scd2",
    oracle="""
    WITH dim AS (
        SELECT c_custkey, DATE '1995-01-01' AS valid_from,
               round(c_acctbal, 2) AS bal
        FROM customer
        UNION ALL
        SELECT c_custkey, DATE '1998-06-01' AS valid_from,
               round(c_acctbal * 1.1, 2) AS bal
        FROM customer),
    pit AS (
        SELECT o.o_orderkey, d.valid_from, d.bal,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY d.valid_from DESC) AS rn
        FROM orders o
        JOIN dim d
          ON d.c_custkey = o.o_custkey
         AND d.valid_from <= CAST(o.o_orderdate AS DATE))
    SELECT o_orderkey, valid_from, bal
    FROM pit WHERE rn = 1
    """,
    survey="B8 extension (point-in-time / SCD2 dimension join)",
    scale="""
    The feature-store/warehouse PIT join: facts must see the dimension
    version valid AT event time, never today's row (training-serving
    leakage in one join). Versions are synthesized deterministically
    here (2 per customer, valid_from dates INSIDE the fixture's
    1995-2001 o_orderdate range so both the v1-only and v1->v2
    version-selection paths are exercised); the plan is the real one —
    equi-join on the key (the planner broadcasts the versioned dim
    while it fits, shuffle join beyond — no hard hint), range-predicate
    on valid_from, collapse to the LATEST qualifying version per fact
    with a composite-struct max
    (monoid partial agg, no per-fact sort). At 100 TB with many
    versions per key, pre-compute valid_to with one lag window over
    the dim and the probe becomes a tight [from, to) interval join —
    one candidate per fact, no aggregation at all.
    """,
)
def join_pit_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders joined to the customer-balance version valid at order time."""
    cust = table(spark, sf_dir, "customer")
    orders = table(spark, sf_dir, "orders")
    v1 = cust.select(
        "c_custkey",
        F.lit("1995-01-01").cast("date").alias("valid_from"),
        pround("c_acctbal", 2).alias("bal"),
    )
    v2 = cust.select(
        "c_custkey",
        F.lit("1998-06-01").cast("date").alias("valid_from"),
        pround(F.col("c_acctbal") * 1.1, 2).alias("bal"),
    )
    dim = v1.unionByName(v2)
    return (
        orders.select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("od"),
        )
        # no hard hint: the versioned dim scales with customer (2 rows
        # per key here, many in production). The custkey equality gives
        # the planner a hash/sort-merge key with valid_from as a post-
        # join filter, so AQE broadcasts while the dim fits and flips to
        # the custkey shuffle join beyond — a hint would pin broadcast
        # at any size.
        .join(
            dim,
            (F.col("c_custkey") == F.col("o_custkey"))
            & (F.col("valid_from") <= F.col("od")),
        )
        .groupBy("o_orderkey")
        .agg(F.max(F.struct("valid_from", "bal")).alias("m"))
        .select(
            "o_orderkey",
            F.col("m.valid_from").alias("valid_from"),
            F.col("m.bal").alias("bal"),
        )
    )


def _nearest_signup(ev: DataFrame):
    """(carried, p_us, back_gap, fwd_gap, pick_back): nearest-signup
    candidates for every event row.

    THE one definition of the nearest-candidate computation —
    join_asof_nearest declares it and join_asof_tolerance gates it with
    a tolerance; with two copies a tie-discipline fix to one could
    silently miss the other. Both oracles spell the identical composite
    (ts, event_id) comparison this windowing implies.
    """
    from pyspark.sql.window import Window

    base = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    w_back = base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_fwd = base.rowsBetween(1, Window.unboundedFollowing)
    s_us = F.when(
        F.col("event_type") == "signup", F.expr("ts_ns div 1000")
    )
    carried = ev.withColumn(
        "back_us", F.last(s_us, ignorenulls=True).over(w_back)
    ).withColumn("fwd_us", F.first(s_us, ignorenulls=True).over(w_fwd))
    p_us = F.expr("ts_ns div 1000")
    back_gap = p_us - F.col("back_us")
    fwd_gap = F.col("fwd_us") - p_us
    pick_back = F.col("fwd_us").isNull() | (
        F.col("back_us").isNotNull() & (back_gap <= fwd_gap)
    )
    return carried, p_us, back_gap, fwd_gap, pick_back


@register(
    "join_asof_nearest",
    oracle="""
    WITH p AS (SELECT event_id, user_id,
                      epoch_ns(ts) AS p_ns, epoch_ns(ts) // 1000 AS p_us
               FROM events WHERE event_type = 'purchase'),
    b AS (SELECT p.event_id,
                 (SELECT max(epoch_ns(s.ts) // 1000) FROM events s
                  WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                    AND epoch_ns(s.ts) <= p.p_ns) AS back_us
          FROM p),
    f AS (SELECT p.event_id,
                 (SELECT min(epoch_ns(s.ts) // 1000) FROM events s
                  WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                    AND epoch_ns(s.ts) > p.p_ns) AS fwd_us
          FROM p)
    SELECT p.event_id, p.user_id,
           CASE WHEN f.fwd_us IS NULL THEN b.back_us
                WHEN b.back_us IS NULL THEN f.fwd_us
                WHEN p.p_us - b.back_us <= f.fwd_us - p.p_us
                    THEN b.back_us
                ELSE f.fwd_us END AS nearest_signup_us,
           CASE WHEN f.fwd_us IS NULL THEN p.p_us - b.back_us
                WHEN b.back_us IS NULL THEN p.p_us - f.fwd_us
                WHEN p.p_us - b.back_us <= f.fwd_us - p.p_us
                    THEN p.p_us - b.back_us
                ELSE p.p_us - f.fwd_us END AS gap_us
    FROM p JOIN b USING (event_id) JOIN f USING (event_id)
    """,
    survey="B8 (as-of join, NEAREST in either direction — completes the "
    "backward/forward family)",
    scale="""
    Nearest-event as-of: both direction candidates — last(ignorenulls)
    over the preceding frame and first(ignorenulls) over the
    strictly-following frame — share the same (user_id, ts)
    partitioning/ordering, so the relation shuffles and sorts exactly
    ONCE (Spark plans one Window operator per frame, but the second
    reuses the first's ordering: one Exchange, one Sort, plan-asserted).
    The argmin-by-|gap| is then a
    codegen CASE, ties broken toward the earlier (backward) candidate
    for determinism. The naive formulation is two correlated subqueries
    per row (the oracle) — quadratic; this is the plan that survives
    100 TB. Signed gap_us: positive = signup before purchase.
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest same-user signup (before or after) for every purchase."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    carried, p_us, back_gap, fwd_gap, pick_back = _nearest_signup(ev)
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(pick_back, F.col("back_us"))
        .otherwise(F.col("fwd_us"))
        .alias("nearest_signup_us"),
        F.when(pick_back, back_gap)
        .otherwise(-fwd_gap)
        .alias("gap_us"),
    )


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (SELECT o_orderkey, nullif(o_custkey % 5, 0) AS k
               FROM orders),
    d AS (SELECT nullif(r_regionkey % 5, 0) AS k, r_name FROM region)
    SELECT d.r_name, count(*) AS n_orders
    FROM l JOIN d ON l.k IS NOT DISTINCT FROM d.k
    GROUP BY d.r_name
    """,
    survey="B3/B5 extension (null-safe equality join: <=> / "
    "IS NOT DISTINCT FROM)",
    scale="""
    eqNullSafe keys stay HASH-JOINABLE: Catalyst normalizes `a <=> b` to
    coalesce-keys + null-flags, so the plan is the same broadcast/SMJ as
    a plain equi-join — no nested-loop fallback for NULL-matching
    semantics. The 5-row dim broadcasts; the orders side is scanned once
    with the count partial-aggregated map-side. NULL keys all hash to one
    value — at 100 TB a NULL-heavy fact column is a skew key by
    construction, which is exactly when AQE skew-join or an explicit NULL
    pre-split (filter nulls, union back) applies.
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe join: NULL bucket keys match the NULL dim row."""
    orders = table(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_custkey") % 5, F.lit(0)).alias("k")
    )
    dim = table(spark, sf_dir, "region").select(
        F.nullif(F.col("r_regionkey") % 5, F.lit(0)).alias("dk"), "r_name"
    )
    return (
        orders.join(F.broadcast(dim), F.col("k").eqNullSafe(F.col("dk")))
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "join_range_binned",
    oracle="""
    WITH iv AS (SELECT o_orderkey AS iv_id,
                       CAST(o_orderdate AS DATE) AS lo,
                       CAST(o_orderdate AS DATE) + 30 AS hi
                FROM orders WHERE o_orderkey % 97 = 0),
    pts AS (SELECT CAST(l_shipdate AS DATE) AS d, l_extendedprice
            FROM lineitem)
    SELECT iv.iv_id, count(*) AS n_ship,
           round(sum(l_extendedprice), 2) AS rev
    FROM pts JOIN iv ON pts.d >= iv.lo AND pts.d < iv.hi
    GROUP BY iv.iv_id
    """,
    survey="B8 (range join at scale: grid-binned to an equi-join on "
    "bucket + residual — implements join_range's scale note)",
    scale="""
    The point-in-interval join that survives two BIG sides: both sides
    map to a 30-day grid (intervals explode to every covered bucket —
    <= 2 rows here since span == grid width), the join becomes an
    EQUI-join on bucket with the exact range check as a residual, and
    each (interval, point) pair meets in exactly one bucket (the
    point's own), so no post-join dedup is needed. Plan-asserted: a
    hash/SMJ family join, never BroadcastNestedLoopJoin — the naive
    theta form degrades to O(n*m) nested loops once the interval side
    outgrows broadcast. Grid width tunes fanout vs selectivity: width ~
    median interval length keeps explode factor ~2 while the residual
    discards ~half the bucket's candidates.

    Round-5 sweep finding: since the requested aggregates are
    per-interval SUMs, the point side is pre-reduced to one row per
    (bucket, day) BEFORE the join — the day domain is fixed by the
    dataset's time span, not its row count, so the joined relation is
    O(intervals x interval_days) instead of O(intervals x matching
    rows). Without this the matched-row set itself grows quadratically
    with scale (both sides densify inside a fixed date range): measured
    411 s at the sf10 synthetic tier, 9.2 s after. Exactness is
    unchanged — count = sum of day counts, sum = sum of day sums.
    """,
)
def join_range_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join via grid binning: equi-join on bucket + residual.

    The point side collapses to per-day partial aggregates first (the
    matched-row set is quadratic in scale inside a fixed date domain;
    the day relation is bounded by the calendar), then the binned
    equi-join distributes those partials over intervals.
    """
    orders = table(spark, sf_dir, "orders")
    iv = orders.filter((F.col("o_orderkey") % 97) == 0).select(
        F.col("o_orderkey").alias("iv_id"),
        F.to_date("o_orderdate").alias("lo"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("hi"),
    )
    ivb = iv.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr("unix_date(lo) div 30"),
                F.expr("unix_date(hi - INTERVAL '1' DAY) div 30"),
            )
        ),
    )
    daily = (
        table(spark, sf_dir, "lineitem")
        .select(F.to_date("l_shipdate").alias("d"), "l_extendedprice")
        .withColumn("bucket", F.expr("unix_date(d) div 30"))
        .groupBy("bucket", "d")
        .agg(
            F.count(F.lit(1)).alias("n_day"),
            F.sum("l_extendedprice").alias("rev_day"),
        )
    )
    j = daily.join(
        ivb,
        (daily["bucket"] == ivb["bucket"])
        & (F.col("d") >= F.col("lo"))
        & (F.col("d") < F.col("hi")),
    )
    return j.groupBy("iv_id").agg(
        F.sum("n_day").alias("n_ship"),
        pround(F.sum("rev_day"), 2).alias("rev"),
    )


@register(
    "join_fuzzy_names",
    oracle="""
    WITH names AS (SELECT p_name, CAST(count(*) AS BIGINT) AS cnt
                   FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           a.cnt AS cnt_a, b.cnt AS cnt_b
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
     AND levenshtein(a.p_name, b.p_name) <= 2
    """,
    survey="B7/E extension (approximate string join: edit-distance <= 2 "
    "self-join over the distinct-name dictionary, length-banded to a "
    "hash join -- the entity-resolution primitive)",
    scale="""
    An edit-distance join is quadratic if written as a theta join over
    the corpus, so the plan collapses to the DISTINCT-NAME dictionary
    first (64 names carry 2000 parts at sf0.01; a 100 TB catalog's
    name dictionary is millions, not billions -- the aggregate does
    the heavy lifting and the fuzzy stage is dictionary-sized). The
    |len(a)-len(b)| <= 2 necessary condition for lev <= 2 becomes an
    EQUI key by multiprobe (one side expands to length deltas -2..+2,
    a bounded 5x constant, the similarity_lsh_multiprobe pattern), so
    Catalyst plans a hash join on probe-length -- never a nested-loop
    cross product -- and each qualifying pair is produced exactly once
    (the delta is determined by the pair). levenshtein() carries the
    threshold argument, so the JVM comparator early-exits a row's DP
    band at distance 3 instead of filling the full matrix. At larger
    dictionaries the length band is the first key of a (band, qgram)
    blocking refinement; the threshold form and the one-probe-side
    discipline stay the same.
    """,
)
def join_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate part names (edit distance <= 2) with part counts --
    fuzzy entity resolution over the distinct-name dictionary.

    The declared distance is BYTE-based (UTF-8) edit distance: Spark's
    ``levenshtein`` counts character edits while DuckDB's counts byte
    edits ('widgét'→'widget' is 1 char edit but 2 byte edits — a live
    cross-engine divergence found by probing, latent only while
    fixture names are ASCII). ONE definition must win; byte distance
    is computable identically in both engines (latin1-decode of the
    UTF-8 bytes gives a 1-char-per-byte string, so ``levenshtein``
    over it IS byte distance), equals char distance on ASCII, and
    keeps the threshold early-exit. A user wanting char distance on
    multibyte names swaps the decode(encode(...)) wrapper for the raw
    column — the plan shape is unchanged.
    """
    names = (
        table(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("ln", F.length("p_name"))
        .withColumn(
            "nb", F.decode(F.encode("p_name", "UTF-8"), "ISO-8859-1")
        )
    )
    deltas = F.broadcast(
        spark.range(-2, 3).select(F.col("id").cast("int").alias("d"))
    )
    probes = names.join(deltas).select(
        F.col("p_name"),
        F.col("cnt"),
        F.col("nb"),
        (F.col("ln") + F.col("d")).alias("probe_ln"),
    )
    cand = probes.alias("a").join(
        names.alias("b"),
        (F.col("a.probe_ln") == F.col("b.ln"))
        & (F.col("a.p_name") < F.col("b.p_name")),
    )
    return (
        cand.withColumn(
            "dist",
            F.levenshtein(F.col("a.nb"), F.col("b.nb"), 2).cast("long"),
        )
        .filter(F.col("dist") >= 0)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            F.col("dist"),
            F.col("a.cnt").alias("cnt_a"),
            F.col("b.cnt").alias("cnt_b"),
        )
    )


_ASOF_TOL_US = 600_000_000  # 10 minutes


@register(
    "join_asof_tolerance",
    oracle=f"""
    WITH p AS (SELECT event_id, user_id,
                      epoch_ns(ts) AS p_ns, epoch_ns(ts) // 1000 AS p_us
               FROM events WHERE event_type = 'purchase'),
    b AS (SELECT p.event_id,
                 (SELECT max(epoch_ns(s.ts) // 1000) FROM events s
                  WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                    AND epoch_ns(s.ts) <= p.p_ns) AS back_us
          FROM p),
    f AS (SELECT p.event_id,
                 (SELECT min(epoch_ns(s.ts) // 1000) FROM events s
                  WHERE s.user_id = p.user_id AND s.event_type = 'signup'
                    AND epoch_ns(s.ts) > p.p_ns) AS fwd_us
          FROM p),
    near AS (SELECT p.event_id, p.user_id, p.p_us,
                    CASE WHEN f.fwd_us IS NULL THEN b.back_us
                         WHEN b.back_us IS NULL THEN f.fwd_us
                         WHEN p.p_us - b.back_us <= f.fwd_us - p.p_us
                             THEN b.back_us
                         ELSE f.fwd_us END AS cand_us
             FROM p JOIN b USING (event_id) JOIN f USING (event_id))
    SELECT event_id, user_id,
           CASE WHEN abs(p_us - cand_us) <= {_ASOF_TOL_US}
                THEN cand_us END AS matched_signup_us,
           CASE WHEN abs(p_us - cand_us) <= {_ASOF_TOL_US}
                THEN CAST(p_us - cand_us AS BIGINT) END AS gap_us,
           (cand_us IS NOT NULL
            AND abs(p_us - cand_us) <= {_ASOF_TOL_US}) AS matched
    FROM near
    """,
    survey="B8/E50 extension (as-of join with TOLERANCE — nearest match "
    "within a 10-minute bound, else NULL: pandas merge_asof's "
    "``tolerance=`` semantics, completing the backward/forward/nearest "
    "family)",
    scale="""
    Tolerance is the as-of variant real pipelines want: a sensor/quote
    older than the bound is WORSE than no match. The plan is
    join_asof_nearest verbatim — one (user_id, ts) shuffle+sort shared
    by both direction frames, never a correlated subquery — plus one
    codegen CASE applying the bound; rows outside tolerance keep their
    left side and NULL the match (left-join semantics), so downstream
    can distinguish "no signup ever" from "signup too stale" via the
    ``matched`` flag. Cost at 100 TB is identical to nearest; the bound
    prunes nothing at join time by design (pruning would need a range
    join — join_interval_events covers that shape when the tolerance is
    tight enough to block on).
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest same-user signup within 10 min per purchase, else NULL."""
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts_ns"
    )
    carried, p_us, back_gap, fwd_gap, pick_back = _nearest_signup(ev)
    cand = F.when(pick_back, F.col("back_us")).otherwise(F.col("fwd_us"))
    in_tol = F.abs(p_us - cand) <= _ASOF_TOL_US
    return carried.filter(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        F.when(in_tol, cand).alias("matched_signup_us"),
        F.when(in_tol, p_us - cand).alias("gap_us"),
        (cand.isNotNull() & in_tol).alias("matched"),
    )
