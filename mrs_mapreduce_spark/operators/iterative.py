"""Iterative driver-loop algorithms.

Capability parity: ``mrs/__init__.py::IterativeMR`` (A12) — the reference's
raison d'être: per-iteration datasets produced by a driver loop with
``job.wait``. In Spark the idiom is a plain Python loop over cached
DataFrames: small model state (centroids) lives on the driver, the big
relation stays distributed and cached, and each iteration is one job.

Declared query: a deterministic 1-D k-means (k=4, 3 assignment rounds) on
``customer.c_acctbal``. Determinism discipline: centroids are rounded to 6
decimals after every update ON BOTH SIDES, so Spark and the unrolled-SQL
oracle assign points against bit-identical centroids; ties break to the
lowest cluster index in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import pround, pround0
from ..llm.similarity import lloyd, points
from ..registry import register

_K = 4
_ROUNDS = 3  # assignment rounds; centroid updates happen after rounds 1..2


def _assign_expr(centroids: list[tuple[int, float]]):
    """argmin_i |x - c_i| with ties to the lowest i (strict < keeps first)."""
    best_k = F.lit(centroids[0][0])
    best_d = F.abs(F.col("x") - F.lit(centroids[0][1]))
    for i, c in centroids[1:]:
        d = F.abs(F.col("x") - F.lit(c))
        closer = d < best_d
        best_k = F.when(closer, F.lit(i)).otherwise(best_k)
        best_d = F.when(closer, d).otherwise(best_d)
    return best_k


@register(
    "iterative_converge",
    oracle="""
    WITH b AS (SELECT c_custkey AS key, c_acctbal AS x FROM customer),
    s AS (SELECT min(x) AS mn, max(x) AS mx FROM b),
    c0 AS (SELECT i, mn + (i + 0.5) * (mx - mn) / 4 AS c
           FROM s CROSS JOIN (VALUES (0), (1), (2), (3)) t(i)),
    a1 AS (SELECT key, x, i,
                  row_number() OVER (PARTITION BY key
                                     ORDER BY abs(x - c), i) AS rn
           FROM b CROSS JOIN c0),
    c1 AS (SELECT i, round(avg(x), 6) AS c FROM a1 WHERE rn = 1 GROUP BY i),
    a2 AS (SELECT key, x, i,
                  row_number() OVER (PARTITION BY key
                                     ORDER BY abs(x - c), i) AS rn
           FROM b CROSS JOIN c1),
    c2 AS (SELECT i, round(avg(x), 6) AS c FROM a2 WHERE rn = 1 GROUP BY i),
    a3 AS (SELECT key, x, i,
                  row_number() OVER (PARTITION BY key
                                     ORDER BY abs(x - c), i) AS rn
           FROM b CROSS JOIN c2)
    SELECT i AS cluster, count(*) AS n, round(avg(x), 2) AS centroid
    FROM a3 WHERE rn = 1 GROUP BY i
    """,
    survey="A12 (IterativeMR parity)",
    scale="""
    The IterativeMR pattern at scale: the point set stays cached and
    distributed; only k floats round-trip through the driver per
    iteration (no collect of data). cache() + per-generation unpersist and
    periodic localCheckpoint bound lineage growth — the exact failure mode
    (per-iteration overhead) Mrs was built to avoid in Hadoop.
    """,
)
def iterative_converge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D k-means via the IterativeMR driver-loop idiom."""
    pts = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("x"))
        .cache()
    )
    stats = pts.agg(F.min("x").alias("mn"), F.max("x").alias("mx")).first()
    mn, mx = stats.mn, stats.mx
    centroids = [(i, mn + (i + 0.5) * (mx - mn) / 4) for i in range(_K)]

    assigned = None
    for round_no in range(1, _ROUNDS + 1):
        assigned = pts.withColumn("k", _assign_expr(centroids))
        if round_no < _ROUNDS:
            rows = (
                assigned.groupBy("k")
                .agg(pround(F.avg("x"), 6).alias("c"))
                .collect()
            )
            centroids = sorted((r.k, r.c) for r in rows)

    return assigned.groupBy(F.col("k").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.avg("x"), 2).alias("centroid"),
    )


@register(
    "iterative_kmeans_emb",
    oracle="""
    WITH pts AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS a
                 FROM embeddings),
    c0 AS (SELECT vec_id AS cid, a AS cv FROM pts WHERE vec_id < 8),
    a1 AS (SELECT vec_id, cid FROM (
             SELECT p.vec_id, c.cid,
                    row_number() OVER (PARTITION BY p.vec_id
                                       ORDER BY list_aggregate(list_transform(range(1, 65), i -> (p.a[i] - c.cv[i]) * (p.a[i] - c.cv[i])), 'sum'), c.cid) AS rk
             FROM pts p CROSS JOIN c0 c) WHERE rk = 1),
    u1 AS (SELECT a1.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a1 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a1.cid, g.i),
    c1 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u1 GROUP BY cid),
    a2 AS (SELECT vec_id, cid FROM (
             SELECT p.vec_id, c.cid,
                    row_number() OVER (PARTITION BY p.vec_id
                                       ORDER BY list_aggregate(list_transform(range(1, 65), i -> (p.a[i] - c.cv[i]) * (p.a[i] - c.cv[i])), 'sum'), c.cid) AS rk
             FROM pts p CROSS JOIN c1 c) WHERE rk = 1),
    u2 AS (SELECT a2.cid, g.i AS dim, round(avg(p.a[g.i]), 6) AS c
           FROM a2 JOIN pts p USING (vec_id)
           CROSS JOIN generate_series(1, 64) AS g(i)
           GROUP BY a2.cid, g.i),
    c2 AS (SELECT cid, list(c ORDER BY dim) AS cv FROM u2 GROUP BY cid),
    a3 AS (SELECT vec_id, cid FROM (
             SELECT p.vec_id, c.cid,
                    row_number() OVER (PARTITION BY p.vec_id
                                       ORDER BY list_aggregate(list_transform(range(1, 65), i -> (p.a[i] - c.cv[i]) * (p.a[i] - c.cv[i])), 'sum'), c.cid) AS rk
             FROM pts p CROSS JOIN c2 c) WHERE rk = 1)
    SELECT cid AS cluster, count(*) AS n,
           round(avg(p.a[1]), 6) + 0.0 AS cent_d0
    FROM a3 JOIN pts p USING (vec_id) GROUP BY cid
    """,
    survey="A12 (IterativeMR on 64-dim embeddings) + D3",
    scale="""
    Full-dimensional k-means with NO data through the driver at all: the
    centroid relation (k x 64 doubles) stays a broadcast DataFrame;
    assignment distances run as order-stable array lambdas; the update
    step re-aggregates per (cluster, dim) and rebuilds centroid arrays —
    every iteration is two shuffles of k*64 rows regardless of corpus
    size. The loop is llm/similarity.py's lloyd, shared with
    similarity_ivf_trained: the k-row codebook localCheckpoints every
    round to cut lineage (SURVEY.md §3.3), and centroids round to 6
    decimals per round on both engines so assignment compares
    bit-identical doubles.
    """,
)
def iterative_kmeans_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-dim k-means (k=8, 3 assignment rounds) on the embeddings table."""
    # k=8 seeds, 2 centroid updates, 3 assignment rounds; pts is read
    # once per round, so it stays cached
    pts = points(spark, sf_dir).cache()
    assigned, _ = lloyd(pts, 8, 2)
    return assigned.groupBy(F.col("cid").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n"),
        # pround0: the dim-0 cluster mean is ~N(0, 0.004) -- max
        # density exactly at 0, the negzero-gate class
        pround0(F.avg(F.element_at("a", 1)), 6).alias("cent_d0"),
    )


@register(
    "iterative_pagerank",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey),
    nodes AS (SELECT DISTINCT n_nationkey AS v FROM nation),
    deg AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
    p0 AS (SELECT v, round(1.0 / 25, 6) AS pr FROM nodes),
    s1 AS (SELECT e.dst AS v, sum(p.pr / d.outdeg) AS m
           FROM edges e JOIN p0 p ON p.v = e.src
           JOIN deg d ON d.src = e.src GROUP BY e.dst),
    p1 AS (SELECT n.v,
                  round(0.15 / 25 + 0.85 * coalesce(s1.m, 0), 6) AS pr
           FROM nodes n LEFT JOIN s1 ON s1.v = n.v),
    s2 AS (SELECT e.dst AS v, sum(p.pr / d.outdeg) AS m
           FROM edges e JOIN p1 p ON p.v = e.src
           JOIN deg d ON d.src = e.src GROUP BY e.dst),
    p2 AS (SELECT n.v,
                  round(0.15 / 25 + 0.85 * coalesce(s2.m, 0), 6) AS pr
           FROM nodes n LEFT JOIN s2 ON s2.v = n.v)
    SELECT CAST(v AS INT) AS nationkey, pr FROM p2
    """,
    survey="A12 (iterative PageRank: damped, degree-normalized, dangling-safe)",
    scale="""
    The loop state is one (node, pr) relation — O(nodes), never O(edges)
    — re-derived per round by edges⋈pr on src then a groupBy dst; edges
    and out-degrees are computed once and cached, and the join
    co-partitions on src so each round is exactly one shuffle of the
    rank vector plus one of the partial sums. Dangling nodes (no
    out-edges) keep their teleport mass via the left join against the
    node universe. Per-round pround(6) keeps Spark and SQL iterating on
    bit-identical ranks (the kmeans discipline). Web-scale: same plan,
    plus localCheckpoint cadence and AQE skew-split for celebrity dst
    nodes.
    """,
)
def iterative_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2 damped PageRank rounds over the supplier->customer nation graph."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")
    nation = table(spark, sf_dir, "nation")

    # prune-then-probe edge build with NO hard hints: customer, the
    # (orderkey -> customer nation) map, and supplier all scale with the
    # corpus, and a broadcast HINT is honored at any size — the planner
    # broadcasts them from measured stats while they fit (it does at
    # every fixture tier) and flips to the orderkey sort-merge join when
    # they outgrow the threshold, which is the 100 TB plan.
    order_nation = orders.join(
        cust.select("c_custkey", "c_nationkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey")
    edges = (
        li.select("l_orderkey", "l_suppkey")
        .join(order_nation, li.l_orderkey == F.col("o_orderkey"))
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # edges computed once, loop reuses
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    contrib_base = edges.join(F.broadcast(deg), "src")
    nodes = nation.select(F.col("n_nationkey").alias("v")).distinct()

    n_nodes, damp = 25, 0.85
    pr = nodes.select("v", pround(F.lit(1.0 / n_nodes), 6).alias("pr"))
    for _ in range(2):
        sums = (
            contrib_base.join(
                F.broadcast(pr), contrib_base.src == pr.v
            )
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("outdeg")).alias("m"))
        )
        pr = (
            nodes.join(F.broadcast(sums), nodes.v == sums.dst, "left")
            .select(
                "v",
                pround(
                    F.lit((1 - damp) / n_nodes)
                    + F.lit(damp) * F.coalesce(F.col("m"), F.lit(0.0)),
                    6,
                ).alias("pr"),
            )
        )
    return pr.select(F.col("v").cast("int").alias("nationkey"), "pr")


@register(
    "graph_triangles",
    oracle="""
    WITH raw AS (
        SELECT DISTINCT s.s_nationkey AS src, c.c_nationkey AS dst
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE s.s_nationkey <> c.c_nationkey),
    und AS (SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM raw),
    tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b)
    SELECT CAST(count(*) AS BIGINT) AS n_triangles,
           CAST(count(DISTINCT x) AS BIGINT) AS n_apex_nations
    FROM tri
    """,
    survey="E (triangle counting — the canonical multi-way self-join)",
    scale="""
    Triangle counting via the ordered-wedge plan: canonicalize to
    undirected a<b edges (halves the relation, kills duplicate and
    mirror wedges), self-join to wedges (a<b<c by construction), close
    with a second join. Orientation is THE classic trick: without a<b
    each triangle is found 6 times and high-degree hubs explode the
    wedge count; with it the wedge relation is bounded by sum over
    nodes of C(outdeg, 2) on the LOW-degree orientation. At 100 TB:
    wedges shuffle on the join key, so pre-bucket edges by a; skewed
    hubs (a social-graph celebrity) get the salted-join treatment or
    degree-threshold splitting (count hub triangles by intersection of
    sorted adjacency lists instead). The edge build reuses the
    pagerank prune-then-probe joins — broadcast until dims outgrow it,
    then AQE flips to sort-merge — and pre-reduces between them:
    distinct (l_suppkey, c_nationkey) runs BEFORE the supplier join
    (legal because s_nationkey is functionally dependent on the join
    key), so only the first join sorts lineitem-sized input; the
    second sorts the ~25x-smaller supplier-nation support set
    (round-6: the sf100 sweep's 96-way spilled sort was the second
    join re-sorting 600M rows).
    """,
)
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count nation-graph triangles with the orientation (a<b<c) plan."""
    li = table(spark, sf_dir, "lineitem")
    orders = table(spark, sf_dir, "orders")
    cust = table(spark, sf_dir, "customer")
    supp = table(spark, sf_dir, "supplier")

    # no broadcast hints on the scaling relations: customer/supplier/
    # order_nation all grow with the corpus, and a HARD broadcast hint is
    # honored at ANY size (AQE demotes estimate-based broadcasts, never
    # hinted ones) — at fixture scale AQE still picks broadcast on its
    # own; at 100 TB these degrade gracefully to shuffle joins. Only the
    # nation-bounded edge lists below (<= C(25,2) rows) stay hinted.
    order_nation = orders.join(
        cust.select("c_custkey", "c_nationkey"),
        orders.o_custkey == F.col("c_custkey"),
    ).select("o_orderkey", "c_nationkey")
    # Pre-reduce BETWEEN the two corpus-sized joins (round-6, r5 verdict
    # task 5 — the join_range_binned discipline): the nation-pair
    # distinct pushes through the supplier join because s_nationkey is
    # functionally dependent on the join key, so distinct
    # (l_suppkey, c_nationkey) first — bounded by |supplier| x 25 and
    # map-side-combined before its shuffle — and only THEN resolve
    # suppkey -> nation. The second sort-merge input drops from
    # |lineitem| rows (the 600M-row 96-way spilled sort the sf100 sweep
    # flagged) to the ~25x-smaller supplier-nation support set.
    # Deliberately NOT pre-distincting (l_orderkey, l_suppkey) at the
    # scan: measured at the 1000-copy tier the pair relation is 1.00x of
    # lineitem (598.8M distinct / 600M rows — this generator has no
    # per-order suppkey duplication), so the distinct adds a full
    # corpus-sized shuffle for nothing (interleaved A/B: 159-187 s vs
    # 97-116 s current; SCALE.md). On a corpus where the pair ratio is
    # genuinely small, that distinct is the first knob to try.
    supp_cnation = (
        li.select("l_orderkey", "l_suppkey")
        .join(order_nation, li.l_orderkey == F.col("o_orderkey"))
        .select("l_suppkey", "c_nationkey")
        .distinct()
    )
    raw = (
        supp_cnation.join(
            supp.select("s_suppkey", "s_nationkey"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .select(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .distinct()
    )
    und = (
        raw.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # tiny; probed three times below
    )
    e2 = und.select(F.col("a").alias("b2"), F.col("b").alias("c2"))
    e3 = und.select(F.col("a").alias("a3"), F.col("b").alias("b3"))
    tri = (
        und.join(F.broadcast(e2), F.col("b") == F.col("b2"))
        .join(
            F.broadcast(e3),
            (F.col("a") == F.col("a3")) & (F.col("c2") == F.col("b3")),
        )
    )
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.count_distinct("a").alias("n_apex_nations"),
    )
