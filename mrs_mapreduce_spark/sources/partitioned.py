"""Partitioned and bucketed storage layouts.

Capability parity: the reference's only layout control is "one bucket file
per (source, split)" (``mrs/bucket.py``); Spark's table layouts are the
scale-relevant superset — hive-style partition directories give partition
PRUNING (queries touch only matching directories) and bucketing gives
co-located, shuffle-free joins.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..exprs import pround
from ..registry import register


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str]
) -> None:
    """Hive-style partitioned parquet sink (dir per partition value)."""
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


@register(
    "sink_partitioned",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS cnt,
           round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    """,
    survey="A4 (partitioned sink) + §4 partition pruning",
    scale="""
    The write lays one directory per o_orderstatus; the read-back filter
    becomes a PartitionFilter (asserted in tests) — the scan never opens
    non-matching directories. At 100 TB partition-by low-cardinality
    query keys (date, status, lang) is the single biggest scan-cost
    lever; high-cardinality keys belong in bucketing, not partitioning
    (small-files explosion).
    """,
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write partitioned by status, read back with a pruned scan."""
    orders = table(spark, sf_dir, "orders")
    target = tempfile.mkdtemp(prefix="mrs_sink_part_") + "/orders_by_status"
    write_partitioned(orders, target, ["o_orderstatus"])
    back = spark.read.parquet(target)
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 8,
    sort_cols: list[str] | None = None,
    *,
    location: str,
) -> None:
    """Bucketed external table at ``location``, a directory that does not
    exist yet: co-locates join/agg keys at write time.

    Two tables bucketed identically on the join key sort-merge-join with
    ZERO exchange (asserted in tests) — the write-time analogue of the
    reference pre-partitioning datasets with the same parter so a
    downstream reduce needs no re-shuffle. Re-registering ``table_name``
    at a new location leaves a handle on the old table readable: it pins
    the old file listing, which stays on disk.
    """
    spark = df.sparkSession
    # the in-memory catalog forgets tables between sessions but their
    # directories persist; drop the catalog entry (metadata only — the
    # path option makes these EXTERNAL, so files survive)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    writer = (
        df.write.mode("overwrite")
        .option("path", location)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


@register(
    "sink_bucketed_join",
    oracle="""
    SELECT c.c_mktsegment, count(*) AS n_orders,
           round(CAST(sum(o.o_totalprice) AS DOUBLE), 2) AS total
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    survey="§4 bucketing / A7 (pre-partitioned co-located join)",
    scale="""
    Both sides are written bucketBy(8, custkey) sortBy(custkey), so the
    join sort-merge-joins with ZERO exchange and zero sort (asserted in
    tests/test_layouts.py) — the write-time analogue of the reference
    pre-partitioning two datasets with the same parter so the reduce
    needs no re-shuffle. This is the plan that survives when BOTH sides
    are 100 TB: broadcast is off the table and a shuffle join would move
    the full fact table; bucketed layout moves nothing. The only
    exchange left is the final tiny segment rollup.
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket orders and customer on custkey; join without a shuffle."""
    orders = table(spark, sf_dir, "orders").select(
        "o_custkey", "o_totalprice"
    )
    cust = (
        table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("o_custkey"), "c_mktsegment")
    )
    base = tempfile.mkdtemp(prefix="mrs_bucket_")
    write_bucketed(
        orders, "q_bucket_orders", ["o_custkey"], 8, ["o_custkey"],
        location=f"{base}/q_bucket_orders",
    )
    write_bucketed(
        cust, "q_bucket_cust", ["o_custkey"], 8, ["o_custkey"],
        location=f"{base}/q_bucket_cust",
    )
    return (
        spark.table("q_bucket_orders")
        .join(spark.table("q_bucket_cust"), "o_custkey")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@register(
    "join_dpp",
    oracle="""
    WITH dim AS (SELECT DISTINCT o_orderpriority AS pr,
                        CAST(substr(o_orderpriority, 1, 1) AS INT) AS urg
                 FROM orders)
    SELECT d.pr, count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS total
    FROM orders o JOIN dim d ON o.o_orderpriority = d.pr
    WHERE d.urg <= 2
    GROUP BY d.pr
    """,
    survey="B3/B4 + §4 (DYNAMIC partition pruning: the dim-side filter "
    "prunes fact partitions at runtime)",
    scale="""
    The fact is laid out partitioned on the join key; the selective
    filter lives on the DIM side, so static pruning cannot fire — the
    runtime takes the broadcast dim's key set and injects it as a
    dynamicpruningexpression PartitionFilter on the fact scan (asserted
    in tests). At 100 TB this is the star-schema scan killer: a
    date-dim filter like 'fiscal Q3' prunes a date-partitioned fact to
    ~1/4 of its directories before any I/O, with zero query rewrite.
    DPP subsumes manually propagating dim predicates onto the fact.
    """,
)
def join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dim-filtered join whose fact scan is runtime-partition-pruned."""
    orders = table(spark, sf_dir, "orders")
    target = tempfile.mkdtemp(prefix="mrs_dpp_") + "/orders_by_priority"
    write_partitioned(orders, target, ["o_orderpriority"])
    fact = spark.read.parquet(target)
    dim = (
        orders.select(F.col("o_orderpriority").alias("pr"))
        .distinct()
        .withColumn("urg", F.substring("pr", 1, 1).cast("int"))
    )
    return (
        fact.join(
            F.broadcast(dim.filter(F.col("urg") <= 2)),
            fact["o_orderpriority"] == F.col("pr"),
        )
        .groupBy("pr")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            pround(F.sum("o_totalprice"), 2).alias("total"),
        )
    )
