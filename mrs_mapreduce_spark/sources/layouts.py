"""Multi-dimensional clustering (z-order) for data-skipping scans.

No reference counterpart (Mrs has no storage layer — ``mrs/fileformats.py``
writes opaque pair files); this is the 100 TB table-layout technique the
engine's sinks need: interleave the bits of several normalized sort keys so
ONE physical ordering gives tight per-file min/max ranges on EVERY key —
a filter on any clustered dimension then skips most files (the same idea
as Delta/Iceberg ``OPTIMIZE ZORDER BY``, built here from plain DataFrame
expressions: no UDF, fully whole-stage-codegen).

How skipping happens mechanically: parquet stores per-column min/max per
row group; Spark's scan prunes row groups (and, with one row group per
file, whole files) whose stats cannot satisfy the pushed filter. Linear
``sortWithinPartitions(a)`` makes stats tight on ``a`` only; z-order makes
them moderately tight on all interleaved keys at once.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..registry import register

#: bits kept per dimension; 2 dims x 12 bits = 24-bit z-key (fits int).
ZBITS = 12


def _minmax_struct(df: DataFrame, cols: list[str]) -> DataFrame:
    """1-row relation of per-column min/max (broadcast-joined for scaling).

    At fixture scale this is one extra scan producing one row; on a real
    lakehouse table these bounds come from table statistics / metadata —
    the seam is this function, nothing downstream changes.
    """
    aggs = []
    for c in cols:
        aggs.append(F.min(c).cast("double").alias(f"__min_{c}"))
        aggs.append(F.max(c).cast("double").alias(f"__max_{c}"))
    return df.agg(*aggs)


def _scale_expr(col: str) -> Column:
    """Normalize ``col`` into [0, 2^ZBITS) using the joined min/max bounds.

    NULLs map DELIBERATELY to bucket 0 (nulls-first): without the
    coalesce, ``F.least(lit(max), NULL)`` would return the max (Spark's
    least/greatest skip nulls rather than propagate) and silently
    cluster every null row into the TOP stripe next to legitimate max
    values (r10 sources review). Cast is LONG, not int: the interleaved
    key uses bit positions up to len(cols)*ZBITS-1 and Spark's shiftleft
    on a 32-bit int masks the shift amount mod 32, which would wrap and
    collide bits for 3+ dimensions.
    """
    lo, hi = F.col(f"__min_{col}"), F.col(f"__max_{col}")
    span = F.when(hi > lo, hi - lo).otherwise(F.lit(1.0))
    frac = (F.col(col).cast("double") - lo) / span
    # the null guard must run BEFORE least(): least SKIPS nulls, so
    # least(max_lit, NULL) is already the max and a coalesce after the
    # fact would never see the null
    return F.when(F.col(col).isNull(), F.lit(0).cast("long")).otherwise(
        F.least(
            F.lit((1 << ZBITS) - 1).cast("long"),
            F.floor(frac * (1 << ZBITS)).cast("long"),
        )
    )


def zorder_key(cols: list[str]) -> Column:
    """Bit-interleave ZBITS-normalized columns ``__z_<col>`` into one key.

    Pure shift/mask arithmetic — Catalyst folds it into whole-stage
    codegen; no Python executes per row. Long arithmetic throughout:
    5 dims x 12 bits = 60 bit positions fit a BIGINT; more than that
    would wrap (Java long shifts mask mod 64), so refuse loudly.
    """
    ndim = len(cols)
    if ndim * ZBITS > 63:
        raise ValueError(
            f"z-order key needs {ndim * ZBITS} bits; max 63 "
            f"({63 // ZBITS} dims at ZBITS={ZBITS})"
        )
    parts: list[Column] = []
    for bit in range(ZBITS):
        for d, c in enumerate(cols):
            src = F.shiftright(F.col(f"__z_{c}"), bit).bitwiseAND(
                F.lit(1).cast("long")
            )
            parts.append(F.shiftleft(src, bit * ndim + d))
    return reduce(lambda a, b: a.bitwiseOR(b), parts).alias("__zkey")


def write_zordered(df: DataFrame, path: str, cols: list[str]) -> None:
    """Write ``df`` as 16 parquet files clustered by the z-order of ``cols``.

    ``repartitionByRange`` on the z-key assigns contiguous z-ranges to
    files (range exchange = one shuffle, same cost class as any sorted
    write); ``sortWithinPartitions`` tightens row-group stats inside each
    file. The file count should scale with data volume — at 100 TB pick
    bytes/file ≈ 1 GB and let AQE coalesce stragglers.
    """
    bounds = _minmax_struct(df, cols)
    scaled = df.crossJoin(F.broadcast(bounds)).select(
        df["*"], *[_scale_expr(c).alias(f"__z_{c}") for c in cols]
    )
    keyed = scaled.withColumn("__zkey", zorder_key(cols))
    (
        keyed.repartitionByRange(16, "__zkey")
        .sortWithinPartitions("__zkey")
        .drop("__zkey", *[f"__z_{c}" for c in cols])
        .write.mode("overwrite")
        .parquet(path)
    )


@register(
    "sink_zorder_skipping",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS sum_price,
           CAST(min(o_orderkey) AS BIGINT) AS min_key,
           CAST(max(o_orderkey) AS BIGINT) AS max_key
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 200
      AND o_totalprice BETWEEN 50000 AND 150000
    """,
    survey="E (z-order clustered sink + min/max data skipping)",
    scale="""
    The declared query proves the round-trip is lossless; the SKIPPING is
    asserted in tests/test_layouts.py by reading the written parquet
    footers. The measured trade-off (sf0.1, 16 files, custkey 100-200 x
    price 50k-150k rectangle): linear-by-custkey touches 1 file on its
    leading key but ALL 16 on a price-only predicate; z-order touches 3
    for the rectangle and prunes BOTH single-dim predicates. Choose
    linear when one key dominates the workload; z-order when queries
    filter on several — at 100 TB that is the difference between
    scanning the table and scanning a stripe, whichever dimension the
    analyst picks. Bits per dim (12) bound clustering resolution: finer
    than file count, coarse enough that the key fits codegen'd int ops.
    """,
)
def sink_zorder_skipping(spark, sf_dir: str) -> DataFrame:
    """orders → z-ordered parquet → rectangle-filtered aggregate."""
    import tempfile

    from ..catalog import table
    from ..exprs import pround

    orders = table(spark, sf_dir, "orders")
    target = tempfile.mkdtemp(prefix="mrs_zorder_") + "/orders_z"
    write_zordered(orders, target, ["o_custkey", "o_totalprice"])
    back = spark.read.parquet(target).filter(
        F.col("o_custkey").between(100, 200)
        & F.col("o_totalprice").between(50000.0, 150000.0)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        pround(F.sum("o_totalprice"), 2).alias("sum_price"),
        F.min("o_orderkey").alias("min_key"),
        F.max("o_orderkey").alias("max_key"),
    )
