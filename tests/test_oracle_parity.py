"""The primary correctness gate, run locally at sf0.001.

Mirrors the external driver: every declared query executes on Spark AND its
oracle SQL executes on DuckDB; row counts, column names and canonicalized
values must match exactly (SURVEY.md §5.2 rule: never declare a query whose
hash hasn't matched locally).
"""

from __future__ import annotations

import pytest

from mrs_mapreduce_spark.oracle import check_queries
from mrs_mapreduce_spark.registry import load_all

_NAMES = sorted(load_all())


@pytest.mark.parametrize("name", _NAMES)
def test_query_matches_oracle(registry_pass, name):
    result = registry_pass.built(name)
    assert result.ok, str(result)


def test_query_without_oracle_fails(spark, sf_dir, monkeypatch):
    """There is no rows-only check: a declared query without oracle SQL
    fails the sweep, whatever rows it returns."""
    from mrs_mapreduce_spark.registry import REGISTRY, Query

    name = "_oracle_less_probe"
    monkeypatch.setitem(REGISTRY, name, Query(
        name, lambda spark, sf_dir: spark.range(1), None, "", ""
    ))
    (result,) = check_queries(spark, sf_dir, [name])
    assert result.ok is False, str(result)


def test_compare_flags_hugeint_type_mismatch(spark, sf_dir):
    """The round-1 agg_pivot failure mode must now be caught locally:
    DuckDB bare sum(int) is HUGEINT, which the driver's type-sensitive
    hash splits from Spark's bigint even when values are equal."""
    import duckdb

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.oracle import compare

    con = duckdb.connect()
    spark_df = spark.range(3).agg(F.sum("id").cast("long").alias("s"))
    bad = compare("hugeint", spark_df, con, "SELECT sum(x) AS s FROM (VALUES (0), (1), (2)) t(x)")
    assert not bad.ok and any("type-kind" in i for i in bad.issues)
    good = compare("bigint", spark_df, con, "SELECT CAST(sum(x) AS BIGINT) AS s FROM (VALUES (0), (1), (2)) t(x)")
    assert good.ok, str(good)


def test_compare_is_exact(spark, sf_dir):
    """compare() matches values exactly, as the driver's hash does: a
    cell 5e-4 off its oracle value fails. Its signature is the four
    arguments perfbench's first-pass check passes."""
    import inspect

    import duckdb

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.oracle import compare

    assert list(inspect.signature(compare).parameters) == [
        "name", "spark_df", "con", "sql",
    ]
    con = duckdb.connect()
    spark_df = spark.range(1).select(F.lit(1.0005).alias("v"))
    strict = compare("strict", spark_df, con, "SELECT CAST(1.0 AS DOUBLE) AS v")
    assert not strict.ok
    assert any("canonical rows differ" in i for i in strict.issues)


def test_compare_flags_array_output_as_driver_incompatible(spark, sf_dir):
    """The r3 failure mode must be caught locally: an array-typed result
    column dies in the driver's pandas sort_values canonicalizer, so
    compare() must flag it even when values would match."""
    import duckdb

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.oracle import compare

    con = duckdb.connect()
    spark_df = spark.range(2).select(
        F.col("id"), F.array(F.col("id"), F.col("id") + 1).alias("arr")
    )
    bad = compare(
        "arrcol",
        spark_df,
        con,
        "SELECT x AS id, [x, x + 1] AS arr FROM (VALUES (0), (1)) t(x)",
    )
    assert not bad.ok
    assert any("driver-canonicalizer incompatible" in i for i in bad.issues)
    # and the flattened form passes
    good = compare(
        "flat",
        spark_df.select(
            "id",
            F.array_join(
                F.transform("arr", lambda c: c.cast("string")), ","
            ).alias("arr"),
        ),
        con,
        "SELECT x AS id, CAST(x AS VARCHAR) || ',' || CAST(x + 1 AS VARCHAR)"
        " AS arr FROM (VALUES (0), (1)) t(x)",
    )
    assert good.ok, str(good)


def test_compare_bans_negative_zero(spark, sf_dir):
    """The r8 failure mode must be caught locally: a cell that rounds to
    -0.0 is a sign-unstable zero (the sign is partition-summation-order
    noise) and the driver's repr-level hash distinguishes -0.0 from 0.0,
    so compare() must flag it EVEN WHEN both engines happen to agree —
    agreement is a coin-flip across runs (feature_standardize, r8)."""
    import duckdb

    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.oracle import compare

    con = duckdb.connect()
    # round(-1e-13, 6) = -0.0 on both engines: values match, still banned
    spark_df = spark.range(1).select(
        F.round(F.lit(-1e-13), 6).alias("mean_z")
    )
    bad = compare("negz", spark_df, con, "SELECT round(-1e-13, 6) AS mean_z")
    assert not bad.ok
    assert any("emits -0.0" in i for i in bad.issues), str(bad)
    # the sign-safe form — a boolean witness — passes. (NOT abs():
    # DuckDB's abs() PRESERVES -0.0, Spark's clears it, so abs() of a
    # rounds-to-zero value is itself engine-divergent; witnesses or
    # `+ 0.0` are the portable normalizations.)
    good = compare(
        "negz_witness",
        spark.range(1).select(
            (F.abs(F.round(F.lit(-1e-13), 6)) < 1e-9).alias("mean_zero_ok")
        ),
        con,
        "SELECT abs(round(-1e-13, 6)) < 1e-9 AS mean_zero_ok",
    )
    assert good.ok, str(good)
    # and the canonicalizer itself is repr-strict: -0.0 and 0.0 must NOT
    # canonicalize equal (the driver hashes repr-level values, where
    # repr(-0.0) != repr(0.0)), so a one-sided sign flip mismatches even
    # without the ban
    from mrs_mapreduce_spark.oracle import _canon_value

    assert _canon_value(-0.0) != _canon_value(0.0)
