"""Sketch guarantee tests: count-min over-counts only; bloom never misses."""

from __future__ import annotations

from mrs_mapreduce_spark.operators.sketches import (
    _D,
    _W,
    countmin_sketch,
    sketch_bloom,
    sketch_countmin,
    words_of,
)
from mrs_mapreduce_spark.catalog import table
from pyspark.sql import functions as F


def test_countmin_never_underestimates(spark, sf_dir):
    rows = sketch_countmin(spark, sf_dir).collect()
    assert rows, "expected heavy hitters at this SF"
    assert all(r.est_cnt >= r.true_cnt for r in rows)


def test_countmin_table_bounded_and_mass_preserved(spark, sf_dir):
    occs = words_of(table(spark, sf_dir, "documents"))
    sk = countmin_sketch(occs).collect()
    assert len(sk) <= _D * _W
    n_occ = occs.count()
    # every row of the sketch holds the full occurrence mass
    for seed in range(_D):
        assert sum(r.cnt for r in sk if r.seed == seed) == n_occ


def test_bloom_no_false_negatives(spark, sf_dir):
    row = sketch_bloom(spark, sf_dir).collect()[0]
    assert row.false_neg == 0  # the bloom guarantee
    assert row.true_pos > 0


def test_hll_estimate_within_theoretical_error(spark, sf_dir):
    from mrs_mapreduce_spark.operators.sketches import sketch_hll

    r = sketch_hll(spark, sf_dir).collect()[0]
    # 3 sigma of the 1.04/sqrt(64) standard error
    assert abs(r.hll_estimate - r.exact_distinct) <= 0.39 * r.exact_distinct
    assert r.harmonic_denom > 0


def test_sketch_quantile_rank_error_bound(spark, sf_dir, registry_pass):
    """GK sketch values must sit within rank n/accuracy of the exact rank.

    This is the estimator's actual contract (rank error, not value
    error) — checked per group against the exact sorted values.
    """

    # the declared query emits bounded-error witnesses (driver contract);
    # every witness must hold
    rows = registry_pass.built("sketch_quantile").rows
    for r in rows:
        assert r.p50_ok and r.p95_ok and r.p99_ok, r

    # the raw GK estimator keeps its true contract: rank error <= n/accuracy
    li = table(spark, sf_dir, "lineitem")
    approx = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice",
            F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
            F.lit(10000),
        ).alias("approx_pcts"),
        F.count(F.lit(1)).alias("cnt"),
    ).collect()
    for r in approx:
        vals = sorted(
            x.l_extendedprice
            for x in li.filter(F.col("l_returnflag") == r.l_returnflag)
            .select("l_extendedprice")
            .collect()
        )
        n = len(vals)
        assert n == r.cnt
        tol = max(1, n // 10000 + 1)
        for q, got in zip((0.5, 0.95, 0.99), r.approx_pcts):
            target = int(q * n)
            lo = vals[max(0, target - tol)]
            hi = vals[min(n - 1, target + tol)]
            assert lo <= got <= hi, (r.l_returnflag, q, got, lo, hi)


def test_heavy_hitters_bound_holds_and_summary_is_bounded(spark, sf_dir):
    from mrs_mapreduce_spark.operators.sketches import (
        _MG_K,
        _MG_SEGS,
        sketch_heavy_hitters,
    )

    rows = sketch_heavy_hitters(spark, sf_dir).collect()
    assert rows, "expected merged MG candidates at this SF"
    # the mergeable-summaries theorem, checked row by row
    assert all(r.within_bound for r in rows)
    assert all(r.est_cnt <= r.true_cnt for r in rows)
    assert all(r.true_cnt <= r.est_cnt + r.err_bound for r in rows)
    # summary size bound: at most S*k merged candidates exist at all,
    # and the declared query caps its report at 25
    assert len(rows) <= min(25, _MG_SEGS * _MG_K)


def test_hll_intersection_identity_and_witness(spark, sf_dir):
    from mrs_mapreduce_spark.operators.sketches import (
        sketch_hll_intersection,
    )

    r = sketch_hll_intersection(spark, sf_dir).collect()[0]
    # inclusion-exclusion identity holds by construction (rounding slack)
    assert abs(r.est_intersection - (r.est_a + r.est_b - r.est_union)) < 1e-3
    # union is at least each side (bucket-wise max can only grow)
    assert r.est_union >= r.est_a - 1e-9
    assert r.est_union >= r.est_b - 1e-9
    assert r.exact_intersection > 0  # fixture populations overlap


def test_join_size_estimate_never_under(spark, sf_dir):
    from mrs_mapreduce_spark.operators.sketches import sketch_join_size

    r = sketch_join_size(spark, sf_dir).collect()[0]
    assert r.never_under
    assert r.est_join_size >= r.true_join_size > 0
