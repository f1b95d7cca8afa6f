"""Pin the collapsed semdedup victim stage against the pairwise plan.

dedup_semdedup no longer materializes the within-cell pair self-join:
identical vectors collapse to one group (gid = min vec_id), cosine is
computed once per ordered group pair, and per-victim (n_dups, max_cos)
come back from running-count windows (llm/similarity.py::
_semdedup_victims). That is only sound if the output EQUALS the pairwise
plan's on every input — these tests pin the equality on corpora
engineered to stress the load-bearing claims:

1. with no duplicates every group is a singleton and the two plans see
   the same pair set (the fixture-tier regime);
2. every copy pair's cosine equals its group-rep pair's cosine
   (bit-identical arrays), so one rep pair substitutes for c_a * c_b
   copy pairs — including the same-group pair whose cosine is
   cosine(a, a), NOT an assumed literal 1.0;
3. #{A-members < vb} counts ids strictly below the victim, excluding
   the victim's own base row when A == B, and a qualifying neighbor
   group whose members are all ABOVE the victim contributes nothing;
4. zero vectors raise DIVIDE_BY_ZERO under the session's ANSI mode in
   BOTH plans (cosine's norm product is 0) — the collapse must not
   swallow the error the pairwise plan would surface.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from mrs_mapreduce_spark.llm.similarity import (
    _semdedup_victims,
    _semdedup_victims_pairwise,
    norm,
)

_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("cid", T.LongType()),
        T.StructField("a", T.ArrayType(T.DoubleType())),
    ]
)

# contents (unit-ish 4-dim): X~Y cos 0.8, X~Z cos 0.3 (below threshold),
# Y~Z cos ~0.81, W~V cos 0.0
_X = [1.0, 0.0, 0.0, 0.0]
_Y = [0.8, 0.6, 0.0, 0.0]
_Z = [0.3, 0.954, 0.0, 0.0]
_W = [0.0, 0.0, 1.0, 0.0]
_V = [0.0, 0.0, 0.0, 1.0]
_ZERO = [0.0, 0.0, 0.0, 0.0]


def _rows():
    return [
        # cell 0: X copies {0,5,9}, Y copies {2,7}, Z copies {1,11} —
        # interleaved ids so below-victim counts cross group boundaries
        (0, 0, _X), (5, 0, _X), (9, 0, _X),
        (2, 0, _Y), (7, 0, _Y),
        (1, 0, _Z), (11, 0, _Z),
        # cell 1: lonely W {20}, V copies {21,22} (W~V cos 0: the only
        # victim is 22 via its earlier copy)
        (20, 1, _W), (21, 1, _V), (22, 1, _V),
        # cell 2: Q copies {25,26} all BELOW P copies {30,31},
        # cos(P,Q) = 0.8: P victims count Q members, Q victims must NOT
        # count P members (all above)
        (25, 2, _Y), (26, 2, _Y), (30, 2, _X), (31, 2, _X),
    ]


def _assigned(spark, rows):
    # semdedup_cells output shape: (vec_id, cid, a, nrm)
    return spark.createDataFrame(rows, _SCHEMA).withColumn("nrm", norm("a"))


def _collect(df):
    return sorted(
        (r.vec_id, r.cid, r.n_dups, r.max_cos) for r in df.collect()
    )


def test_collapsed_equals_pairwise_on_duplicate_stressed_cells(spark):
    assigned = _assigned(spark, _rows())
    got = _collect(_semdedup_victims(assigned))
    want = _collect(_semdedup_victims_pairwise(assigned))
    assert got == want
    # spot-check the cross-group arithmetic by hand: victim 9 (X, cell
    # 0) has earlier copies {0,5} (cos(X,X) ~ 1.0) and earlier Y
    # members {2,7} (cos 0.8); Z is below the 0.4 threshold vs X
    by_victim = {v: (n, c) for v, _, n, c in got}
    assert by_victim[9][0] == 4
    # victim 22 (V, cell 1): exactly its earlier copy 21
    assert by_victim[22] == (1, 1.0)
    # Q victims (cell 2) must not count the higher-id P members
    assert by_victim[26][0] == 1
    # P victim 31: copy 30 + both Q members
    assert by_victim[31][0] == 3
    # lonely vectors and the lowest id of each content are never victims
    assert 20 not in by_victim and 0 not in by_victim and 25 not in by_victim


def test_collapsed_equals_pairwise_on_singleton_groups(spark):
    # all-distinct corpus: groups are singletons, the collapsed plan
    # must degrade to exactly the pairwise result (fixture-tier regime)
    rows = [
        (i, i % 3, [math.cos(0.1 * i), math.sin(0.1 * i), 0.0, 0.0])
        for i in range(24)
    ]
    assigned = _assigned(spark, rows)
    got = _collect(_semdedup_victims(assigned))
    want = _collect(_semdedup_victims_pairwise(assigned))
    assert got == want
    assert len(got) > 0  # non-vacuous: angled pairs do qualify


def test_zero_vector_raises_in_both_plans(spark):
    # cosine's norm product is 0 for a zero vector, and the session
    # runs ANSI mode: the pairwise plan raises DIVIDE_BY_ZERO, so the
    # collapsed plan must too (it evaluates the same cosine expression
    # per group pair) — collapsing must not swallow the error
    rows = [(0, 0, _ZERO), (1, 0, _ZERO), (2, 0, _X)]
    assigned = _assigned(spark, rows)
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _semdedup_victims_pairwise(assigned).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO"):
        _semdedup_victims(assigned).collect()
