"""Property-based invariants (hypothesis) on generated micro-frames.

Two independent implementations of the same semantics (RDD parity path vs
DataFrame path) are the strongest oracle we control (SURVEY.md §5.2).
"""

from __future__ import annotations

from collections import Counter

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mrs_mapreduce_spark.mapreduce import Job

WORDS = st.lists(
    st.sampled_from(["alpha", "beta", "gamma", "delta", "x1", "x2"]),
    min_size=0,
    max_size=8,
)
DOCS = st.lists(WORDS, min_size=1, max_size=6)

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@given(docs=DOCS)
@_SETTINGS
def test_rdd_and_dataframe_wordcount_agree(spark, docs):
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    df_counts = {
        (r.word, r.cnt)
        for r in df.select(
            F.explode(F.split("text", " ")).alias("word")
        )
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }

    job = Job(spark, default_splits=2)
    ds0 = job.local_data(rows, splits=2)
    ds1 = job.map_data(ds0, lambda k, v: ((w, 1) for w in v.split()))
    ds2 = job.reduce_data(ds1, lambda k, vs: iter([sum(vs)]), splits=2)
    rdd_counts = set(ds2.collect())

    assert df_counts == rdd_counts


@given(
    left=st.lists(st.integers(0, 5), max_size=10),
    right=st.lists(st.integers(0, 5), max_size=10),
)
@_SETTINGS
def test_union_additivity_and_except_multiset(spark, left, right):
    ldf = spark.createDataFrame([(x,) for x in left], "v long")
    rdf = spark.createDataFrame([(x,) for x in right], "v long")
    assert ldf.union(rdf).count() == len(left) + len(right)

    got = Counter(r.v for r in ldf.exceptAll(rdf).collect())
    want = Counter(left) - Counter(right)
    assert got == +want


@given(
    left=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9)), max_size=8),
    right=st.lists(st.tuples(st.integers(0, 3), st.integers(0, 9)), max_size=8),
)
@_SETTINGS
def test_inner_join_commutes(spark, left, right):
    ldf = spark.createDataFrame(left or [(99, 0)], "k long, a long")
    rdf = spark.createDataFrame(right or [(98, 0)], "k long, b long")
    ab = {
        (r.k, r.a, r.b)
        for r in ldf.join(rdf, "k").select("k", "a", "b").collect()
    }
    ba = {
        (r.k, r.a, r.b)
        for r in rdf.join(ldf, "k").select("k", "a", "b").collect()
    }
    assert ab == ba


@given(vals=st.lists(st.text("ab", min_size=1, max_size=3), min_size=1, max_size=12))
@_SETTINGS
def test_dedup_idempotent(spark, vals):
    df = spark.createDataFrame([(v,) for v in vals], "t string")
    once = df.dropDuplicates(["t"])
    twice = once.dropDuplicates(["t"])
    assert once.count() == twice.count() == len(set(vals))


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL++ estimate within 2% of exact (rows-only query's unit backstop)."""
    from mrs_mapreduce_spark.catalog import table

    orders = table(spark, sf_dir, "orders")
    exact = orders.select("o_custkey").distinct().count()
    approx = orders.agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("a")
    ).collect()[0].a
    assert abs(approx - exact) / exact <= 0.05


def test_window_rank_bijection(registry_pass):
    """row_number over a total order is a bijection per partition."""

    rows = registry_pass.built("window_rank").rows
    per_user = Counter(r.user_id for r in rows)
    for r in rows:
        assert 1 <= r.rn <= 5
    for user, n in per_user.items():
        ranks = sorted(r.rn for r in rows if r.user_id == user)
        assert ranks == list(range(1, n + 1))


@pytest.mark.parametrize("k", [2, 3])
def test_shingles_count(spark, k):
    from mrs_mapreduce_spark.llm.dedup import shingles

    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a"), (3, "x y")], "doc_id long, text string"
    )
    got = Counter(r.doc_id for r in shingles(df, k=k).collect())
    for doc_id, text in [(1, "a b c d"), (2, "a"), (3, "x y")]:
        n_words = len(text.split())
        expected = max(0, n_words - k + 1) if n_words >= k else 0
        assert got.get(doc_id, 0) == expected


@given(
    left=st.lists(st.tuples(st.integers(0, 4), st.integers(0, 99)), max_size=8),
    right=st.lists(st.tuples(st.integers(0, 4), st.text("xy", min_size=1, max_size=2)), max_size=8),
)
@_SETTINGS
def test_reduce_side_join_matches_dataframe_join(spark, left, right):
    """The Mrs reduce-side join pattern == native df.join (two independent
    implementations of inner-join semantics — SURVEY.md §2.B B3)."""
    ldf = spark.createDataFrame(left or [(9, 0)], "k long, a long")
    rdf = spark.createDataFrame(right or [(8, "z")], "k long, b string")
    native = {
        (r.k, r.a, r.b)
        for r in ldf.join(rdf, "k").select("k", "a", "b").collect()
    }

    job = Job(spark, default_splits=2)
    tagged = job.local_data(
        [(k, ("L", a)) for k, a in (left or [(9, 0)])]
        + [(k, ("R", b)) for k, b in (right or [(8, "z")])],
        splits=2,
    )

    def join_reduce(key, values):
        lefts, rights = [], []
        for side, v in values:
            (lefts if side == "L" else rights).append(v)
        for a in lefts:
            for b in rights:
                yield (a, b)

    ds = job.reduce_data(tagged, join_reduce, splits=2)
    mr = {(k, a, b) for k, (a, b) in ds.collect()}
    assert mr == native


@given(
    keys=st.lists(
        st.text("abcdef123", min_size=1, max_size=6), min_size=1, max_size=30
    )
)
@_SETTINGS
def test_countmin_upper_bounds_any_multiset(spark, keys):
    """CMS estimate >= true count for EVERY key of an arbitrary multiset."""
    from mrs_mapreduce_spark.operators.sketches import (
        _A,
        _B,
        _D,
        _P,
        _W,
        _n,
        countmin_sketch,
    )

    occ = spark.createDataFrame([(k,) for k in keys], "w string")
    sketch = {
        (r.seed, r.bucket): r.cnt for r in countmin_sketch(occ).collect()
    }
    true_counts = Counter(keys)
    # recompute each key's buckets via the same expressions
    rows = (
        occ.distinct()
        .select(
            "w",
            *[
                ((F.lit(_A[i]) * _n("w") + F.lit(_B[i])) % _P % _W).alias(
                    f"b{i}"
                )
                for i in range(_D)
            ],
        )
        .collect()
    )
    for r in rows:
        est = min(sketch[(i, r[f"b{i}"])] for i in range(_D))
        assert est >= true_counts[r.w]


@given(
    member=st.lists(st.integers(0, 10**6), min_size=1, max_size=25),
    probe=st.lists(st.integers(0, 10**6), min_size=1, max_size=25),
)
@_SETTINGS
def test_bloom_pruned_join_is_exact_on_any_keys(spark, member, probe):
    """Bloom pre-filter + exact join == plain join for arbitrary key sets."""
    from mrs_mapreduce_spark.operators.sketches import _A, _B, _K, _P

    m_bits = 64  # deliberately tiny: force false positives
    big = spark.createDataFrame([(k,) for k in probe], "k long")
    keys = spark.createDataFrame([(k,) for k in member], "k long").distinct()

    def probes(col):
        n = col % _P
        return [
            (F.lit(_A[i]) * n + F.lit(_B[i])) % _P % m_bits
            for i in range(_K)
        ]

    bits = keys.select(
        F.explode(F.array(*probes(F.col("k")))).alias("bit")
    ).distinct()
    pruned = big.select("k", *[p.alias(f"p{i}") for i, p in enumerate(probes(F.col("k")))])
    for i in range(_K):
        pruned = pruned.join(
            F.broadcast(bits.select(F.col("bit").alias(f"bit{i}"))),
            F.col(f"p{i}") == F.col(f"bit{i}"),
            "semi",
        )
    got = Counter(r.k for r in pruned.join(F.broadcast(keys), "k", "semi").collect())
    want = Counter(r.k for r in big.join(F.broadcast(keys), "k", "semi").collect())
    assert got == want


def test_pack_contexts_conserves_docs_and_tokens(spark, sf_dir, registry_pass):
    """Packing is a partition of the corpus: every doc lands in exactly
    one context, token totals conserved, ctx ids are the dense prefix."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_docs = d.count()
    n_toks = d.select(
        F.sum(F.size(F.split("text", " "))).alias("s")
    ).collect()[0].s

    rows = registry_pass.built("corpus_pack_contexts").rows
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.n_tokens for r in rows) == n_toks
    # a doc's context is where it STARTS, so first/last ranges of
    # consecutive contexts may not overlap
    rows = sorted(rows, key=lambda r: r.ctx_id)
    for a, b in zip(rows, rows[1:]):
        assert a.last_doc < b.first_doc


def test_repetition_ratio_bounds(registry_pass):
    rows = registry_pass.built("text_repetition").rows
    assert rows
    for r in rows:
        assert 0.0 <= r.dup_ratio < 1.0
        assert r.flagged == int(r.dup_ratio > 0.1)


def test_mix_weights_form_a_distribution(registry_pass):
    rows = registry_pass.built("corpus_mix_weights").rows
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-2
    # weight * share == uniform target share for every domain
    for r in rows:
        assert abs(r.weight * r.share - 1.0 / len(rows)) < 1e-2


def test_decontaminate_excludes_benchmark(spark, sf_dir, registry_pass):
    """The output partitions the NON-benchmark corpus: row counts match
    the doc_id % 97 != 0 slice and contamination never exceeds it."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    expect = {
        r.lang: r.n
        for r in d.filter("doc_id % 97 != 0")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = registry_pass.built("corpus_decontaminate").rows
    assert {r.lang: r.n_docs for r in rows} == expect
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_docs


@given(
    pts=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=(1 << 12) - 1),
            st.integers(min_value=0, max_value=(1 << 12) - 1),
        ),
        min_size=1,
        max_size=50,
        unique=True,
    )
)
@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_zorder_interleave_is_injective_and_bounded(spark, pts):
    """The z-key must be a bijection on the 12-bit lattice: distinct
    (x, y) -> distinct keys, recoverable by de-interleaving, and ordered
    so that equal-x prefixes cluster (the skipping contract's basis)."""
    from mrs_mapreduce_spark.sources.layouts import ZBITS, zorder_key

    df = spark.createDataFrame(pts, "__z_x int, __z_y int")
    rows = df.withColumn("k", zorder_key(["x", "y"])).collect()
    seen = {}
    for r in rows:
        k = r["__zkey"] if "__zkey" in r.__fields__ else r["k"]
        # de-interleave: even bits -> x, odd bits -> y
        x = y = 0
        for bit in range(ZBITS):
            x |= ((k >> (2 * bit)) & 1) << bit
            y |= ((k >> (2 * bit + 1)) & 1) << bit
        assert (x, y) == (r["__z_x"], r["__z_y"])
        assert k not in seen
        seen[k] = (x, y)
        assert 0 <= k < 1 << (2 * ZBITS)


def test_label_propagation_long_chain_exact_components(spark):
    """propagate_min_labels must reach the exact fixpoint on a
    diameter-N chain (worst case for one-hop propagation: rounds ~ N,
    crossing several localCheckpoint boundaries), keep a second
    disconnected component separate, and fail LOUDLY when the guard is
    too small — never return a truncated labeling."""
    from mrs_mapreduce_spark.llm.dedup import propagate_min_labels

    n = 13  # chain 0-1-2-...-12 plus a separate triangle 100-101-102
    chain = [(i, i + 1) for i in range(n - 1)]
    tri = [(100, 101), (101, 102), (100, 102)]
    edges = spark.createDataFrame(chain + tri, ["doc_a", "doc_b"])
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = {
        r.doc_id: r.lbl
        for r in propagate_min_labels(sym).collect()
    }
    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[i] == 100 for i in (100, 101, 102))

    with pytest.raises(RuntimeError, match="no fixpoint"):
        propagate_min_labels(sym, max_rounds=3)


def test_scd2_intervals_partition_the_timeline(registry_pass):
    """Per user: versions are 1..n, intervals are adjacent half-open
    [from, to) with to = next version's from, and exactly one open tail."""
    rows = registry_pass.built("scd2_build").rows
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert by_user
    open_tail = 9223372036854775807
    for user, vs in by_user.items():
        vs.sort(key=lambda r: r.version)
        assert [r.version for r in vs] == list(range(1, len(vs) + 1)), user
        for a, b in zip(vs, vs[1:]):
            assert a.valid_to_us == b.valid_from_us, user
            assert a.valid_from_us < a.valid_to_us, user
        assert vs[-1].valid_to_us == open_tail, user
        assert all(r.valid_to_us == open_tail for r in vs[-1:])


def test_attribution_conserves_revenue(spark, sf_dir, registry_pass):
    """Across channels (incl. '(none)'), attributed purchase counts and
    revenue must equal the raw purchase totals — attribution may move
    credit, never create or destroy it."""
    from mrs_mapreduce_spark.catalog import table

    rows = registry_pass.built("events_attribution").rows
    total_n = sum(r.n_purchases for r in rows)
    total_rev = sum(r.revenue for r in rows)
    raw = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("rev"))
        .first()
    )
    assert total_n == raw.n
    assert abs(total_rev - raw.rev) < 0.05 * len(rows)  # per-channel rounding


@given(
    vals=st.lists(
        st.integers(min_value=-1000, max_value=1000),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
@_SETTINGS
def test_distributed_global_ntile_equals_builtin(spark, vals):
    """events_rfm's distributed global-rank ntile must be bit-identical
    to SQL ntile(4) over the same total order, for any relation size
    (including n < 4 and n % 4 != 0 bucket-remainder cases)."""
    from pyspark.sql.window import Window as W

    from mrs_mapreduce_spark.operators.events import _global_ntile

    df = spark.createDataFrame([(v,) for v in vals], "x int")
    got = {
        (r.x, r.q)
        for r in _global_ntile(df, [F.asc("x")], "q").collect()
    }
    want = {
        (r.x, r.q)
        for r in df.select(
            "x", F.ntile(4).over(W.orderBy("x")).alias("q")
        ).collect()
    }
    assert got == want


def test_scd2_incremental_refresh_equals_full_rebuild(spark, sf_dir):
    """The scale note's incremental claim: re-windowing ONLY the keys
    present in a delta slice reproduces the full rebuild's rows for
    those keys (intervals depend only on same-key history)."""
    from mrs_mapreduce_spark.registry import load_all

    full = load_all()["scd2_build"].builder(spark, sf_dir)
    keys = [r.user_id for r in full.select("user_id").distinct().limit(5).collect()]
    full_rows = {
        (r.user_id, r.version): (r.valid_from_us, r.valid_to_us, r.val)
        for r in full.filter(F.col("user_id").isin(keys)).collect()
    }
    delta_rows = {
        (r.user_id, r.version): (r.valid_from_us, r.valid_to_us, r.val)
        for r in load_all()["scd2_build"]
        .builder(spark, sf_dir)
        .filter(F.col("user_id").isin(keys))
        .collect()
    }
    assert full_rows == delta_rows and full_rows


def test_star_components_log_rounds_on_long_chain(spark):
    """Alternating-star must produce the same exact components as
    one-hop propagation but in O(log^2 n) rounds: a 64-node chain
    (diameter 63 — propagation would need ~63 rounds) must converge in
    <= 8 star rounds, or star_components raises."""
    from mrs_mapreduce_spark.llm.dedup import star_components

    n = 64
    chain = [(i, i + 1) for i in range(n - 1)]
    tri = [(200, 201), (201, 202), (200, 202)]
    edges = spark.createDataFrame(chain + tri, ["doc_a", "doc_b"])
    sym = edges.union(
        edges.select(
            F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")
        )
    )
    labels = {
        r.doc_id: r.lbl
        for r in star_components(sym, max_rounds=8).collect()
    }
    assert all(labels[i] == 0 for i in range(n))
    assert all(labels[i] == 200 for i in (200, 201, 202))


@given(
    left=st.lists(st.integers(0, 4), min_size=0, max_size=12),
    right=st.lists(st.integers(0, 4), min_size=0, max_size=12),
)
@_SETTINGS
def test_intersect_all_is_min_multiplicity(spark, left, right):
    """INTERSECT ALL == per-key min(count_left, count_right) copies."""
    l_df = spark.createDataFrame([(v,) for v in left] or [(None,)], "v int")
    r_df = spark.createDataFrame([(v,) for v in right] or [(None,)], "v int")
    if not left:
        l_df = l_df.filter("v IS NOT NULL")
    if not right:
        r_df = r_df.filter("v IS NOT NULL")
    got = Counter(r.v for r in l_df.intersectAll(r_df).collect())
    lc, rc = Counter(left), Counter(right)
    want = {k: min(n, rc[k]) for k, n in lc.items() if k in rc}
    assert got == Counter(want)


def test_entropy_bounds_and_uniform_extremes(spark, registry_pass):
    """0 <= H <= log2(n_distinct_words); H == 0 iff one distinct word."""
    import math

    rows = registry_pass.built("text_entropy").rows
    assert rows
    for r in rows:
        # entropy is pround()ed to 6 decimals, so allow the 5e-7 quantum
        assert -1e-6 <= r.entropy <= math.log2(r.n_words) + 1e-6
    # synthetic extremes through the same builder path
    df = spark.createDataFrame(
        [(0, "a a a a"), (1, "a b c d")], "doc_id long, text string"
    )
    tf = (
        df.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ent = {
        r.doc_id: r.h
        for r in tf.groupBy("doc_id")
        .agg(
            (
                F.log2(F.sum("c").cast("double"))
                - F.sum(F.col("c") * F.log2("c"))
                / F.sum("c").cast("double")
            ).alias("h")
        )
        .collect()
    }
    assert abs(ent[0] - 0.0) < 1e-12      # all same word
    assert abs(ent[1] - 2.0) < 1e-12      # 4 equiprobable words


def test_weighted_sample_monotone_in_weight(spark):
    """Scaling ALL weights leaves the A-ES selection unchanged (keys
    scale by a positive constant), and the heavier of two docs with the
    same hash-uniform wins the key comparison."""
    rows = [(i, 10 + (i % 7) * 13) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w long")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8),
               16, 10).cast("long")
        + F.lit(0.5)
    ) / F.lit(4294967296.0)

    def topk(weight_col):
        keyed = df.select("doc_id", (F.log(u) / weight_col).alias("k"))
        return [
            r.doc_id
            for r in keyed.orderBy(F.desc("k"), "doc_id").limit(16).collect()
        ]

    assert topk(F.col("w")) == topk(F.col("w") * 3)
    # same u, larger w => larger (less negative) key
    two = spark.createDataFrame([(0, 5), (1, 50)], "doc_id long, w long")
    ks = {
        r.doc_id: r.k
        for r in two.select(
            "doc_id",
            (F.log(F.lit(0.25)) / F.col("w")).alias("k"),
        ).collect()
    }
    assert ks[1] > ks[0]


def test_substring_dedup_flags_exact_copies(spark):
    """Two identical docs must be 100% duplicated grams; a disjoint doc
    0% — through the declared builder's exact logic on a micro-frame."""
    from pyspark.sql.window import Window

    from mrs_mapreduce_spark.llm.dedup import shingles

    text_a = " ".join(f"w{i}" for i in range(20))
    text_b = " ".join(f"z{i}" for i in range(20))
    df = spark.createDataFrame(
        [(0, text_a), (1, text_a), (2, text_b)], "doc_id long, text string"
    )
    g = shingles(df, k=8).select("doc_id", F.md5("sh").alias("h"))
    per = g.groupBy("doc_id", "h").agg(F.count(F.lit(1)).alias("c"))
    per = per.withColumn(
        "nd", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    dup = F.when(F.col("nd") >= 2, F.col("c")).otherwise(F.lit(0))
    out = {
        r.doc_id: (r.n_dup, r.n_all)
        for r in per.groupBy("doc_id")
        .agg(F.sum(dup).alias("n_dup"), F.sum("c").alias("n_all"))
        .collect()
    }
    assert out[0][0] == out[0][1] and out[1][0] == out[1][1]  # full dup
    assert out[2][0] == 0  # disjoint doc untouched


@given(vals=st.lists(st.integers(-50, 50), min_size=1, max_size=40))
@_SETTINGS
def test_global_rank_matches_row_number(spark, vals):
    """_global_rank's _r must be exactly row_number() over the same total
    order, and _n the relation size — on any multiset, any partition
    spread."""
    from pyspark.sql.window import Window

    from mrs_mapreduce_spark.operators.events import _global_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long").repartition(5)
    order = [F.asc("v"), F.asc("id")]
    got = {
        r.id: (r._r, r._n)
        for r in _global_rank(df, order).collect()
    }
    want = {
        r.id: r.rn
        for r in df.withColumn(
            "rn", F.row_number().over(Window.orderBy(*order))
        ).collect()
    }
    n = len(vals)
    assert {k: v[0] for k, v in got.items()} == want
    assert all(v[1] == n for v in got.values())


@given(
    rows=st.lists(
        st.tuples(st.sampled_from(["a", "b", "c"]), st.integers(-50, 50)),
        min_size=1,
        max_size=40,
    )
)
@_SETTINGS
def test_global_rank_group_rebase_matches_per_group_row_number(spark, rows):
    """Per-group rebasing of _global_rank (the scalable substitute for a
    per-group window, SCALE.md rule 7): the composite global rank over
    (group, value) rebased by each group's minimum rank must equal
    row_number() within the group — on any multiset, any group skew
    (including single-group and singleton-group inputs)."""
    from pyspark.sql.window import Window

    from mrs_mapreduce_spark.operators.events import _global_rank

    data = [(i, g, v) for i, (g, v) in enumerate(rows)]
    df = spark.createDataFrame(data, "id long, g string, v long").repartition(5)
    order = [F.asc("g"), F.asc("v"), F.asc("id")]
    ranked = _global_rank(df, order).drop("_n")
    grp = ranked.groupBy(F.col("g").alias("g2")).agg(
        F.min("_r").alias("first_r")
    )
    got = {
        r.id: r.r
        for r in ranked.join(
            F.broadcast(grp), F.col("g") == F.col("g2")
        )
        .select("id", (F.col("_r") - F.col("first_r") + 1).alias("r"))
        .collect()
    }
    w = Window.partitionBy("g").orderBy("v", "id")
    want = {
        r.id: r.rn
        for r in df.withColumn("rn", F.row_number().over(w)).collect()
    }
    assert got == want


def _bpe_reference(word_counts, rounds=3):
    """Classic greedy BPE trainer (Sennrich et al. 2016): per round, the
    max-count adjacent pair (ties: lexicographic) merged left-to-right
    non-overlapping in every word."""
    toks = {w: list(w) for w in word_counts}
    merges = []
    for _ in range(rounds):
        pc = Counter()
        for w, ts in toks.items():
            for a, b in zip(ts, ts[1:]):
                pc[(a, b)] += word_counts[w]
        if not pc:
            break
        (left, right), cnt = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        merges.append((left, right, cnt))
        for w, ts in toks.items():
            out, i = [], 0
            while i < len(ts):
                if i + 1 < len(ts) and ts[i] == left and ts[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(ts[i])
                    i += 1
            toks[w] = out
    return merges


@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(
                ["aaaa", "abab", "aab", "banana", "bb", "a", "cacao"]
            ),
            min_size=1,
            max_size=6,
        ),
        min_size=1,
        max_size=4,
    )
)
@_SETTINGS
def test_bpe_train_matches_reference_trainer(spark, tmp_path_factory, docs):
    """The window-algebra merge (run-parity greedy) must equal the
    classic sequential BPE trainer on repetition-heavy words — the
    l==r chains and adjacent-candidate overlaps are the cases where a
    naive 'merge every candidate' window would diverge."""
    from mrs_mapreduce_spark.llm.text import text_bpe_train

    rows = [
        (i, " ".join(ws), "en", "src", len(" ".join(ws)))
        for i, ws in enumerate(docs)
    ]
    path = str(tmp_path_factory.mktemp("bpe"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "length long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    counts = Counter(w for ws in docs for w in ws)
    want = [
        (i + 1, l, r, c)
        for i, (l, r, c) in enumerate(_bpe_reference(counts))
    ]
    got = [
        (r.merge_rank, r.lhs, r.rhs, r.pair_count)
        for r in text_bpe_train(spark, path)
        .orderBy("merge_rank")
        .collect()
    ]
    assert got == want


def test_winnow_shared_run_shares_fingerprint(spark, tmp_path_factory):
    """The winnowing guarantee (Schleimer et al. 2003): two docs sharing
    any run of w + k - 1 = 6 words share at least one selected (fp)
    value, while selection keeps only a fraction of grams."""
    from mrs_mapreduce_spark.llm.text import text_winnow_fingerprint

    shared = "lorem ipsum dolor sit amet consectetur"  # 6 words
    rows = [
        (0, f"alpha beta {shared} gamma delta epsilon", "en", "s", 0),
        (1, f"zeta eta theta iota {shared} kappa", "en", "s", 0),
        (2, "completely different words only here now", "en", "s", 0),
    ]
    path = str(tmp_path_factory.mktemp("winnow"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "length long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    fps = text_winnow_fingerprint(spark, path).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared 6-word run must share an fp"
    assert not (by_doc[0] & by_doc[2]) and not (by_doc[1] & by_doc[2])
    # density: winnowing selects, it doesn't keep every gram
    n_grams_doc0 = len(rows[0][1].split()) - 2
    assert len(by_doc[0]) < n_grams_doc0


@given(
    w=st.integers(min_value=1, max_value=37),
    h=st.integers(min_value=1, max_value=23),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=40, deadline=None)
def test_bmp_codec_roundtrips_any_dims(w, h, seed):
    """Pure-codec property: for ANY dims (widths exercise every
    stride-padding class 3w%4 in {0,1,2,3}) and any pixel content, the
    parse returns the encoded dims and exactly 3x the pixel sum."""
    from mrs_mapreduce_spark.llm.codecs import decode_bmp, encode_bmp_gray24

    def px(x, y):
        return (seed + 31 * x + 7 * y) % 256

    dw, dh, s = decode_bmp(encode_bmp_gray24(w, h, px))
    assert (dw, dh) == (w, h)
    assert s == 3 * sum(px(x, y) for y in range(h) for x in range(w))


@given(
    samples=st.lists(
        st.integers(min_value=-32768, max_value=32767),
        min_size=0,
        max_size=33,
    ),
    rate=st.sampled_from([8000, 16000, 44100, 48000]),
)
@settings(max_examples=40, deadline=None)
def test_wav_codec_roundtrips_any_samples(samples, rate):
    """PCM16 round trip for any sample list (odd lengths exercise the
    odd-data-chunk pad byte) at several rates."""
    from mrs_mapreduce_spark.llm.codecs import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    r, decoded = decode_wav_pcm16(encode_wav_pcm16(samples, rate=rate))
    assert r == rate
    assert decoded == samples


@given(
    occ=st.lists(
        st.tuples(st.integers(0, 2), st.sampled_from("abcdefgh")),
        min_size=1,
        max_size=60,
    ),
    k=st.integers(1, 4),
)
@_SETTINGS
def test_mg_merge_bound_holds_on_any_multiset(spark, occ, k):
    """Misra-Gries offset-form merge: est <= true <= est + err for EVERY
    key — including keys dropped from every segment summary."""
    from mrs_mapreduce_spark.operators.sketches import mg_merge

    wc_py = Counter(occ)  # {(seg, w): cnt}
    wc = spark.createDataFrame(
        [(s, w, c) for (s, w, c) in
         ((s, w, c) for (s, w), c in wc_py.items())],
        "seg int, w string, cnt long",
    )
    merged, err = mg_merge(wc, k)
    est = {r.w: r.est_cnt for r in merged.collect()}
    bound = err.collect()[0].err_bound
    true = Counter()
    for (s, w), c in wc_py.items():
        true[w] += c
    for w, t in true.items():
        e = est.get(w, 0)
        assert e <= t <= e + bound, (w, e, t, bound)
    # summary never invents keys
    assert set(est) <= set(true)


@given(
    base=st.dictionaries(
        st.integers(0, 40), st.integers(0, 3), min_size=1, max_size=25
    ),
    touched=st.sets(st.integers(0, 40), max_size=8),
)
@_SETTINGS
def test_checksum_diff_finds_exactly_the_dirty_buckets(spark, base, touched):
    """The digest pre-pass is COMPLETE: every bucket containing a
    modified, inserted, or deleted key is reported dirty; buckets whose
    (k, fp) multiset is identical are pruned."""
    from mrs_mapreduce_spark.operators.setops import checksum_dirty_buckets

    n_buckets = 8
    rows_a = [(k, k % n_buckets, f"fp{v}") for k, v in base.items()]
    b_items = dict(base)
    for k in touched:
        if k in b_items:
            if k % 2:
                b_items[k] = b_items[k] + 10  # update
            else:
                del b_items[k]  # delete
        else:
            b_items[k] = 99  # insert
    rows_b = [(k, k % n_buckets, f"fp{v}") for k, v in b_items.items()]
    schema = "k long, bucket int, fp string"
    fa = spark.createDataFrame(rows_a, schema)
    fb = spark.createDataFrame(rows_b, schema)
    got = {r.bucket for r in checksum_dirty_buckets(fa, fb).collect()}

    from collections import defaultdict

    ma, mb = defaultdict(Counter), defaultdict(Counter)
    for k, bkt, fp in rows_a:
        ma[bkt][(k, fp)] += 1
    for k, bkt, fp in rows_b:
        mb[bkt][(k, fp)] += 1
    want = {
        bkt for bkt in set(ma) | set(mb) if ma.get(bkt) != mb.get(bkt)
    }
    assert got == want


def test_winnow_overflow_guard_raises_loudly(spark, tmp_path_factory):
    """The pos >= 2^20 key-packing guard (ADVICE r7, fixed r8): a doc
    with more than 2^20 grams would underflow the position field into
    the hash field and corrupt the winnowing tie order IDENTICALLY in
    both engines — silent wrongness the oracle can't catch. The builder
    must therefore raise at runtime, not truncate."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mrs_mapreduce_spark.llm.text import text_winnow_fingerprint

    n_words = (1 << 20) + 2  # grams = n - 2 = 2^20 -> max pos = 2^20
    rows = [(0, "a " * (n_words - 1) + "a", "en", "s", 0)]
    path = str(tmp_path_factory.mktemp("winnow_big"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "length long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    with _pytest.raises(
        SparkRuntimeException, match="winnow key packing overflow"
    ):
        text_winnow_fingerprint(spark, path).collect()


def test_paragraph_overflow_guard_raises_loudly(spark, tmp_path_factory):
    """dedup_paragraph's block_idx >= 2^20 packing guard (same hazard
    class as the winnow guard): a ~10.5M-word document would collide
    its ownership keys into the next doc_id's range identically in
    both engines, so the builder must raise, not corrupt."""
    import pytest as _pytest
    from pyspark.errors.exceptions.captured import SparkRuntimeException

    from mrs_mapreduce_spark.llm.dedup import dedup_paragraph

    n_words = 10 * (1 << 20) + 11  # blocks = ceil(n/10) = 2^20 + 2
    rows = [(0, "a " * (n_words - 1) + "a", "en", "s", 0)]
    path = str(tmp_path_factory.mktemp("para_big"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "length long"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    with _pytest.raises(
        SparkRuntimeException, match="paragraph key packing overflow"
    ):
        dedup_paragraph(spark, path).collect()


def test_retention_offset_zero_is_always_full(spark, sf_dir):
    """E108 invariant: every cohort's week_offset=0 cell contains the
    whole cohort (the first active week is, by construction, active)."""
    from mrs_mapreduce_spark.registry import load_all

    df = load_all()["events_retention_cohorts"].builder(spark, sf_dir)
    zero = df.filter(F.col("week_offset") == 0).collect()
    assert zero, "no cohorts produced"
    for r in zero:
        assert r["n_active"] == r["cohort_size"], r
        assert r["retention"] == 1.0, r
    # offsets never negative; n_active never exceeds the cohort
    bad = df.filter(
        (F.col("week_offset") < 0)
        | (F.col("n_active") > F.col("cohort_size"))
    ).count()
    assert bad == 0


def test_bootstrap_ci_brackets_point_mean_and_is_deterministic(
    spark, sf_dir
):
    """E109 invariants: ci_lo <= point_mean <= ci_hi for every group
    (Poisson(1) weights preserve the mean in expectation and 32
    replicates bracket it comfortably at fixture scale), and two
    independent builds are bit-identical (PRF weights, no RNG state)."""
    from mrs_mapreduce_spark.registry import load_all

    b = load_all()["agg_bootstrap_ci"].builder
    rows1 = sorted(map(tuple, b(spark, sf_dir).collect()))
    rows2 = sorted(map(tuple, b(spark, sf_dir).collect()))
    assert rows1 == rows2
    for et, n, mean, lo, hi in rows1:
        assert lo <= mean <= hi, (et, lo, mean, hi)
        assert lo < hi
        assert n > 0


def test_url_keepbest_survivor_really_is_best(spark, sf_dir, registry_pass):
    """E110 invariant: per canonical URL, the kept doc's score equals
    the group max and survivors partition the corpus (sum of n_dups =
    total docs; one survivor per distinct canonical URL)."""
    from mrs_mapreduce_spark.registry import load_all

    reg = load_all()
    urls = reg["url_canonicalize"].builder(spark, sf_dir)
    rows = registry_pass.built("corpus_dedup_url_keepbest").rows
    n_urls = urls.select("url").distinct().count()
    n_docs = urls.count()
    assert len(rows) == n_urls
    assert sum(r["n_dups"] for r in rows) == n_docs


def test_quality_score_null_text_matches_oracle(spark, tmp_path_factory):
    """ADVICE r10: NULL text must score sum_w=0 / keep=false (not NULL)
    in BOTH the E106 classifier and the E110 keep-best ranking, matching
    the oracles' COALESCE(..., 0). Pre-fix, qc_sum_w yielded NULL for
    NULL toks -> keep=NULL in Spark vs false in DuckDB, and a NULL
    kept_sum_w in max_by ordering. The driver fixtures carry no NULL
    text, so this pins the semantics on a NULL-bearing fixture."""
    import duckdb
    from pyspark.sql import types as T

    from mrs_mapreduce_spark.registry import load_all

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )
    rows = [
        (0, "alpha beta gamma", "en", "srcA", 16),
        (40, None, "en", "srcA", 0),     # NULL text, same canonical URL
        (1, None, "en", "srcB", 0),      # NULL text, alone on its URL
        (2, "zeta", "en", "srcB", 4),
    ]
    path = str(tmp_path_factory.mktemp("nullqc"))
    spark.createDataFrame(rows, schema).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/documents.parquet")

    reg = load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet/*.parquet')"
    )

    q = reg["text_quality_classifier"]
    got = {r["doc_id"]: r.asDict() for r in q.builder(spark, path).collect()}
    assert got[1]["n_features"] == 0 and got[1]["keep"] is False
    assert got[1]["score"] is None
    want = {
        r[0]: dict(zip(("doc_id", "n_features", "score", "keep"), r))
        for r in con.execute(q.oracle).fetchall()
    }
    assert set(got) == set(want)
    for k in got:
        assert got[k]["n_features"] == want[k]["n_features"], k
        assert got[k]["keep"] == want[k]["keep"], k
        assert (got[k]["score"] is None) == (want[k]["score"] is None), k

    q = reg["corpus_dedup_url_keepbest"]
    got = sorted(map(tuple, q.builder(spark, path).collect()))
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want
    # doc 0 (real text, positive-or-negative score but non-NULL) and
    # doc 40 (NULL text -> sum_w 0) share a canonical URL; the survivor
    # must be chosen by the same rule in both engines and kept_sum_w is
    # never NULL
    assert all(r[3] is not None for r in got)


def test_bpe_oracle_survives_early_pair_exhaustion(spark, tmp_path_factory):
    """r11 text review: when fewer than 3 merges exist (pairs run dry),
    _bpe_learn breaks — and the oracle's per-round CROSS JOIN used to
    collapse the whole token relation to empty, returning 0 rows while
    Spark returned the full vocab encoding. The sentinel no-op merge
    row (' ', ' ', 0) pins builder == oracle on a pair-exhausted
    corpus for BOTH text_bpe_encode and text_bpe_train."""
    import duckdb

    from mrs_mapreduce_spark.registry import load_all

    # every doc is 'ab ab ab': round 1 merges (a,b); round 2 has no
    # pairs left
    rows = [(i, "ab ab ab", "en", "src", 8) for i in range(3)]
    path = str(tmp_path_factory.mktemp("bpeexh"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    reg = load_all()
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet/*.parquet')"
    )

    q = reg["text_bpe_encode"]
    got = sorted(map(tuple, q.builder(spark, path).collect()))
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want
    assert got == [("ab", 9, 2, 1, 0.5)]  # one word, fully merged

    q = reg["text_bpe_train"]
    got = sorted(map(tuple, q.builder(spark, path).collect()))
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want
    assert got == [(1, "a", "b", 9)]  # exactly ONE merge, no sentinel


def test_text_scrub_null_text_matches_oracle(spark, tmp_path_factory):
    """r11 text review: text_scrub was the ONE query pairing Spark
    F.concat (NULL-propagating) with DuckDB concat() (NULL-skipping):
    a NULL-text doc yielded normalized='' in the oracle vs NULL in
    Spark. The oracle now uses '||' so both engines propagate NULL."""
    import duckdb

    from mrs_mapreduce_spark.registry import load_all

    rows = [(0, "a  1x b", "en", "s", 7), (1, None, "en", "s", 0)]
    path = str(tmp_path_factory.mktemp("nullscrub"))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
        "n_chars int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")

    q = load_all()["text_scrub"]
    got = sorted(map(tuple, q.builder(spark, path).collect()))
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{path}/documents.parquet/*.parquet')"
    )
    want = sorted(map(tuple, con.execute(q.oracle).fetchall()))
    assert got == want
    assert got[1] == (1, None, None, None)  # NULL propagates in BOTH


def test_soft_weights_partition_and_mass(spark, sf_dir, registry_pass):
    """E112 invariants: every document appears exactly once; weights
    within a cluster are identical and sum to 1.0 per cluster (the
    expected sampled mass equals the hard-deduped corpus); cluster
    sizes agree with dedup_components' n_docs for every multi-doc
    component."""
    rows = registry_pass.built("dedup_soft_weights").rows
    from mrs_mapreduce_spark.catalog import table

    total = table(spark, sf_dir, "documents").count()
    assert len(rows) == total
    assert len({r["doc_id"] for r in rows}) == total
    by_comp: dict = {}
    for r in rows:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, members in by_comp.items():
        size = members[0]["cluster_size"]
        assert len(members) == size
        assert all(m["cluster_size"] == size for m in members)
        assert abs(sum(m["weight"] for m in members) - 1.0) < 1e-4
    comp_rows = registry_pass.built("dedup_components").rows
    for c in comp_rows:
        assert len(by_comp[c["component"]]) == c["n_docs"]


def test_diversity_sample_quota_and_centrality(spark, sf_dir, registry_pass):
    """E113 invariants: per cell at most QUOTA survivors with ranks
    1..min(|cell|, QUOTA); every kept member's distance <= every
    dropped member's distance in its cell (centrality); every cell is
    represented (coverage)."""
    from mrs_mapreduce_spark.llm.similarity import (
        _DIVERSITY_QUOTA,
        semdedup_cells,
    )

    kept = registry_pass.built("corpus_diversity_sample").rows
    cells = {}
    for r in kept:
        cells.setdefault(r["cid"], []).append(r)
    assigned = semdedup_cells(spark, sf_dir).collect()
    cell_sizes: dict = {}
    for r in assigned:
        cell_sizes[r["cid"]] = cell_sizes.get(r["cid"], 0) + 1
    assert set(cells) == set(cell_sizes)  # coverage: every cell kept
    for cid, members in cells.items():
        want_n = min(cell_sizes[cid], _DIVERSITY_QUOTA)
        assert len(members) == want_n
        assert sorted(m["rk"] for m in members) == list(
            range(1, want_n + 1)
        )


def test_asof_backward_includes_same_microsecond_signup(
    spark, tmp_path_factory
):
    """r11 joins review: the oracle's correlated max(us) WHERE ts <=
    p.ts includes a same-microsecond signup whatever its event_id; a
    rows frame ordered by (ts_ns, event_id) excluded it when the
    signup's event_id sorted after the purchase's. The RANGE-frame max
    builder must match the oracle on exactly that tie."""
    import datetime as dt

    import duckdb

    from mrs_mapreduce_spark.registry import load_all

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        # purchase event_id=10 and signup event_id=11 at the SAME us
        (10, t0, 7, "purchase", 1.0, "{}"),
        (11, t0, 7, "signup", 0.0, "{}"),
        # control: ordinary earlier signup for another user
        (1, t0 - dt.timedelta(minutes=5), 8, "signup", 0.0, "{}"),
        (2, t0, 8, "purchase", 2.0, "{}"),
    ]
    path = str(tmp_path_factory.mktemp("asoftie"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/events.parquet")

    q = load_all()["join_asof"]
    got = {r["event_id"]: r["asof_signup_us"]
           for r in q.builder(spark, path).collect()}
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"read_parquet('{path}/events.parquet/*.parquet')"
    )
    want = {r[0]: r[2] for r in con.execute(q.oracle).fetchall()}
    assert got == want
    # the same-us signup IS the as-of match for purchase 10
    t0_us = int(t0.replace(tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
    assert got[10] == t0_us


def test_boilerplate_strip_invariants(spark, sf_dir, registry_pass):
    """E114 invariants: every document appears exactly once; spliced
    header/footer lines are ALWAYS stripped (their DF is ~n/3, ~n/4 >>
    the threshold) while every organic body line survives (unique
    texts, DF 1); n_kept + n_stripped reconciles with line counts; a
    doc stripped to nothing yields kept_text = '' not a dropped row."""
    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.llm.curation import _FTR, _HDR

    rows = registry_pass.built("corpus_boilerplate_strip").rows
    docs = {
        r["doc_id"]: r["text"]
        for r in table(spark, sf_dir, "documents").collect()
    }
    assert len(rows) == len(docs)
    assert {r["doc_id"] for r in rows} == set(docs)
    for r in rows:
        did, text = r["doc_id"], docs[r["doc_id"]]
        n_lines = (did % 3 == 0) + (text is not None) + (did % 4 == 0)
        assert r["n_lines"] == n_lines
        # boilerplate always stripped, organic line always kept
        want = text if text is not None else ""
        assert r["kept_text"] == want
        assert r["n_kept"] == (1 if text is not None else 0)
        assert _HDR not in r["kept_text"] and _FTR not in r["kept_text"]


def test_safe_corr_parity_and_degenerate(spark):
    """exprs.safe_corr contract: (a) on degenerate input (zero variance,
    n >= 2) it yields NULL exactly like DuckDB's corr, where ANSI
    F.corr throws DIVIDE_BY_ZERO; (b) on regular input it equals
    F.corr at pround-6 repr (same algebraic moments, division order
    only)."""
    import duckdb
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.exprs import pround, safe_corr

    const = spark.createDataFrame(
        [(1.0, 2.0), (1.0, 3.0)], "x double, y double"
    )
    assert const.agg(safe_corr("x", "y")).collect()[0][0] is None
    assert duckdb.sql(
        "SELECT corr(x, y) FROM (VALUES (1.0, 2.0), (1.0, 3.0)) t(x, y)"
    ).fetchall()[0][0] is None
    import random

    rng = random.Random(7)
    rows = [(rng.uniform(-5, 5), rng.uniform(-5, 5)) for _ in range(500)]
    df = spark.createDataFrame(rows, "x double, y double")
    got = df.agg(
        pround(safe_corr("x", "y"), 6).alias("s"),
        pround(F.corr("x", "y"), 6).alias("c"),
    ).collect()[0]
    assert repr(got["s"]) == repr(got["c"])


def test_fold_key_parity_on_divergent_codepoints(spark):
    """The case-fold seam, pinned independently of the stress fixture:
    engine-native lower() PROVABLY diverges on İ (Java 'i̇' vs utf8proc
    'i'), so the declared dedup key is the ASCII fold — md5(fold) must
    agree bit-for-bit between Spark and DuckDB on the divergence set,
    and the native-lower key must STAY divergent (if engines ever
    converge, the fold discipline can be revisited)."""
    import duckdb

    from mrs_mapreduce_spark.exprs import (
        fold_lower,
        fold_lower_sql,
        fold_upper,
        fold_upper_sql,
    )
    from pyspark.sql import functions as F

    texts = ["İstanbul Straße ẞ MIXED case", "ǅungla TITLE", "ΣΙΣΥΦΟΣ",
             "plain ascii TEXT", "emoji 😀 MiXeD"]
    df = spark.createDataFrame([(t,) for t in texts], "t string")
    got = df.select(
        F.md5(fold_lower("t")).alias("lo"),
        F.md5(fold_upper("t")).alias("up"),
        F.md5(F.lower("t")).alias("native"),
    ).collect()
    con = duckdb.connect()
    for t, r in zip(texts, got):
        lo, up, native = con.execute(
            f"SELECT md5({fold_lower_sql('?')}),"
            f" md5({fold_upper_sql('?')}), md5(lower(?))",
            [t, t, t],
        ).fetchone()
        assert r["lo"] == lo, f"fold_lower split on {t!r}"
        assert r["up"] == up, f"fold_upper split on {t!r}"
        if "İ" in t or "ẞ" in t:
            assert r["native"] != native, (
                f"native lower() converged on {t!r} — revisit fold note"
            )
