"""Physical-plan assertions: the plans we designed for 100 TB are the plans
Catalyst actually produces (pushdown, broadcast, partial agg, top-k).
"""

from __future__ import annotations

import re

from mrs_mapreduce_spark.registry import load_all


def test_scan_pushdown(registry_pass):
    plan = registry_pass.built("scan_parquet").plan
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_quantity)" in plan or "GreaterThanOrEqual" in plan
    # column pruning: payload columns not read
    assert "l_extendedprice" not in plan


def test_groupby_partial_aggregation(registry_pass):
    plan = registry_pass.built("groupby_agg").plan
    # partial (map-side combine) + final aggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "partial_sum" in plan or "partial" in plan


def test_broadcast_join_is_broadcast(registry_pass):
    plan = registry_pass.built("join_broadcast").plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_uses_take_ordered(registry_pass):
    plan = registry_pass.built("topk").plan
    assert "TakeOrderedAndProject" in plan


def test_semi_anti_join_operators(registry_pass):
    assert "LeftSemi" in registry_pass.built("join_semi").plan
    assert "LeftAnti" in registry_pass.built("join_anti").plan


def test_theta_join_not_cartesian(registry_pass):
    """Equi component must be the join key; inequality stays a residual."""
    plan = registry_pass.built("join_theta").plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_map_project_no_shuffle(registry_pass):
    plan = registry_pass.built("map_project").plan
    assert "Exchange" not in plan


def test_codegen_covers_flagship(spark, sf_dir):
    df = load_all()["groupby_agg"].builder(spark, sf_dir)
    df.collect()  # AQE shows codegen spans only in the finalized plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    # "*(n)" prefixes mark operators inside WholeStageCodegen stage n
    assert "*(1)" in plan and "*(2)" in plan, plan


def test_pergroup_topk_rank_limit_pushdown(registry_pass):
    plan = registry_pass.built("topk_pergroup").plan
    assert "WindowGroupLimit" in plan


def test_lateral_decorrelates_to_rank_pushdown(registry_pass):
    """LATERAL must become a window rank-limit plan, never a per-row loop."""
    plan = registry_pass.built("join_lateral").plan
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_pruned_join_probe_shape(registry_pass):
    """r12 bitmap bloom: the probe is ONE broadcast of a single bitmap
    row (nested-loop crossJoin) + codegen shift/mask filter — zero probe
    joins — and the exact join stays the only BroadcastHashJoin. The
    fact table never shuffles before the filter."""
    plan = registry_pass.built("join_bloom_pruned").plan
    assert plan.count("BroadcastHashJoin") == 1, plan
    assert "BroadcastNestedLoopJoin" in plan, plan  # 1-row bitmap ship
    assert "shiftright" in plan, plan  # membership is filter arithmetic
    assert "SortMergeJoin" not in plan, plan


def test_histogram_single_partial_aggregation(registry_pass):
    plan = registry_pass.built("agg_histogram").plan
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Exchange") == 1, plan  # only the bucket rollup


def test_anomaly_stats_broadcast_back(registry_pass):
    """The per-type moments join onto events map-side (broadcast)."""
    plan = registry_pass.built("events_anomaly").plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pack_contexts_distributed_prefix_sum(registry_pass):
    """The doc-level running sum must be partitioned by bucket; the only
    SinglePartition exchange feeds the tiny per-bucket offset window."""
    plan = registry_pass.built("corpus_pack_contexts").plan
    assert "windowspecdefinition(bucket#" in plan.replace("\n", " "), plan
    # at fixture scale the planner broadcasts the offsets relation from
    # its measured stats (unhinted — at 100 TB it grows and flips to the
    # co-partitioned shuffle join the in-bucket window pays for anyway)
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    # exactly one SinglePartition exchange — the SUPER-bucket window over
    # N/256^2 rows (the per-bucket windows are all partition-bounded)
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_decontaminate_broadcast_semi_probe(registry_pass):
    """Benchmark shingles probe the corpus map-side: LeftSemi broadcast;
    the flagged-id relation also broadcasts onto the final agg."""
    plan = registry_pass.built("corpus_decontaminate").plan
    assert "LeftSemi, BuildRight" in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_repetition_is_scan_fused(registry_pass):
    """Gopher gate = pure projection: one scan, zero shuffles, no Python."""
    plan = registry_pass.built("text_repetition").plan
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("FileScan") == 1, plan


def test_mix_weights_single_scan(registry_pass):
    """Corpus totals come from a window over the aggregated domain
    relation — the corpus must be scanned exactly once."""
    plan = registry_pass.built("corpus_mix_weights").plan
    assert plan.count("FileScan") == 1, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_triangles_all_joins_broadcast(registry_pass):
    """Wedge-close joins on the tiny edge relation must broadcast, and the
    orientation must keep the plan free of cartesian products."""
    plan = registry_pass.built("graph_triangles").plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_stream_static_join_dim_broadcast(spark, sf_dir):
    """The static dim must enter the micro-batch as a broadcast probe —
    checked on the batch twin of the stream plan (same join planning)."""
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.streaming.sinks import _EVENT_DIM

    dim = spark.createDataFrame(
        list(_EVENT_DIM), "event_type string, category string, weight double"
    )
    ev = table(spark, sf_dir, "events")
    df = ev.join(F.broadcast(dim), "event_type").select("event_id", "category")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_write_is_single_range_shuffle(spark, sf_dir):
    """The clustered write plan: one RangePartitioning exchange on the
    z-key, sort within partitions, no global sort."""
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.sources.layouts import (
        _minmax_struct,
        _scale_expr,
        zorder_key,
    )

    orders = table(spark, sf_dir, "orders")
    cols = ["o_custkey", "o_totalprice"]
    bounds = _minmax_struct(orders, cols)
    scaled = orders.crossJoin(F.broadcast(bounds)).select(
        orders["*"], *[_scale_expr(c).alias(f"__z_{c}") for c in cols]
    )
    keyed = scaled.withColumn("__zkey", zorder_key(cols))
    staged = keyed.repartitionByRange(16, "__zkey").sortWithinPartitions(
        "__zkey"
    )
    plan = staged._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning(__zkey" in plan.lower()
    # local sort only — no second exchange after the range partitioning
    assert plan.lower().count("exchange rangepartitioning") == 1


def test_scan_profile_single_scan_expand(registry_pass):
    """Exact multi-distinct must plan as ONE scan + Expand, not one scan
    per distinct column."""
    plan = registry_pass.built("scan_profile").plan
    assert plan.count("FileScan parquet") == 1
    assert "Expand" in plan


def test_postings_partial_aggregation(registry_pass):
    """Posting-list build must partial-aggregate before the term shuffle."""
    plan = registry_pass.built("text_postings").plan
    assert "partial_count" in plan or "partial" in plan.lower()


def test_no_cartesian_products_anywhere(registry_pass):
    """No declared query may plan a CartesianProduct — the one join shape
    that cannot survive scale. (BroadcastNestedLoopJoin is allowed: it is
    the correct plan for broadcast scalar-subquery rows and non-equi
    broadcast range probes, both bounded by the broadcast side.)"""
    offenders = [
        name
        for name in registry_pass
        if "CartesianProduct" in registry_pass.built(name).plan
    ]
    assert not offenders, offenders


def test_rfm_no_global_window(registry_pass):
    """events_rfm quartiles must use the distributed global-rank pattern:
    zero WindowExec anywhere (the old shape was three single-partition
    ntile windows), exact range partitioning per dimension, offsets joined
    back as broadcasts."""
    plan = registry_pass.built("events_rfm").plan
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_rfm_rank_chain_single_range_exchange(spark, sf_dir):
    """Each ntile dimension's checkpoint-time plan must carry exactly ONE
    range exchange (the declared irreducible shuffle per total order) —
    AQE must not insert a second around the repartitionByRange, and the
    sortWithinPartitions must ride the range partitioning, not add an
    exchange of its own (r13, verdict task #5 plan pin; the eager
    localCheckpoint hides this plan from the final query, so pin the
    pre-checkpoint chain the helper actually executes)."""
    from pyspark.sql import functions as F

    from mrs_mapreduce_spark.catalog import table
    from mrs_mapreduce_spark.operators.events import _ranked_chain

    per_user = (
        table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    chain = _ranked_chain(per_user, [F.desc("freq"), F.asc("user_id")])
    plan = chain._jdf.queryExecution().executedPlan().toString()
    assert plan.count("rangepartitioning") == 1, plan


def test_bm25_topk_and_broadcast_scoring(registry_pass):
    """BM25: the scoring join must broadcast the query-term/df side and
    the global top-10 must be TakeOrderedAndProject, not a
    single-partition sort of the scored relation."""
    plan = registry_pass.built("text_bm25").plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def test_perplexity_integer_quantized_sum(registry_pass):
    """The per-doc nll sum must aggregate int64 micro-nats (order-free),
    partial->final, with no Python in the plan."""
    plan = registry_pass.built("text_perplexity").plan
    assert plan.count("HashAggregate") >= 2, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scd2_build_single_window_pass(registry_pass):
    """Interval + version must come from ONE user-partitioned window
    (one exchange), no self-join."""
    plan = registry_pass.built("scd2_build").plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_attribution_single_window_exchange(registry_pass):
    """Attribution = one user_id window + channel rollup: exactly one
    full-relation exchange before the tiny aggregate."""
    plan = registry_pass.built("events_attribution").plan
    assert plan.count("Window") == 1, plan
    assert "Join" not in plan, plan


def test_asof_nearest_single_window_pass(registry_pass):
    """Both direction candidates (backward last + forward first) must
    share ONE exchange and ONE sort — Spark splits the two frames into
    two Window operators, but the second reuses the first's ordering,
    so the relation shuffles and sorts exactly once and there is no
    self-join."""
    plan = registry_pass.built("join_asof_nearest").plan
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert plan.count("Sort ") == 1, plan
    assert "Join" not in plan, plan


def test_null_safe_join_stays_hash_join(registry_pass):
    """eqNullSafe must not fall back to nested-loop: Catalyst normalizes
    <=> into hash-joinable keys and the 5-row dim broadcasts."""
    plan = registry_pass.built("join_null_safe").plan
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bitmap_distinct_partial_bitmaps(registry_pass):
    """Both aggregation levels partial-aggregate: the shuffle carries
    bitmaps / per-bucket counts, never raw keys."""
    plan = registry_pass.built("agg_bitmap_distinct").plan
    # bitmap level is a SortAggregate (binary buffer), count level a
    # HashAggregate — BOTH must partial-aggregate map-side
    assert "partial_bitmap_construct_agg" in plan
    assert "partial_sum" in plan
    # no Expand: this is the point vs count(DISTINCT x) with other aggs
    assert "Expand" not in plan


def test_window_count_distinct_single_window(registry_pass):
    plan = registry_pass.built("window_count_distinct").plan
    assert plan.count("Window") - plan.count("WindowGroupLimit") == 1


def test_zipf_ranks_only_topk(registry_pass):
    """The global ranking window must sit on TOP of the top-256 cut
    (TakeOrderedAndProject), never over the full vocabulary."""
    plan = registry_pass.built("text_zipf").plan
    assert "TakeOrderedAndProject" in plan


def test_substring_dedup_shuffles_hashes_only(registry_pass):
    """Gram text must be hashed at the scan: no shuffle carries 'sh'."""
    plan = registry_pass.built("dedup_substring").plan
    assert "md5" in plan
    import re
    for exch in re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "sh#" not in exch, exch


def test_semdedup_pairs_join_on_cell(registry_pass):
    """The collapsed victim stage must stay cell-keyed equi-joins: group
    reps pair on the cell id and victim probes join on (cell, group) —
    never a cartesian, never a copy-level pair join (round-5c collapse:
    the pairwise self-join was quadratic in exact-duplicate mass)."""
    plan = registry_pass.built("dedup_semdedup").plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the rep-pair join is an equi-join KEYED ON THE CELL (xcid)
    assert "SortMergeJoin [xcid" in plan or "BroadcastHashJoin [xcid" in plan \
        or "ShuffledHashJoin [xcid" in plan
    # the probe join is keyed on (cell, victim group)
    assert "SortMergeJoin [cid" in plan or "BroadcastHashJoin [cid" in plan \
        or "ShuffledHashJoin [cid" in plan


def test_dpp_prunes_fact_partitions(registry_pass):
    """The dim-side filter must reach the fact scan as a runtime
    dynamicpruningexpression PartitionFilter."""
    plan = registry_pass.built("join_dpp").plan
    assert "dynamicpruning" in plan
    assert "PartitionFilters: [" in plan


def test_similarity_range_no_candidate_shuffle(registry_pass):
    """Range search must be scan -> broadcast join -> filter: no hash
    exchange of the candidate side, no window."""
    plan = registry_pass.built("similarity_range").plan
    assert "Window" not in plan
    assert "Exchange hashpartitioning" not in plan


def test_sample_weighted_is_topk_not_sort(registry_pass):
    """A-ES sampling must plan as TakeOrderedAndProject — never a global
    sort of the keyed corpus."""
    plan = registry_pass.built("sample_weighted").plan
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_range_binned_is_equi_join(registry_pass):
    """Grid binning must turn the interval join into a hash-family
    equi-join on bucket — never the nested-loop theta form. Round-5
    sweep pin: the point side must be pre-reduced per (bucket, day)
    BELOW the join — the matched-row set of the raw join grows
    quadratically with scale inside a fixed date domain (411 s at the
    sf10 synthetic tier; 9.2 s with the day partials)."""
    plan = registry_pass.built("join_range_binned").plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join [bucket" in plan.replace("BroadcastHashJoin [bucket",
                                          "Join [bucket").replace(
        "SortMergeJoin [bucket", "Join [bucket").replace(
        "ShuffledHashJoin [bucket", "Join [bucket")
    # the day pre-aggregate: a hash aggregate keyed on (bucket, day),
    # which can only sit below the join (the join output has no bucket)
    assert re.search(r"HashAggregate.*keys=\[bucket#\d+L?, d#\d+", plan), plan


def test_interarrival_percentile_only_per_user(registry_pass):
    """Exact quartiles must come from distributed-rank selection: the
    only percentile aggregates in the plan are keyed by user_id (one
    user's history), never a global value buffer."""
    plan = registry_pass.built("events_interarrival").plan
    for line in plan.splitlines():
        if "percentile(" in line:
            assert "user_id" in line, line
    # the range-partitioned rank relation was materialized by
    # _global_rank's eager localCheckpoint, so the final plan reads it
    # back as an existing RDD (the exchange ran, just before this plan)
    assert "existingrdd" in plan.lower()


def test_sketch_quantile_no_unbounded_percentile_buffer(registry_pass):
    """Round-5 rewrite: the witness side must be the rank-of-value plan
    (broadcast the 3-row sketch output back onto the scan, conditional
    counts) — never the percentile() aggregate whose per-group value
    buffer is unbounded, never a per-group window (one task per group,
    rule-7 hazard), and no longer the full-width distributed global
    rank (round-4's shape — 49.5 s at the sf10 synthetic tier). The GK
    sketch (percentile_approx, bounded mergeable state) is the only
    percentile-family aggregate allowed in this plan."""
    plan = registry_pass.built("sketch_quantile").plan
    assert "percentile_approx" in plan
    # bare exact percentile( would appear as "percentile(" without the
    # _approx suffix — strip the approx occurrences and look again
    assert "percentile(" not in plan.replace("percentile_approx(", "")
    assert "Window" not in plan
    # the sketch output rides back onto the scan as a broadcast, and the
    # old global-rank machinery (range shuffle + checkpointed rank
    # relation) must be gone
    assert "BroadcastExchange" in plan
    assert "rangepartitioning" not in plan.lower()
    assert "ExistingRDD" not in plan


def test_approx_distinct_no_expand(registry_pass):
    """agg_approx_distinct repeats countDistinct(o_custkey) three times
    (value + both sides of the witness) over ONE distinct column —
    Catalyst must collapse them into a single distinct rewrite with no
    Expand node (multi-distinct Expand would triple the scan rows)."""
    plan = registry_pass.built("agg_approx_distinct").plan
    assert "Expand" not in plan
    # partial + final of ONE collapsed distinct aggregate, nothing more
    assert plan.count("count(distinct o_custkey") <= 2


def test_semdedup_assignment_checkpointed_once(registry_pass):
    """The round-4b two-level assignment is materialized once (the plan
    the pair self-join reads is a checkpoint scan, not two copies of the
    argmin subtree), and the downstream pair join stays an equi-join on
    the cell with no nested-loop remnants. k-tracks-corpus behavior
    itself is pinned by tests/test_semdedup_scaling.py on synthetic
    corpora of two sizes."""
    plan = registry_pass.built("dedup_semdedup").plan
    assert "CartesianProduct" not in plan
    # checkpoint truncated: the assignment subtree (its broadcast
    # nested-loop coarse joins) must NOT appear in the final plan at all
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ExistingRDD" in plan


def test_corpus_shuffle_topk_not_global_window(registry_pass):
    """The deterministic-shuffle top-100 must be TakeOrderedAndProject
    (per-partition heaps) with the rank window running over the 100
    survivors only — never a corpus-wide single-task window + filter
    (SCALE.md rule 7)."""
    plan = registry_pass.built("corpus_shuffle").plan
    assert "TakeOrderedAndProject" in plan, plan


def test_quality_classifier_zero_shuffle_codegen(registry_pass):
    """E106: the hashed-ngram classifier is ONE codegen projection —
    tokens never explode, features never shuffle, no Python stage."""
    plan = registry_pass.built("text_quality_classifier").plan
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan  # no explode
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan


def test_url_canonicalize_zero_shuffle(registry_pass):
    """E107: canonicalization is a pure per-row regexp projection, and
    the ``text`` column _raw_urls carries for E110's score is pruned
    out of this query's scan by Catalyst (it never selects it)."""
    plan = registry_pass.built("url_canonicalize").plan
    assert "Exchange" not in plan, plan
    assert not re.search(r"ReadSchema: [^\n]*text", plan), plan


def test_url_host_stats_partial_distinct(registry_pass):
    """E107: the host rollup uses the two-level partial-distinct plan —
    (host, url)-distinct rows are reduced map-side before any exchange,
    so a head host's duplicates never converge raw onto one task."""
    plan = registry_pass.built("url_host_stats").plan
    # count(distinct) expands to >= 2 aggregation levels around exchanges
    assert plan.count("HashAggregate") >= 3, plan
    assert "partial" in plan


def test_bootstrap_ci_single_pass_no_explode(registry_pass):
    """E109: all 32 Poisson replicates ride ONE partial-aggregated
    groupBy — no Generate (explode), no Python, one exchange."""
    plan = registry_pass.built("agg_bootstrap_ci").plan
    assert "Generate" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    assert plan.count("Exchange") == 1, plan


def test_retention_cohorts_dedup_first(registry_pass):
    """E108: the corpus-sized stage is the (week, user) dedup; the
    cohort-size join broadcasts."""
    plan = registry_pass.built("events_retention_cohorts").plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_url_keepbest_single_aggregation(registry_pass):
    """E110: keep-best is the max_by monoid — one aggregation with
    map-side partials (SortAggregate: max_by over a struct ordering is
    not hash-aggregable, but partial_max_by still combines before the
    exchange); no window, no pair stage, no Python."""
    plan = registry_pass.built("corpus_dedup_url_keepbest").plan
    assert "Window" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEval" not in plan
    assert "partial_max_by" in plan, plan  # map-side combine
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_knn_graph_bucketed_never_allpairs(spark, sf_dir, registry_pass):
    """E111: candidates come from the bucket equi-join (never a cross
    join), the directed top-k is WindowGroupLimit-pushed, and the
    mutuality join runs on the k*n edge relation.

    r12: the builder checkpoints the directed top-k before the
    mutuality self-join, so the WindowGroupLimit pin moves to the
    un-checkpointed prefix (_knn_graph_topk); the final plan is pinned
    to read the materialized edge relation (ExistingRDD, zero parquet
    re-scans) instead of replaying the pair pipeline per side."""
    from mrs_mapreduce_spark.llm.similarity import _knn_graph_topk

    prefix = (
        _knn_graph_topk(spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in prefix, prefix
    assert "BroadcastNestedLoopJoin" not in prefix, prefix
    assert "WindowGroupLimit" in prefix, prefix
    plan = registry_pass.built("similarity_knn_graph").plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "ExistingRDD" in plan, plan
    assert "FileScan" not in plan, plan


def test_sketch_merge_queries_scan_once(registry_pass):
    """r10 sketches review: the merge/intersection proofs used to plan
    3-4 independent corpus scans (Spark has no common-subplan dedup);
    each now builds ONE checkpointed base relation at build time, so
    the final plan re-reads only the small checkpoint — at most one
    parquet FileScan remains (sketch_bloom's customer probe side)."""
    for name, max_scans in [
        ("sketch_countmin_merge", 0),
        ("sketch_hll_intersection", 0),
        ("sketch_hll_merge", 0),
        ("sketch_bloom", 1),
    ]:
        plan = registry_pass.built(name).plan
        assert plan.count("FileScan") <= max_scans, (name, plan)


def test_gapfill_queries_scan_events_once(registry_pass):
    """r10 events review: the hourly rollup feeds 2-3 subtrees (bounds,
    type list, join) and Spark plans no common-subplan dedup — the
    checkpointed rollup keeps raw events to ONE scan, making the
    registered 'touched exactly once' claim true."""
    for name in ("events_gapfill", "events_fill_forward"):
        plan = registry_pass.built(name).plan
        assert plan.count("FileScan") == 0, (name, plan)


def test_arrow_stage_flag_matches_known_queries(registry_pass):
    """The PLANS matrix `arrow` column (r11 verdict task): Arrow-batched
    Python stages are DECLARED per query, so a Python stage sneaking
    into a pure-JVM hot path turns up as a flag diff here before it
    costs anything at scale. Positives are the known Arrow consumers
    (multimodal decode family, the Arrow UDF demos); negatives are the
    flagship JVM-only paths."""
    from mrs_mapreduce_spark.plans import plan_flags

    def flags(name):
        return plan_flags(registry_pass.built(name).plan)

    for name in (
        "multimodal_decode",
        "python_udf_arrow",
        "pandas_udaf",
        "arrow_grouped_map",
    ):
        assert flags(name)["arrow_stage"], name
    for name in ("groupby_agg", "join_inner", "tpch_q6", "dedup_exact"):
        fl = flags(name)
        assert not fl["arrow_stage"], name
        assert not fl["python_eval"], name
