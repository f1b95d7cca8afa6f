"""Helpers for asserting on and reporting Spark physical plans."""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical plan string (AQE's final plan once ``df`` has run)."""
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    """`explain("formatted")` as a string (node list + details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def plan_flags(df: DataFrame | str) -> dict[str, bool]:
    """Quick predicates about a plan (or its executed-plan string), used
    by tests and PLANS.md."""
    plan = df if isinstance(df, str) else executed_plan(df)
    return {
        "pushed_filters": "PushedFilters: [" in plan and "PushedFilters: []" not in plan,
        "partial_agg": "partial_" in plan,
        "broadcast_join": "BroadcastHashJoin" in plan,
        "sort_merge_join": "SortMergeJoin" in plan,
        "take_ordered": "TakeOrderedAndProject" in plan,
        "window_group_limit": "WindowGroupLimit" in plan,
        "has_exchange": "Exchange" in plan,
        "cartesian": "CartesianProduct" in plan,
        "python_eval": "BatchEvalPython" in plan or "ArrowEvalPython" in plan,
        # Arrow-batched Python stages (vectorized, columnar transfer) —
        # the DECLARED slow-path tier between pure-JVM codegen and
        # row-at-a-time BatchEvalPython. Flagged separately so a Python
        # stage sneaking into a hot path is visible in the PLANS matrix
        # (r11 verdict: the multimodal family and dedup_semdedup's BLAS
        # kernel legitimately run Arrow stages but were invisible).
        "arrow_stage": any(
            node in plan
            for node in (
                "ArrowEvalPython",
                "MapInPandas",
                "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas",
                "MapInArrow",
                "FlatMapGroupsInArrow",
                # Spark 4 node names for pandas UDAF / window stages
                "ArrowAggregatePython",
                "ArrowWindowPython",
                "AggregateInPandas",
                "WindowInPandas",
            )
        ),
    }
