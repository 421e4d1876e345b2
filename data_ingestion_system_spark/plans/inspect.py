"""Physical-plan inspection utilities (SURVEY.md §4).

The reference's performance story is SQLite index selection
(reference: src/database/schema.sql:166-201 — 13 hand-tuned indexes); the
engine's equivalent obligations are *plan properties*: filters pushed to
the parquet scan, columns pruned, small dims broadcast, aggregates
partial+final, sorts+limits as TakeOrdered. These helpers make those
properties assertable in tests and auditable per query
(`audit(df)` → one dict), so a plan regression fails CI instead of
surfacing as a 100 TB shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    """Executed-plan string, FINAL plan only: after an AQE query runs,
    `executedPlan().toString()` appends the original "== Initial Plan =="
    subtree after the final one, which double-counts every operator a
    count probe greps for."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def has_pushed_filters(df: DataFrame) -> bool:
    """True if any parquet scan carries PushedFilters."""
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and not _all_pushed_empty(plan)


def _all_pushed_empty(plan: str) -> bool:
    return all(
        seg.split("]")[0].strip() == ""
        for seg in plan.split("PushedFilters: [")[1:]
    )


def read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema of every file scan — column-pruning evidence."""
    plan = formatted_plan(df)
    return [seg.split("\n")[0].strip() for seg in plan.split("ReadSchema: ")[1:]]


def count_broadcast_joins(df: DataFrame) -> int:
    return simple_plan(df).count("BroadcastHashJoin")


def count_shuffles(df: DataFrame) -> int:
    """Number of exchange operators (AQE may later coalesce them)."""
    return simple_plan(df).count("Exchange")


def count_sort_merge_joins(df: DataFrame) -> int:
    return simple_plan(df).count("SortMergeJoin")


def count_pinned_repartitions(df: DataFrame) -> int:
    """Exchanges inserted by an explicit numbered repartition
    (REPARTITION_BY_NUM) — the one shuffle origin AQE's size-based
    coalesce never folds. Pair-expansion joins and checkpointed
    assignment relations pin their width this way
    (`tables.pin_join_width`): the map output is
    byte-tiny but the downstream per-partition work is quadratic in
    bucket membership (or K×DIM-dense per row), so the reduce width
    must target the EXPANDED work, not the shuffled bytes."""
    return simple_plan(df).count("REPARTITION_BY_NUM")


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """AQE defers stage construction, so an unexecuted AdaptiveSparkPlan
    reports no codegen subtrees; execute first, then inspect the
    finalized plan for codegen stage markers."""
    plan = simple_plan(df)
    if "AdaptiveSparkPlan" in plan and "isFinalPlan=false" in plan:
        df.collect()
        plan = simple_plan(df)
    return "WholeStageCodegen" in plan or "*(" in plan


def is_take_ordered(df: DataFrame) -> bool:
    """Top-k compiled to TakeOrderedAndProject (no global sort)."""
    return "TakeOrderedAndProject" in simple_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Hash aggregate split into partial+final (map-side combine)."""
    plan = simple_plan(df)
    return plan.count("HashAggregate") >= 2 or "partial_" in plan


def audit(df: DataFrame) -> dict:
    """One-call plan audit used by tests and the bench report."""
    return {
        "pushed_filters": has_pushed_filters(df),
        "read_schemas": read_schemas(df),
        "broadcast_joins": count_broadcast_joins(df),
        "sort_merge_joins": count_sort_merge_joins(df),
        "shuffles": count_shuffles(df),
        "pinned_repartitions": count_pinned_repartitions(df),
        "whole_stage_codegen": has_whole_stage_codegen(df),
        "take_ordered": is_take_ordered(df),
    }
