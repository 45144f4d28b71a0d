"""Physical-plan assertions.

"Correct but mis-planned" is the failure mode that only shows up at
1000x the data: a filter that didn't reach the parquet scan, a
dimension join that shuffled instead of broadcasting, a top-k that
global-sorted. These helpers read the executed plan string so tests
can pin the plan shape, not just the result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def final_plan(df: DataFrame) -> str:
    """Plan AFTER execution — under AQE only the final plan shows the
    actual exchanges/codegen stages that ran.

    collect(), not count(): count() wraps the frame in a NEW aggregate
    plan, leaving this frame's queryExecution unexecuted.
    """
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the scan carries pushed-down predicates."""
    plan = executed_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df) or "BroadcastNestedLoopJoin" in executed_plan(df)


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the plan (broadcast exchanges excluded)."""
    plan = executed_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "ReusedExchange" not in line
    )

