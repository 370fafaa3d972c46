"""Physical-plan inspection helpers.

The engine's scale contract is checked here, not assumed: filters reach
the parquet scan (PushedFilters), small sides broadcast
(BroadcastHashJoin / BroadcastNestedLoopJoin), per-group top-k avoids
full sorts (WindowGroupLimit), and hot expressions stay inside
WholeStageCodegen. tests/test_plans.py pins these properties so a
regression in plan shape fails CI like a wrong answer would.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


# Analyzed-plan leaves that hold driver-computed data: a plan holding one
# is not a function of its text, so no cache may key on that text.
EAGER_PLAN_TOKENS = ("LocalRelation", "LogicalRDD", "ExistingRDD")


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode)


def analyzed_text(df: DataFrame) -> str:
    """The analyzed logical plan as text, or "" when it cannot be read."""
    try:
        return df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return ""


def eager_leaves(plan: str) -> list[str]:
    """The ``EAGER_PLAN_TOKENS`` found in an analyzed plan's text."""
    return [t for t in EAGER_PLAN_TOKENS if t in plan]


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    text = plan_text(df)
    missing = [n for n in needles if n not in text]
    if missing:
        raise AssertionError(
            f"plan is missing {missing}; got:\n{text[:4000]}")


def audit_report(df: DataFrame, execute: bool = False) -> dict[str, bool]:
    """Quick summary of the plan properties we care about.

    Codegen is read from simple mode's ``*(n)`` stage markers. Under AQE
    the pre-execution plan hides them — pass ``execute=True`` (runs the
    query) or plan with AQE disabled when asserting codegen.
    """
    if execute:
        # collect (not count!) — count wraps the plan in a new
        # queryExecution, leaving this one's AQE plan unexecuted
        df.collect()
    text = plan_text(df)
    simple = plan_text(df, "simple")
    return {
        "pushed_filters": "PushedFilters: [" in text
                           and "PushedFilters: []" not in text,
        "broadcast_join": "Broadcast" in text,
        "whole_stage_codegen": "*(" in simple,
        "window_group_limit": "WindowGroupLimit" in text,
        "column_pruned_scan": "ReadSchema" in text,
    }
