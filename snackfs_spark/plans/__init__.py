"""Plan-inspection helpers: assert the physical plan has the shape the
100 TB design depends on (pushdown reaching the scan, broadcasts where a
shuffle would hurt, codegen in the hot path).

These are the programmatic version of `.explain("formatted")` review —
tests call them so a regression in plan shape fails CI, not just perf.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """The parquet scan must carry a pushed filter mentioning `fragment`."""
    plan = formatted_plan(df)
    if "PushedFilters: [" not in plan:
        raise AssertionError(f"no pushed filters in plan:\n{plan}")
    pushed = [
        line for line in plan.splitlines() if "PushedFilters:" in line and fragment in line
    ]
    if not pushed:
        raise AssertionError(f"filter on {fragment!r} not pushed to scan:\n{plan}")


def assert_broadcast(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "BroadcastHashJoin" not in plan and "BroadcastNestedLoopJoin" not in plan:
        raise AssertionError(f"expected a broadcast join:\n{plan}")


def assert_no_cartesian(df: DataFrame) -> None:
    plan = formatted_plan(df)
    if "CartesianProduct" in plan:
        raise AssertionError(f"unexpected cartesian product:\n{plan}")
