"""Physical-plan audit helpers — make "is this the plan I'd want at 100 TB"
checkable in tests instead of eyeballed.

    explain_str(df)              formatted plan text
    assert_no_cartesian(df)      no CartesianProduct/BroadcastNestedLoop
    count_exchanges(df)          shuffle count in the plan
    has_wholestage_codegen(df)   at least one codegen span
    scan_columns(df)             ReadSchema column list (pruning check)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def count_exchanges(df: DataFrame) -> int:
    return len(re.findall(r"\bExchange\b", explain_str(df, "simple")))


def executed_plan_str(df: DataFrame) -> str:
    """Final physical plan AFTER execution — needed under AQE, whose
    pre-execution plan string hides the chosen operators. Must run THIS
    df's own QueryExecution (count() would plan a separate query)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


def has_wholestage_codegen(df: DataFrame, execute: bool = False) -> bool:
    plan = executed_plan_str(df) if execute else explain_str(df, "simple")
    # executed plans mark codegen stages as "*(n) Operator"
    return "WholeStageCodegen" in plan or re.search(r"\*\(\d+\) ", plan) is not None


def assert_no_cartesian(df: DataFrame) -> None:
    plan = explain_str(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def pushed_filters(df: DataFrame) -> list[str]:
    plan = explain_str(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def scan_columns(df: DataFrame) -> list[list[str]]:
    plan = explain_str(df, "formatted")
    out = []
    for m in re.findall(r"ReadSchema: struct<([^>]*)>", plan):
        out.append([c.split(":")[0] for c in m.split(",") if c])
    return out
