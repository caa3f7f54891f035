"""Physical-plan audit helpers — make "is this the plan I'd want at 100 TB"
checkable in tests instead of eyeballed.

    explain_str(df)              formatted plan text
    pushed_filters(df)           PushedFilters lists of the plan's scans
    executed_operators(df)       operator names of the executed plan
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def pushed_filters(df: DataFrame) -> list[str]:
    plan = explain_str(df, "formatted")
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def executed_operators(df: DataFrame) -> list[str]:
    """Operator names of `df`'s executed physical plan, through AQE's
    current plan and its query stages. A cached or checkpointed relation
    counts as its scan, not as the plan that built it."""
    out: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        name = node.nodeName()
        out.append(name)
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            stack.append(node.plan())
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out
