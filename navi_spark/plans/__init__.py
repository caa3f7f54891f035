"""Physical-plan audit helpers — make "is this the plan I'd want at 100 TB"
checkable in tests instead of eyeballed.

    explain_str(df)              formatted plan text
    pushed_filters(df)           PushedFilters lists of the plan's scans
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
