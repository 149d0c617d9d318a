"""Physical-plan assertions (SURVEY.md §4.3.2).

Not optimizer rules — Catalyst needs none of ours — but regression
guards: tests grep ``explain('formatted')`` output to ensure the plans
the 100 TB posture depends on (scan-level filter pushdown, column
pruning, broadcast joins for dims, TakeOrderedAndProject for top-k)
don't silently degrade as the operator layer evolves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    text = plan_text(df)
    missing = [n for n in needles if n not in text]
    assert not missing, f"plan missing {missing}; plan:\n{text}"

