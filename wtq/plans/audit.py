"""Physical-plan audit helpers.

The reference fixed a planner misestimate by reading EXPLAIN ANALYZE
and forcing a materialization (proccess_data.sql:450-467).  The Spark
analog of that discipline is asserting the *shape* of the physical
plan in tests, so a regression (lost broadcast, lost pushdown, extra
exchange, Python UDF creeping into a hot path) fails CI instead of
silently costing 10× at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def count_occurrences(df: DataFrame, needle: str) -> int:
    return plan_string(df).count(needle)


def assert_in_plan(df: DataFrame, *needles: str) -> None:
    plan = plan_string(df)
    missing = [n for n in needles if n not in plan]
    assert not missing, f"plan is missing {missing}:\n{plan[:4000]}"
