"""Physical-plan introspection helpers: assert the plans we *want* at
scale (pushdown reached the scan, dims broadcast, hot paths in
whole-stage codegen, no accidental Python UDFs) rather than just the
plans that happen to pass.

Used by tests/test_plans.py and available for ad-hoc ``explain`` audits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str = "") -> bool:
    """True if the parquet scan carries pushed filters (optionally one
    mentioning ``fragment``)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "[]" not in line:
            if fragment.lower() in line.lower():
                return True
    return False


def reads_columns(df: DataFrame) -> list[str]:
    """Column names in the scan ReadSchema (column-pruning audit)."""
    import re

    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            cols += re.findall(r"(\w+):", line.split("ReadSchema:")[1])
    return cols


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Check the *final* adaptive plan — AQE hides codegen annotation
    until the plan executes, so trigger a cheap action first.  Codegen
    stages appear either as explicit WholeStageCodegen nodes or as the
    ``*(n)`` stage markers in the simple plan string."""
    # NB: must be collect() on THIS df — count() builds a separate query
    # execution and leaves this one's adaptive plan unfinalized.
    df.collect()
    plan = physical_plan(df)
    return "WholeStageCodegen" in plan or "*(" in plan


def python_udf_count(df: DataFrame) -> int:
    """Row-at-a-time Python UDF evaluations in the plan (should be 0 on
    every relational/text path; Arrow pandas_udf shows as ArrowEvalPython
    and is counted separately)."""
    return physical_plan(df).count("BatchEvalPython")
