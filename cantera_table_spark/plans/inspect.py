"""Physical-plan inspection: the explain text of a DataFrame's plan,
read by tools/plan_lint.py, tools/capture_plans.py and the plan-shape
tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))
