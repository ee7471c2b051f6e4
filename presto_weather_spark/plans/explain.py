"""Physical-plan inspection helpers — used by tests to assert the plan we
want at scale actually got planned (pushdown reached the scan, small dims
went broadcast, codegen spans exist), not just that results are right.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

from presto_weather_spark.session import conf_scope


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters section of the scan node (parquet sources)."""
    plan = formatted_plan(df)
    return "\n".join(line for line in plan.splitlines() if "PushedFilters" in line)


def count_codegen_stages(spark, build) -> int:
    """Number of WholeStageCodegen subtrees in the plan `build()` produces.

    Under AQE the codegen wrappers are only inserted when each query stage
    materializes, so no explain mode shows them pre-execution. We re-plan
    with AQE off purely for inspection — the stages AQE materializes at run
    time go through the exact same CollapseCodegenStages rule.
    """
    with conf_scope(spark, {"spark.sql.adaptive.enabled": "false"}):
        df = build()
        cg = df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
            df._jdf.queryExecution(), "codegen"
        )
    m = re.match(r"Found (\d+) WholeStageCodegen", cg)
    return int(m.group(1)) if m else 0


def has_wholestage_codegen(df: DataFrame) -> bool:
    return "WholeStageCodegen" in formatted_plan(df)
