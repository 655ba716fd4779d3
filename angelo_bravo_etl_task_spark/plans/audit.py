"""Physical-plan auditing — the 100 TB design checks, machine-checkable.

"Would this plan survive a 100× scale-up?" is a property of the PHYSICAL
plan, not the query text: filters must reach the parquet scan
(PushedFilters), dimension joins must broadcast (BroadcastHashJoin, no
SortMergeJoin on a star query), scalar work must stay in whole-stage
codegen. These helpers turn those rules into assertions that tests run on
every registered query, so a regression in plan shape fails CI instead of
surfacing as a 100×-slower cluster job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def physical_plan(df: DataFrame) -> str:
    """The final (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def compiled_classes(spark: SparkSession) -> int:
    """Generated classes this JVM has compiled so far (Janino compiles; a
    hit in the generated-code cache compiles nothing). The delta over a
    query shows whether its codegen was reused."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics  # type: ignore[attr-defined]
    return metrics.METRIC_COMPILATION_TIME().getCount()


def assert_plan(
    df: DataFrame,
    contains: list[str] | None = None,
    not_contains: list[str] | None = None,
) -> str:
    """Assert substrings (non-)presence in the physical plan; returns the
    plan text for further inspection."""
    plan = physical_plan(df)
    for s in contains or []:
        assert s in plan, f"expected {s!r} in plan:\n{plan}"
    for s in not_contains or []:
        assert s not in plan, f"did not expect {s!r} in plan:\n{plan}"
    return plan
