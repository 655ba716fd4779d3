"""Window operators (SURVEY.md §2.4: ranking and analytic windows).

Absent from the reference (no windows at all); first-class here because the
last-wins dedup (R2) and per-group top-k both reduce to ranking windows.

Scale note: a window = one shuffle on partitionBy + per-partition sort.
Never window without a partitionBy on large data (single-partition sort);
all helpers here require partition keys.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F


def _spec(partition_by: Sequence[str | Column], order_by: Sequence[Column]) -> WindowSpec:
    return Window.partitionBy(*partition_by).orderBy(*order_by)


def with_row_number(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    alias: str = "rn",
) -> DataFrame:
    return df.withColumn(alias, F.row_number().over(_spec(partition_by, order_by)))


def top_k_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    alias: str = "rn",
) -> DataFrame:
    """Per-group top-k via row_number — include a unique tiebreaker in
    ``order_by`` for deterministic membership. AQE handles skewed groups;
    for pathological single-key skew pre-aggregate or salt first."""
    return with_row_number(df, partition_by, order_by, alias).where(
        F.col(alias) <= k
    )


def with_lag_lead(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    col: str,
    lag_alias: str = "prev",
    lead_alias: str = "next",
    offset: int = 1,
) -> DataFrame:
    spec = _spec(partition_by, order_by)
    return df.withColumns(
        {
            lag_alias: F.lag(col, offset).over(spec),
            lead_alias: F.lead(col, offset).over(spec),
        }
    )

