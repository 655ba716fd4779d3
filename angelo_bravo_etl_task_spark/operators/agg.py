"""Aggregation operators (SURVEY.md §2.2 R3, §2.4 extension aggs).

Reference surface: one group-count (``value_counts``, Angelo_ETL_Task.py:173)
and one read-back MIN (Angelo_ETL_Task.py:331). Queries call
``groupBy().agg()`` / ``rollup`` / ``cube`` directly; this module holds the
shared pieces: deterministic decimal sums/averages and exact multi-quantiles.

Scale notes: every ``groupBy().agg()`` is a partial (map-side) aggregate
followed by one shuffle on the grouping key — Spark does the combine
automatically. Exact money arithmetic uses DECIMAL so results are
deterministic across engines and partition orders (double summation is
order-dependent; decimal is exact).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .localframe import local_rows_df


def dec(col: str | Column, precision: int = 18, scale: int = 2) -> Column:
    """Cast to exact decimal before summing — order-independent, engine-
    independent results (double sums differ in last ULPs per partition
    order)."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Exact decimal SUM, surfaced as double (deterministic: the decimal
    result is exact, and decimal→double conversion is correctly rounded)."""
    return F.sum(dec(col, 18, scale)).cast("double")


def davg(col: str | Column, scale: int = 2) -> Column:
    """Deterministic average: exact decimal sum ÷ count in IEEE double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(dec(c, 18, scale)).cast("double") / F.count(c)


def exact_quantiles(
    df: DataFrame,
    value_col: str,
    group_cols: Sequence[str],
    qs: Sequence[float],
) -> DataFrame:
    """Exact discrete multi-quantile per group, TWO-PASS: group-count to a
    small (group, value, count) frame, cumulative window over THAT, then
    the smallest value whose cumulative rank reaches ceil(q*n). The
    windows only ever see the aggregated frame — never a low-cardinality
    window over the raw table (SCALE.md finding 5). Output columns:
    group_cols + (q, quantile_value). The definition (min v with
    rank >= ceil(q*n)) is engine-neutral — no builtin interpolation
    flavor to match."""
    from pyspark.sql.window import Window

    spark = df.sparkSession
    gc = df.groupBy(*group_cols, F.col(value_col).alias("_v")).agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("_v")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    cum = gc.select(
        *group_cols,
        "_v",
        F.sum("_c").over(w_cum).alias("_cum"),
        F.sum("_c").over(w_all).alias("_n"),
    )
    q_frame = local_rows_df(spark, [(float(q),) for q in qs], "q double")
    return (
        cum.crossJoin(F.broadcast(q_frame))
        .where(F.col("_cum") >= F.ceil(F.col("q") * F.col("_n")))
        .groupBy(*group_cols, "q")
        .agg(F.min("_v").alias("quantile_value"))
    )
