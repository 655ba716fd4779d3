"""Projection operators (SURVEY.md §2.2 R5, R7-R11).

The reference builds its 25 output columns with per-row Python lambdas
(Angelo_ETL_Task.py:189-241) — the dominant cost of the whole pipeline.
Every one of them is a native Column expression here: literals constant-fold,
CASE/WHEN stays in whole-stage codegen, and nothing leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def case_when(pairs: list[tuple[Column, object]], default: object = None) -> Column:
    """CASE WHEN chain (reference :215 single-branch, :60-87 multi-branch)."""
    expr: Column | None = None
    for cond, val in pairs:
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    assert expr is not None, "case_when needs at least one branch"
    return expr.otherwise(default)


def visual_attributes(
    parent_count: Column, status: Column, active_value: str = "ACTIVE"
) -> Column:
    """The reference's 3-char visual-attribute code (Angelo_ETL_Task.py:60-87):

    char 1: 'M' if the code parents >1 rows, 'F' if exactly one, 'L' if none;
    char 2: 'A' if status==ACTIVE else 'I';
    char 3: 'E' appended for folders (M/F).

    ``parent_count`` is the per-code child count (NULL/0 → leaf), i.e. the
    group-count join replaces the reference's parent_count_dict.
    """
    cnt = F.coalesce(parent_count, F.lit(0))
    first = case_when(
        [(cnt > 1, F.lit("M")), (cnt == 1, F.lit("F"))], default=F.lit("L")
    )
    second = F.when(status == active_value, F.lit("A")).otherwise(F.lit("I"))
    third = F.when(cnt >= 1, F.lit("E")).otherwise(F.lit(""))
    return F.concat(first, second, third)
