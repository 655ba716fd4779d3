"""Set operators (SURVEY.md §2.4): union / intersect / except.

Thin declarative wrappers — Catalyst rewrites intersect/except to
semi/anti-joins, so they inherit broadcast/AQE behavior automatically.
``unionByName`` is the safe default (positional union silently mismatches
columns after schema evolution).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame


def union_all(*dfs: DataFrame, by_name: bool = True) -> DataFrame:
    """UNION ALL (bag semantics, no dedup shuffle)."""
    if by_name:
        return reduce(lambda a, b: a.unionByName(b), dfs)
    return reduce(lambda a, b: a.union(b), dfs)


def intersect(a: DataFrame, b: DataFrame, keep_dups: bool = False) -> DataFrame:
    return a.intersectAll(b) if keep_dups else a.intersect(b)


def except_(a: DataFrame, b: DataFrame, keep_dups: bool = False) -> DataFrame:
    return a.exceptAll(b) if keep_dups else a.subtract(b)
