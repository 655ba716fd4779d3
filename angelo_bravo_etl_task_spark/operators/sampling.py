"""Deterministic, engine-portable sampling.

``df.sample()`` draws from a seeded RNG whose stream depends on partition
layout — re-partition the input and the sample changes, and no external
engine can reproduce it. For pipeline work (train/eval splits, QA draws,
A/B buckets) the sample must be a PURE FUNCTION of the row key: hash the
key, keep rows whose hash falls under the rate threshold. Same rows on any
cluster, any partitioning, any engine that agrees on the hash — md5 here,
because Spark and DuckDB (and Postgres, and Python) all expose bit-identical
md5, unlike xxhash64/murmur whose seeds are engine-specific.

Mechanics: the first 4 hex chars of ``md5(cast(key as string))`` are a
uniform 16-bit draw; ``hex < threshold`` keeps ``threshold/65536`` of rows.
Lexicographic compare on fixed-width lowercase hex == numeric compare, so
the SQL oracle is the same one-liner. Scale shape: a pure narrow filter —
no shuffle, pushes past column pruning, composes with partition pruning.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def hash_bucket(key: Column | str, width: int = 4) -> Column:
    """Deterministic uniform draw: first ``width`` hex chars of md5(key)."""
    col = F.col(key) if isinstance(key, str) else key
    return F.substring(F.md5(col.cast("string")), 1, width)


def rate_to_threshold(rate: float, width: int = 4) -> str:
    """Hex threshold keeping ~``rate`` of rows (floor to the hex grid)."""
    space = 16**width
    return format(min(int(rate * space), space), "0{}x".format(width))


def stratified_hash_sample(
    df: DataFrame, key: Column | str, strata_col: str, rates: dict[str, float]
) -> DataFrame:
    """Per-stratum deterministic sampling (e.g. downsample a dominant
    class); strata missing from ``rates`` are dropped (rate 0)."""
    bucket = hash_bucket(key)
    cond = F.lit(False)
    for value, rate in rates.items():
        cond = cond | (
            (F.col(strata_col) == value) & (bucket < rate_to_threshold(rate))
        )
    return df.where(cond)
