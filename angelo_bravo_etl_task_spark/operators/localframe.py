"""Small driver-side literal frames without the Python-worker storm.

``spark.createDataFrame(rows, schema)`` on a list pickles the rows into
``defaultParallelism`` RDD partitions, and EVERY downstream action spawns
one Python worker per partition just to deserialize them — 32 Python
round-trips for a 5-row frame on local[32] (measured ~1.2 s per action;
the r12 px9 profile showed a 6.5 s-executor stage of 32 zero-input Python
tasks under a 5-row ``createDataFrame``). Routing the same rows through a
pandas DataFrame takes Spark's Arrow path instead: the rows are converted
ONCE on the driver and execution stays JVM-side (measured ~0.2 s).

Scope (guide §5 — the driver should do almost no data work): this is for
SMALL literal row lists (dimension stubs, released summary rows, probe
frames), never a data path. Values must be plain Python objects matching
the DDL schema; ``dtype=object`` keeps pandas from coercing (e.g. an int
column with None would otherwise become float64).
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession


def local_rows_df(
    spark: SparkSession, rows: Sequence[Iterable], schema
) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` for small literal frames,
    via the Arrow/pandas path (one driver-side conversion, zero Python
    worker tasks at execution). ``schema`` is a DDL string or StructType.
    Values Arrow cannot convert take Spark's own non-Arrow fallback
    (``spark.sql.execution.arrow.pyspark.fallback.enabled``); a row whose
    arity does not match the schema raises."""
    import pandas as pd
    from pyspark.sql.types import StructType, _parse_datatype_string

    struct = (
        schema
        if isinstance(schema, StructType)
        else _parse_datatype_string(schema)
    )
    pdf = pd.DataFrame(
        [tuple(r) for r in rows],
        columns=[f.name for f in struct.fields],
        dtype=object,
    )
    return spark.createDataFrame(pdf, schema=struct)
