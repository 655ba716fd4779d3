"""Readers — explicit-schema scans of csv/parquet, plus the testdata loader.

Replaces the reference's ``pd.read_csv(zipfile.open(f), low_memory=False)``
(Angelo_ETL_Task.py:26): schema is declared, not inferred, so the scan prunes
columns and pushes filters (check ``.explain`` for ``ReadSchema`` /
``PushedFilters``). At 100 TB inference is a full extra pass — never do it.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..schemas import TESTDATA_SCHEMAS


def read_csv(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """CSV scan with a header line and an explicit schema (no inference pass)."""
    return spark.read.option("header", "true").schema(schema).csv(path)


def file_position() -> Column:
    """Row order of a CSV scan: (split byte offset, row offset in partition).

    Not a bare ``monotonically_increasing_id()``: its partition index need
    not follow file offset (``FilePartition.getFilePartitions`` orders splits
    by size). Evaluate it directly on the scan, before any exchange or union,
    and on ONE input file (``stage_loinc_inputs`` stages one hierarchy CSV).
    """
    return F.struct(
        F.input_file_block_start(),
        F.monotonically_increasing_id().bitwiseAND((1 << 33) - 1),
    )


def read_parquet(
    spark: SparkSession, path: str, schema: StructType | None = None
) -> DataFrame:
    """Parquet scan; schema optional (parquet is self-describing), but passing
    one pins column order/types and enables early mismatch errors."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def parquet_ts_unit(path: str, field: str = "ts") -> str | None:
    """Physical timestamp unit ('ns'/'us'/'ms') of ``field`` in a parquet
    file's footer, or None if the field isn't a timestamp. Footer-only read —
    no data pages touched. The driver has shipped ``events.ts`` both as
    TIMESTAMP(NANOS) (which Spark's parquet reader can't map to
    TimestampType) and as plain TIMESTAMP(MICROS); readers must adapt to
    the file in front of them rather than bake in either generation."""
    import pyarrow.parquet as pq

    t = pq.read_schema(path).field(field).type
    return getattr(t, "unit", None)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver testdata table (TESTDATA.md) by name.

    ``events.ts`` is read per its physical unit: TIMESTAMP(NANOS) files are
    scanned as raw nanos (long) and truncated to microseconds (exactly what
    DuckDB's ns→us conversion does); micro/millisecond files read directly
    under the declared TimestampType schema (naive values; the session runs
    UTC so instants equal DuckDB's naive comparison).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and parquet_ts_unit(path) == "ns":
        from pyspark.sql.types import LongType, StructField

        schema = StructType(
            [
                StructField(f.name, LongType() if f.name == "ts" else f.dataType)
                for f in TESTDATA_SCHEMAS["events"].fields
            ]
        )
        raw = read_parquet(spark, path, schema)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        ).select(*[f.name for f in TESTDATA_SCHEMAS["events"].fields])
    return read_parquet(spark, path, TESTDATA_SCHEMAS.get(name))


def load_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TESTDATA_SCHEMAS:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = read_parquet(spark, path, TESTDATA_SCHEMAS[name])
    return out
