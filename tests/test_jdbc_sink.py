"""JDBC sink round-trip against EMBEDDED Derby (shipped in Spark's own jars
directory, so no network or install): exercises the reference load() surface
(Angelo_ETL_Task.py:276-374) — existence probe (:294-297), DDL via
createTableColumnTypes (:298-325), batched inserts (:350), and the
MIN(IMPORT_DATE) read-back (:331-335)."""

from __future__ import annotations

import datetime

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.sources import writers as W

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    try:
        spark._jvm.java.lang.Class.forName(DRIVER)
    except Exception:
        pytest.skip("Derby driver not on the Spark classpath")
    db = tmp_path_factory.mktemp("derby") / "db"
    return f"jdbc:derby:{db};create=true"


def _sample(spark):
    return spark.range(100).select(
        F.col("id"),
        F.concat(F.lit("code-"), F.col("id").cast("string")).alias("basecode"),
        (
            F.lit("2026-01-01 00:00:00").cast("timestamp")
            + F.make_interval(days=(F.col("id") % 9).cast("int"))
        ).alias("import_date"),
    )


def test_jdbc_roundtrip_embedded_derby(spark, derby_url):
    table = "I2B2TEST"
    # S4: probe before create
    assert not W.jdbc_table_exists(spark, derby_url, table, driver=DRIVER)
    # S5+S6: DDL types + batched insert
    df = _sample(spark)
    W.write_jdbc(
        df,
        derby_url,
        table,
        mode="overwrite",
        batchsize=25,
        num_partitions=2,
        create_table_column_types=(
            "id BIGINT, basecode VARCHAR(50), import_date TIMESTAMP"
        ),
        driver=DRIVER,
    )
    assert W.jdbc_table_exists(spark, derby_url, table, driver=DRIVER)
    # read back and compare values (Derby reports uppercase column names)
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", table)
        .option("driver", DRIVER)
        .load()
    )
    got = {
        (r[0], r[1], r[2]) for r in back.select("ID", "BASECODE", "IMPORT_DATE").collect()
    }
    want = {(r[0], r[1], r[2]) for r in df.collect()}
    assert got == want
    # S7: MIN read-back (pushDownAggregate)
    mn = W.read_jdbc_min(spark, derby_url, table, "IMPORT_DATE", driver=DRIVER)
    assert mn == datetime.datetime(2026, 1, 1, 0, 0, 0)
    # append mode adds rows instead of replacing
    W.write_jdbc(df.limit(10), derby_url, table, mode="append", driver=DRIVER)
    assert back.count() == 110


def test_table_probe_raises_when_database_unreachable(spark):
    """Only "table not found" reads as absent: a database that cannot be
    opened (Derby XJ004, no ;create=true) must surface, not send the run
    down the CREATE TABLE branch."""
    url = "jdbc:derby:memory:absent_db"
    with pytest.raises(Py4JJavaError, match="absent_db"):
        W.jdbc_table_exists(spark, url, "I2B2", driver=DRIVER)
