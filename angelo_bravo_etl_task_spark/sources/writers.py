"""Writers — csv/jdbc sinks (SURVEY.md §2.1 S5-S9).

The reference's load() (Angelo_ETL_Task.py:276-374) is psycopg2 row-batched
INSERTs plus a COPY-to-CSV export. Spark equivalents:

- ``execute_jdbc_ddl``: the exact CREATE TABLE (:298-325) as one
  driver-side statement;
- ``write_jdbc``: per-partition parallel batched inserts (``batchsize``) —
  replaces execute_batch (:350);
- ``read_jdbc``: the one JDBC table read, behind ``jdbc_table_exists`` (the
  :294-297 probe), ``read_jdbc_min`` (the IMPORT_DATE read-back, :331-335,
  as a pushed-down aggregate) and the runner's verify re-read;
- ``write_csv``: the golden-output export (:357-363); single_file=True
  coalesces to one file like COPY TO.
"""

from __future__ import annotations

from py4j.java_gateway import is_instance_of
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: SQLStates of "table does not exist": Derby, PostgreSQL
_TABLE_NOT_FOUND_STATES = frozenset({"42X05", "42P01"})


def write_csv(
    df: DataFrame, path: str, mode: str = "overwrite", single_file: bool = False
) -> None:
    """CSV export (reference COPY ... TO STDOUT WITH CSV HEADER, :357-363).
    ``single_file`` coalesces — only for dimension-sized outputs; a 100 TB
    result stays multi-file."""
    out = df.coalesce(1) if single_file else df
    out.write.mode(mode).option("header", "true").csv(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    create_table_column_types: str | None = None,
    **properties: str,
) -> None:
    """JDBC sink: each partition opens one connection and writes batched
    inserts — parallelism = partitions (cap with ``num_partitions`` so a
    wide cluster doesn't open 1000 connections against one database)."""
    out = df.repartition(num_partitions) if num_partitions else df
    w = (
        out.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    if create_table_column_types:
        w = w.option("createTableColumnTypes", create_table_column_types)
    for k, v in properties.items():
        w = w.option(k, v)
    w.save()


def execute_jdbc_ddl(
    spark: SparkSession, url: str, sql: str, **properties: str
) -> None:
    """Run one driver-side DDL statement over JDBC (reference
    ``cur.execute(CREATE TABLE ...)``, :298-325). Spark's own table
    creation can't express NOT NULL constraints and (Spark 4) strips
    VARCHAR/CHAR from ``createTableColumnTypes`` to the dialect's default
    text type — for exact-DDL fidelity issue the statement directly. One
    statement, once, on the driver: not a data path."""
    jvm = spark._jvm
    driver = properties.get("driver")
    if driver:
        jvm.java.lang.Class.forName(driver)
    props = jvm.java.util.Properties()
    for k, v in properties.items():
        if k != "driver":
            props.setProperty(k, v)
    conn = jvm.java.sql.DriverManager.getConnection(url, props)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
        finally:
            stmt.close()
    finally:
        conn.close()


def read_jdbc(
    spark: SparkSession, url: str, table: str, **properties: str
) -> DataFrame:
    """A JDBC table as a DataFrame; ``properties`` become reader options."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in properties.items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_table_exists(
    spark: SparkSession, url: str, table: str, **properties: str
) -> bool:
    """Table-existence probe (reference :294-297, information_schema query):
    resolve the table's schema through the JDBC dialect. Only the database's
    "table not found" reads as absent; any other failure (no database, bad
    credentials, driver missing) is raised."""
    try:
        read_jdbc(spark, url, table, **properties)
        return True
    except Py4JJavaError as e:
        gateway, t = spark.sparkContext._gateway, e.java_exception
        while t is not None:  # the cause chain, down to the driver's error
            if (
                is_instance_of(gateway, t, "java.sql.SQLException")
                and t.getSQLState() in _TABLE_NOT_FOUND_STATES
            ):
                return False
            t = t.getCause()
        raise


def read_jdbc_min(
    spark: SparkSession, url: str, table: str, column: str, **properties: str
) -> object:
    """MIN(column) from a JDBC table (reference :331-335). Spark 3.3+ pushes
    the aggregate down to the database (pushDownAggregate), so only one row
    crosses the wire."""
    df = read_jdbc(spark, url, table, pushDownAggregate="true", **properties)
    return df.agg(F.min(column).alias("m")).collect()[0]["m"]
