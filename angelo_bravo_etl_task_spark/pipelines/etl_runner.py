"""The end-to-end ETL runner — the engine's equivalent of the reference's
``__main__`` (Angelo_ETL_Task.py:377-390): extract → transform → load in one
call, with the load() control flow (:276-374) reproduced step for step:

1. stage + read the two LOINC CSVs            (extract,   :131-147)
2. probe the sink table's existence           (:294-297)
3. missing  → create it with the i2b2 DDL     (:298-325)
   existing → MIN(IMPORT_DATE) read-back and override the new rows'
   IMPORT_DATE with the earliest existing one (:330-335)
4. transform LOINC → 25-column i2b2 rows      (:150-274)
5. batched JDBC append                        (:339-350)
6. count the rows just inserted (by this run's UPDATE_DATE, :353-356)
7. export exactly those rows to one CSV file  (:357-363)

Differences from the reference are the engine's execution model, not the
semantics: inserts run partition-parallel instead of one psycopg2 cursor,
the existence probe goes through the JDBC dialect instead of
information_schema, and the CSV export re-reads the SINK (filtered on
UPDATE_DATE, pushed down) so the file reflects what the database accepted —
same as the reference's COPY-from-table.
"""

from __future__ import annotations

import datetime as _dt
import os
from typing import Mapping

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import HIERARCHY_SCHEMA, LOINC_SCHEMA, i2b2_create_table_sql
from ..sources.readers import file_position, read_csv
from ..sources.staging import Fetcher, stage_loinc_inputs
from ..sources.writers import (
    execute_jdbc_ddl,
    jdbc_table_exists,
    read_jdbc,
    read_jdbc_min,
    write_csv,
    write_jdbc,
)
from .loinc_i2b2 import transform_loinc_to_i2b2


def run_etl(
    spark: SparkSession,
    fetcher: Fetcher,
    staging_dir: str,
    jdbc_url: str,
    csv_out_dir: str,
    *,
    jdbc_table: str = "I2B2",
    mode: str = "spec",
    now: _dt.datetime | None = None,
    text_type: str = "TEXT",
    nullable_string_type: str | None = None,
    batchsize: int = 10_000,
    num_partitions: int | None = None,
    jdbc_options: Mapping[str, str] | None = None,
) -> dict:
    """Run the full reference workload; returns a run summary.

    ``fetcher`` is the injectable staging fetch (tests/offline runs hand in
    a local-file fetcher; production uses
    ``staging.requests_session_fetcher``). ``text_type`` /
    ``nullable_string_type`` adapt the DDL to the sink dialect — the
    defaults give the reference's exact PostgreSQL DDL; Derby sinks need
    ``nullable_string_type="CLOB"`` (see ``schemas.i2b2_create_table_sql``).
    ``now`` pins UPDATE/DOWNLOAD/IMPORT_DATE for deterministic tests,
    exactly like the transform itself.

    Summary keys: ``table_created`` (bool — the :294-325 branch taken),
    ``import_date_override`` (the :330-335 read-back value or None),
    ``rows_inserted`` (the :353-356 count), ``csv_path`` (the :357-363
    export), ``update_date`` (this run's batch timestamp).
    """
    opts = dict(jdbc_options or {})

    # -- extract (:131-147) ----------------------------------------------
    staged = stage_loinc_inputs(staging_dir, fetcher)
    loinc = read_csv(spark, staged["loinc"], LOINC_SCHEMA)
    hierarchy = read_csv(spark, staged["hierarchy"], HIERARCHY_SCHEMA)
    hierarchy = hierarchy.withColumn("_file_pos", file_position())

    # -- sink state: existence probe + IMPORT_DATE read-back (:294-335) --
    exists = jdbc_table_exists(spark, jdbc_url, jdbc_table, **opts)
    import_date = None
    if exists:
        import_date = read_jdbc_min(
            spark, jdbc_url, jdbc_table, "IMPORT_DATE", **opts
        )

    # -- transform (:150-274) --------------------------------------------
    now = now or _dt.datetime.now()
    result = transform_loinc_to_i2b2(
        loinc,
        hierarchy,
        mode=mode,
        now=now,
        hierarchy_order_col="_file_pos",
        import_date=import_date,
    )

    # -- load: exact-DDL create on the missing branch, then batched append
    # (:298-350). The CREATE runs as a driver-side statement — like the
    # reference's cursor — because only raw DDL can carry the NOT NULL
    # constraints and exact VARCHAR widths of :298-325.
    if not exists:
        execute_jdbc_ddl(
            spark,
            jdbc_url,
            i2b2_create_table_sql(jdbc_table, text_type, nullable_string_type),
            **opts,
        )
    write_jdbc(
        result,
        jdbc_url,
        jdbc_table,
        mode="append",
        batchsize=batchsize,
        num_partitions=num_partitions,
        **opts,
    )

    # -- verify + export: count and CSV of THIS run's rows (:353-363) -----
    # Re-read the sink filtered on this run's UPDATE_DATE (predicate pushed
    # down over JDBC) so count and file reflect the database's contents.
    inserted = read_jdbc(spark, jdbc_url, jdbc_table, **opts).where(
        F.col("UPDATE_DATE") == F.lit(now)
    )
    rows_inserted = inserted.count()

    csv_path = os.path.join(
        csv_out_dir, f"i2b2_inserted_rows_{now.date().isoformat()}"
    )
    write_csv(inserted, csv_path, single_file=True)

    return {
        "table_created": not exists,
        "import_date_override": import_date,
        "rows_inserted": rows_inserted,
        "csv_path": csv_path,
        "update_date": now,
    }


def build_arg_parser():
    """CLI mirroring the reference ``__main__``'s inputs
    (Angelo_ETL_Task.py:377-390): LOINC credentials + PostgreSQL
    connection + output directory."""
    import argparse

    p = argparse.ArgumentParser(
        prog="python -m angelo_bravo_etl_task_spark.pipelines.etl_runner",
        description=(
            "LOINC -> i2b2 ETL: authenticated download, transform to the "
            "25-column i2b2 ontology table, JDBC load, CSV export."
        ),
    )
    p.add_argument("--loinc-user", required=True, help="loinc.org username")
    p.add_argument("--loinc-password", required=True, help="loinc.org password")
    p.add_argument("--db-host", default="localhost")
    p.add_argument("--db-port", default="5432")
    p.add_argument("--db-name", required=True)
    p.add_argument("--db-user", required=True)
    p.add_argument("--db-password", required=True)
    p.add_argument("--staging-dir", default=".etl_staging")
    p.add_argument("--out-dir", default=".", help="CSV export directory")
    p.add_argument("--table", default="I2B2")
    p.add_argument(
        "--mode",
        choices=["spec", "compat"],
        default="spec",
        help="spec = docx-correct per-segment names; compat = reference-bug parity",
    )
    return p


def main(argv: list[str] | None = None) -> int:
    """Console entry point: the reference's ``__main__`` (:377-390) with a
    timed run and the row-count print (:355, :390)."""
    import time

    from ..session import get_spark
    from ..sources.staging import requests_session_fetcher

    args = build_arg_parser().parse_args(argv)
    t0 = time.time()
    spark = get_spark()
    url = (
        f"jdbc:postgresql://{args.db_host}:{args.db_port}/{args.db_name}"
        f"?user={args.db_user}&password={args.db_password}"
    )
    summary = run_etl(
        spark,
        requests_session_fetcher(args.loinc_user, args.loinc_password),
        args.staging_dir,
        url,
        args.out_dir,
        jdbc_table=args.table,
        mode=args.mode,
    )
    print(f"{summary['rows_inserted']} ROWS INSERTED")
    print(f"csv export: {summary['csv_path']}")
    print(f"execution time: {time.time() - t0:.1f}s")
    return 0


if __name__ == "__main__":  # pragma: no cover - exercised via build_arg_parser test
    raise SystemExit(main())
