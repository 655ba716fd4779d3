"""SparkSession factory.

The reference (Angelo_ETL_Task.py:377-390) runs one Python thread in one
process. Here the equivalent "runtime" is a SparkSession configured for the
scale target: AQE on (runtime re-planning, skew-join splitting, shuffle
coalescing), Arrow on (any Pandas-UDF boundary is vectorized), and a shuffle
partition count sized for the local harness but overridable for a cluster.

At 100 TB the same code runs unchanged; only ``master`` and the conf numbers
change (shuffle partitions ~ 2-3x total cores, maxPartitionBytes 128-256 MB).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Confs that encode the scale design, not just local-test convenience.
_ENGINE_CONFS: dict[str, str] = {
    # Runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones, convert sort-merge joins to broadcast when the built side turns
    # out small. Essential at 100 TB. NOT free locally: each query stage is
    # an exchange materialization barrier plus a re-planning round, a fixed
    # latency that dominates sub-second queries (measured at sf0.1: +70%
    # wall-clock on a tiny-query sample, zero plan improvement at MB scale).
    # Callers benchmarking small data can disable via get_spark(adaptive=
    # False); the default encodes the cluster target.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas_udf / applyInPandas / toPandas boundary.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (region/nation/supplier/... and the LOINC hierarchy)
    # are broadcast; 64 MB covers every dim table at any SF we target while
    # fact-fact joins still shuffle.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Readers: don't glob tiny files into thousands of tasks locally, but do
    # split large files; 128 MB is the cluster default and correct at scale.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # Timestamps without timezone semantics end-to-end (the testdata parquet
    # uses TIMESTAMP_NTZ-like local timestamps; DuckDB compares naively).
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    "spark.sql.parquet.datetimeRebaseModeInRead": "CORRECTED",
    # TIMESTAMP(NANOS) parquet columns (the events table, some driver data
    # generations) surface as raw nanosecond longs; readers convert to
    # microsecond timestamps explicitly.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Naive (isAdjustedToUTC=false) parquet timestamps — the current driver
    # data generation — read as TIMESTAMP, not TIMESTAMP_NTZ, so the whole
    # function surface (unix_micros, window, watermarks) applies uniformly;
    # with the UTC session zone the instants equal DuckDB's naive values.
    "spark.sql.parquet.inferTimestampNTZ.enabled": "false",
    # Generated-code cache (Janino classes keyed by their source): Spark's
    # default of 100 entries is below one warm pass's working set (~250
    # classes per perfbench sql_mix pass, px1 alone ~90; ~255 per llm_mix
    # pass), so the LRU evicted every class before its query came round
    # again and each op paid compile, class load and interpreted warm-up
    # anew. 1000 covers both mixes (~500 classes) twice over. Measured on
    # 4 vCPU: classes compiled per warm pass fell from 204-254 to 0-52
    # (sql_mix) and 167-211 to 4-20 (llm_mix); query_cpu_s fell 20%
    # (sql_mix) and 22% (llm_mix). Static: only effective at JVM launch,
    # like the heap size set in get_spark.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Python worker daemon: pyspark.daemon without zipimport's per-task
    # re-read of every archive on the worker's path, ~0.2 CPU-s per task on
    # CPython 3.10-3.12 (pyworker.py says why the re-read can go).
    # Measured on 4 vCPU, perfbench llm_mix: worker CPU per warm op fell
    # 1.04 -> 0.23 CPU-s (d7) and 0.22 -> 0.05 (mm2), with jobs, stages and
    # tasks unchanged, and pass_cpu_s fell 17% (11 of 12 pairs). Static:
    # read when the JVM starts its first worker daemon.
    "spark.python.daemon.module": "angelo_bravo_etl_task_spark.pyworker",
}


def get_spark(
    app_name: str = "angelo-bravo-etl-task-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    adaptive: bool | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    for the test/bench harness; on a real cluster pass ``None`` and submit
    with ``spark-submit --master ...`` (existing session wins).
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)

    # Driver heap (optimization r11, guide section 5): PySpark's default is
    # -Xmx1g, and in local[N] the "driver" JVM hosts every executor thread —
    # N concurrent tasks were sharing ~0.36 GB of execution memory, so
    # sorts/joins/aggregates spilled and GC dominated the long-suite tail
    # (the round-8/9/10 "in-suite spike" class). 8g is sized to the harness
    # (128 GiB box, a handful of concurrent sessions under pytest-shards);
    # on a real cluster the submitter sets --driver-memory/--executor-memory
    # and this env override keeps the knob parameterised, not hard-coded.
    # Only effective at JVM launch: getOrCreate() reusing a live session
    # keeps that session's heap (same rule as every other launch-time conf).
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")
    builder = builder.config("spark.driver.memory", driver_mem)

    if shuffle_partitions is None:
        # local[N]: N cores → N shuffle partitions avoids tiny-task overhead;
        # on a cluster AQE coalescing makes the exact number less critical.
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    confs = dict(_ENGINE_CONFS)
    confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # Python workers import the package whatever directory the client runs
    # in: the worker daemon is one of its modules, and UDFs such as mm2's
    # decoder pickle package functions by reference. Spark merges its own
    # archives and the client's PYTHONPATH around this entry.
    package_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    confs["spark.executorEnv.PYTHONPATH"] = package_parent
    if adaptive is not None:
        confs["spark.sql.adaptive.enabled"] = str(adaptive).lower()

    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
