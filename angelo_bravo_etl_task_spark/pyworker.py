"""Python worker daemon of the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark.worker_util.setup_spark_files``). On CPython 3.10-3.12 that makes
each ``zipimporter`` on the worker's path re-read its archive's whole central
directory: 16 importers (pyspark.zip and its subpackages, the spark-core jar,
py4j), ~0.2 CPU-s per task whatever its data. None of those archives
changes under a running worker, and an archive shipped with ``addPyFile``
arrives under a new path and gets a fresh importer, so the daemon makes the
re-read a no-op before it forks; its workers inherit that. Directory finders
are still invalidated. Run as ``python -m angelo_bravo_etl_task_spark.pyworker``
by Spark, never imported.
"""

if __name__ == "__main__":
    import zipimport

    from pyspark import daemon

    zipimport.zipimporter.invalidate_caches = lambda self: None
    daemon.manager()
