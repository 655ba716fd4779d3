"""The engine's Python worker daemon (``angelo_bravo_etl_task_spark.pyworker``).

Workers skip zipimport's per-task archive re-read, still import what
``addPyFile`` ships, and find the package from any working directory."""

from __future__ import annotations

import os
import subprocess
import sys
import uuid
import zipfile

from pyspark.sql import functions as F

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_do_not_reread_zip_archives_per_task(spark):
    def archive_reads(_rows):
        """Zip central directories a task's ``importlib.invalidate_caches()``
        re-reads (runs in a Python worker)."""
        import importlib
        import zipimport

        reads = []
        read_directory = zipimport._read_directory

        def counted(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        return [len(reads)]

    # pyspark.daemon's workers re-read all 16 archives on their path here
    counts = spark.sparkContext.parallelize(range(4), 4).mapPartitions(archive_reads).collect()
    assert counts == [0, 0, 0, 0]


def test_add_py_file_archive_imports_in_udf(spark, tmp_path):
    module = f"pyworker_shipped_{uuid.uuid4().hex}"
    archive = tmp_path / f"{module}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{module}.py", "def tag(x):\n    return f'shipped-{x}'\n")
    # run a task first so the workers already hold their importers
    spark.range(2).select(F.udf(lambda x: x + 1, "long")("id")).collect()
    spark.sparkContext.addPyFile(str(archive))

    @F.udf("string")
    def tag(x):
        import importlib

        return importlib.import_module(module).tag(x)

    rows = spark.range(3).select(tag("id").alias("t")).collect()
    assert sorted(r.t for r in rows) == ["shipped-0", "shipped-1", "shipped-2"]


_CLIENT = """
import sys
sys.path.insert(0, {repo!r})
import pandas as pd
from pyspark.sql import functions as F
from angelo_bravo_etl_task_spark.queries import QUERIES
from angelo_bravo_etl_task_spark.session import get_spark

spark = get_spark(master="local[2]")
offset = 7

@F.pandas_udf("long")
def shifted(v: pd.Series) -> pd.Series:
    return v + offset

assert [r[0] for r in spark.range(3).select(shifted("id")).collect()] == [7, 8, 9]
assert QUERIES["mm2_decode_meta"][0](spark, {sf_dir!r}).count() > 0
spark.stop()
print("client ok")
"""


def test_client_outside_repo_runs_python_udfs(tmp_path, sf_dir):
    # a client that imports the package from elsewhere, with no PYTHONPATH:
    # its workers must still reach the daemon module and the package
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    script = _CLIENT.format(repo=REPO, sf_dir=os.path.abspath(sf_dir))
    proc = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0 and "client ok" in proc.stdout, proc.stderr[-3000:]
