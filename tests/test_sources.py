"""Source/sink tests: explicit-schema CSV reads, parquet/csv round-trips,
and the injectable HTTP+zip staging fetch (no network — a fake fetcher
serves in-memory zips, mirroring the reference's extract() shape)."""

from __future__ import annotations

import io
import zipfile

from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.schemas import HIERARCHY_SCHEMA, LOINC_SCHEMA
from angelo_bravo_etl_task_spark.sources.readers import (
    file_position,
    read_csv,
    read_parquet,
)
from angelo_bravo_etl_task_spark.sources.staging import (
    LOINC_HIERARCHY_URL,
    LOINC_TABLE_URL,
    stage_loinc_inputs,
)
from angelo_bravo_etl_task_spark.sources.writers import write_csv

LOINC_CSV = """LOINC_NUM,COMPONENT,PROPERTY,TIME_ASPCT,SYSTEM,SCALE_TYP,METHOD_TYP,STATUS
4548-4,Hemoglobin A1c/Hemoglobin.total,MFr,Pt,Bld,Qn,,ACTIVE
111-1,Sodium,SCnc,Pt,Ser,Qn,,DEPRECATED
"""

HIERARCHY_CSV = """PATH_TO_ROOT,SEQUENCE,IMMEDIATE_PARENT,CODE,CODE_TEXT
,1,,LP1-1,Lab
LP1-1,1,LP1-1,4548-4,Hgb A1c MFr Bld
LP1-1,2,LP1-1,111-1,Sodium Ser
"""


def _fake_zip(member: str, content: str) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(member, content)
    return buf.getvalue()


def test_staging_fetch_with_fake_fetcher(tmp_path):
    zips = {
        LOINC_TABLE_URL: _fake_zip("Loinc.csv", LOINC_CSV),
        LOINC_HIERARCHY_URL: _fake_zip("MultiAxialHierarchy.csv", HIERARCHY_CSV),
    }

    def fetcher(url, data):
        assert data == {"tc_submit": "Download", "tc_accepted": "1"}
        return zips[url]

    staged = stage_loinc_inputs(str(tmp_path), fetcher)
    assert staged["loinc"].endswith("Loinc.csv")
    assert staged["hierarchy"].endswith("MultiAxialHierarchy.csv")
    with open(staged["loinc"]) as f:
        assert "4548-4" in f.read()


def test_csv_read_with_schema_then_pipeline(spark, tmp_path):
    """End-to-end extract→transform via staged CSVs, like the reference's
    extract() + transform() — but with explicit schemas (no inference)."""
    from angelo_bravo_etl_task_spark.pipelines.loinc_i2b2 import (
        transform_loinc_to_i2b2,
    )

    loinc_path = tmp_path / "Loinc.csv"
    hier_path = tmp_path / "MultiAxialHierarchy.csv"
    loinc_path.write_text(LOINC_CSV)
    hier_path.write_text(HIERARCHY_CSV)

    loinc = read_csv(spark, str(loinc_path), LOINC_SCHEMA)
    hierarchy = read_csv(spark, str(hier_path), HIERARCHY_SCHEMA).withColumn(
        "_file_pos", file_position()
    )
    out = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", hierarchy_order_col="_file_pos"
    )
    rows = {r["C_BASECODE"]: r for r in out.collect()}
    assert rows["LOINC:4548-4"]["C_HLEVEL"] == 3
    assert rows["LOINC:111-1"]["C_VISUALATTRIBUTES"] == "LI"


def test_parquet_roundtrip(spark, tmp_path):
    df = spark.range(100).select(
        F.col("id"), (F.col("id") * 2).alias("doubled")
    )
    path = str(tmp_path / "rt_parquet")
    df.write.partitionBy("doubled").parquet(path)
    back = read_parquet(spark, path)
    assert back.count() == 100
    assert set(back.columns) == {"id", "doubled"}


def test_csv_roundtrip_single_file(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b")], "id INT, name STRING"
    )
    path = str(tmp_path / "rt_csv")
    write_csv(df, path, single_file=True)
    import glob

    files = glob.glob(f"{path}/part-*.csv")
    assert len(files) == 1  # COPY-TO-like single file
    back = (
        spark.read.option("header", "true").schema("id INT, name STRING").csv(path)
    )
    assert sorted(tuple(r) for r in back.collect()) == [(1, "a"), (2, "b")]
