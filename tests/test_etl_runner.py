"""End-to-end ETL runner integration test against embedded Derby: the
reference ``__main__`` (Angelo_ETL_Task.py:377-390) and the full load()
control flow (:276-374) in one call — create-branch on first run,
existence + MIN(IMPORT_DATE)-override branch on the second, batched
append, inserted-row count, and the CSV export of exactly this run's rows."""

from __future__ import annotations

import csv
import datetime
import glob
import io
import zipfile

import pytest

from angelo_bravo_etl_task_spark.pipelines.etl_runner import run_etl
from angelo_bravo_etl_task_spark.sources import staging

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"

CHAIN = "LP31756-7.LP30786-5.LP31617-1.LP14554-7.LP16412-6.LP16413-4.LP100945-7"
ANCESTOR_NAMES = {
    "LP31756-7": "Hematology",
    "LP30786-5": "Blood bank",
    "LP31617-1": "Chemistry challenge",
    "LP14554-7": "Hemoglobin",
    "LP16412-6": "Glycated hemoglobin",
    "LP16413-4": "Hemoglobin A1c",
    "LP100945-7": "HbA1c measurement",
}


def _csv_bytes(header: list[str], rows: list[tuple]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf)
    w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    return buf.getvalue().encode()


def _zip_bytes(member: str, payload: bytes) -> bytes:
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as zf:
        zf.writestr(member, payload)
    return buf.getvalue()


def _fake_fetcher(extra_hier_rows: list[tuple] = ()) -> staging.Fetcher:
    """Offline stand-in for the authenticated LOINC download (:135-141):
    serves the golden-fixture tables as in-memory zips keyed by URL;
    ``extra_hier_rows`` are appended to the hierarchy file."""
    loinc = _csv_bytes(
        [
            "LOINC_NUM", "COMPONENT", "PROPERTY", "TIME_ASPCT",
            "SYSTEM", "SCALE_TYP", "METHOD_TYP", "STATUS",
        ],
        [
            (
                "4548-4", "Hemoglobin A1c/Hemoglobin.total", "MFr", "Pt",
                "Bld", "Qn", None, "ACTIVE",
            ),
            ("LP100945-7", None, None, None, None, "Ord", None, "DEPRECATED"),
            ("LP16413-4", None, None, None, None, "Ord", None, "ACTIVE"),
        ],
    )
    chain = CHAIN.split(".")
    hier_rows = []
    for i, code in enumerate(chain):
        hier_rows.append(
            (
                ".".join(chain[:i]) if i else "",
                1,
                chain[i - 1] if i else None,
                code,
                ANCESTOR_NAMES[code],
            )
        )
    hier_rows.append((CHAIN, 1, "LP100945-7", "4548-4", "Hgb A1c MFr Bld"))
    hierarchy = _csv_bytes(
        ["PATH_TO_ROOT", "SEQUENCE", "IMMEDIATE_PARENT", "CODE", "CODE_TEXT"],
        hier_rows + list(extra_hier_rows),
    )
    payloads = {
        staging.LOINC_TABLE_URL: _zip_bytes("Loinc.csv", loinc),
        staging.LOINC_HIERARCHY_URL: _zip_bytes(
            "MultiAxialHierarchy.csv", hierarchy
        ),
    }

    def fetch(url, data):
        assert data == {"tc_submit": "Download", "tc_accepted": "1"}
        return payloads[url]

    return fetch


@pytest.fixture(scope="module")
def derby_url(spark, tmp_path_factory):
    try:
        spark._jvm.java.lang.Class.forName(DRIVER)
    except Exception:
        pytest.skip("Derby driver not on the Spark classpath")
    db = tmp_path_factory.mktemp("derby_etl") / "db"
    return f"jdbc:derby:{db};create=true"


def test_run_etl_reference_control_flow(spark, derby_url, tmp_path):
    now1 = datetime.datetime(2026, 2, 1, 12, 0, 0)
    common = dict(
        spark=spark,
        fetcher=_fake_fetcher(),
        staging_dir=str(tmp_path / "staging"),
        jdbc_url=derby_url,
        csv_out_dir=str(tmp_path / "out"),
        # Derby: Spark's dialect types null string params CLOB, and Derby
        # refuses CLOB params against VARCHAR columns — nullable string
        # columns must be CLOB on this sink
        text_type="CLOB",
        nullable_string_type="CLOB",
        jdbc_options={"driver": DRIVER},
    )

    # ---- first run: create branch (:298-325), no override ----------------
    s1 = run_etl(now=now1, **common)
    assert s1["table_created"] is True
    assert s1["import_date_override"] is None
    # fixture yields 3 i2b2 rows — one per LOINC row with a hierarchy
    # entry (4548-4, LP100945-7, LP16413-4), reference inner-join semantics
    assert s1["rows_inserted"] == 3
    assert s1["update_date"] == now1

    # the CSV export holds exactly this run's rows, one file, with header
    part = glob.glob(s1["csv_path"] + "/part-*.csv")
    assert len(part) == 1
    with open(part[0]) as f:
        lines = f.read().strip().splitlines()
    assert len(lines) == 1 + s1["rows_inserted"]
    assert lines[0].startswith("C_HLEVEL,C_FULLNAME,C_NAME")

    # ---- second run: exists branch + MIN(IMPORT_DATE) override (:330-335)
    now2 = datetime.datetime(2026, 3, 1, 12, 0, 0)
    s2 = run_etl(now=now2, **common)
    assert s2["table_created"] is False
    assert s2["import_date_override"] == now1
    assert s2["rows_inserted"] == 3

    # the appended rows carry run-2's UPDATE_DATE but run-1's IMPORT_DATE —
    # the reference's "earliest existing import" semantics
    back = (
        spark.read.format("jdbc")
        .option("url", derby_url)
        .option("dbtable", "I2B2")
        .option("driver", DRIVER)
        .load()
    )
    assert back.count() == 6
    run2 = back.where(back["UPDATE_DATE"] == now2).select("IMPORT_DATE").distinct()
    assert [r[0] for r in run2.collect()] == [now1]


def test_run_etl_last_wins_on_multi_split_hierarchy(spark, tmp_path):
    """A hierarchy CSV read as several splits whose duplicate of 4548-4 is
    its LAST row: run_etl keeps that row (pd.Series.to_dict last-wins,
    reference :163-176) instead of refusing multi-partition input."""
    from angelo_bravo_etl_task_spark.schemas import HIERARCHY_SCHEMA
    from angelo_bravo_etl_task_spark.sources.readers import read_csv

    filler = [
        ("LP31756-7", 1, "LP31756-7", f"{i}-9", f"filler {i}") for i in range(2000)
    ]
    last = (CHAIN, 2, "LP100945-7", "4548-4", "Hgb A1c last row")
    url = "jdbc:derby:memory:etl_multi_split;create=true"
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "8192")
    try:
        summary = run_etl(
            spark,
            _fake_fetcher(filler + [last]),
            str(tmp_path / "staging"),
            url,
            str(tmp_path / "out"),
            now=datetime.datetime(2026, 4, 1, 12, 0, 0),
            text_type="CLOB",
            nullable_string_type="CLOB",
            jdbc_options={"driver": DRIVER},
        )
        staged = str(tmp_path / "staging" / "MultiAxialHierarchy.csv")
        assert read_csv(spark, staged, HIERARCHY_SCHEMA).rdd.getNumPartitions() > 1
    finally:
        spark.conf.set(key, saved)
    assert summary["rows_inserted"] == 3
    # the export holds exactly the rows the sink accepted
    [part] = glob.glob(summary["csv_path"] + "/part-*.csv")
    with open(part, newline="") as f:
        symbols = {r["C_BASECODE"]: r["C_SYMBOL"] for r in csv.DictReader(f)}
    assert symbols["LOINC:4548-4"] == "Hgb A1c last row"


def test_cli_arg_parser_mirrors_reference_main():
    """The CLI surface covers every input the reference __main__ wires
    (loinc credentials, db host/port/name/user/password, output path) and
    rejects empty invocations."""
    import pytest

    from angelo_bravo_etl_task_spark.pipelines.etl_runner import build_arg_parser

    p = build_arg_parser()
    args = p.parse_args(
        [
            "--loinc-user", "u", "--loinc-password", "pw",
            "--db-name", "i2b2", "--db-user", "dbu", "--db-password", "dbp",
            "--out-dir", "/tmp/out", "--mode", "compat",
        ]
    )
    assert args.db_host == "localhost" and args.db_port == "5432"
    assert args.mode == "compat" and args.table == "I2B2"
    with pytest.raises(SystemExit):
        p.parse_args([])
