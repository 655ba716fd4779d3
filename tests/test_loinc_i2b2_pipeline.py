"""Golden-row pipeline test: the docx worked example for LOINC 4548-4
(FIXTURES.md §2) through the full LOINC→i2b2 transform, plus the §7.4 edge
cases (last-wins duplicates, folder flags, truncation)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from angelo_bravo_etl_task_spark.pipelines.loinc_i2b2 import (
    PATH_ROOT,
    transform_loinc_to_i2b2,
)
from angelo_bravo_etl_task_spark.schemas import (
    HIERARCHY_SCHEMA,
    I2B2_SCHEMA,
    LOINC_SCHEMA,
)
from angelo_bravo_etl_task_spark.sources.readers import file_position, read_csv

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


def _fixtures(spark):
    loinc_rows = [
        (
            "4548-4",
            "Hemoglobin A1c/Hemoglobin.total",
            "MFr",
            "Pt",
            "Bld",
            "Qn",
            None,
            "ACTIVE",
        ),
        # an LP code present in loinc → exercises the LP branches of C_NAME
        # and C_METADATAXML; parent of exactly one row + non-ACTIVE → 'FIE'
        ("LP100945-7", None, None, None, None, "Ord", None, "DEPRECATED"),
        # parent of two rows → 'M' flag
        ("LP16413-4", None, None, None, None, "Ord", None, "ACTIVE"),
    ]
    chain_codes = CHAIN.split(".")
    hier_rows = []
    for i, code in enumerate(chain_codes):
        hier_rows.append(
            (
                ".".join(chain_codes[:i]) if i else "",
                1,
                chain_codes[i - 1] if i else None,
                code,
                ANCESTOR_NAMES[code],
            )
        )
    hier_rows.append((CHAIN, 1, "LP100945-7", "4548-4", "Hgb A1c MFr Bld"))
    # second child of LP16413-4 → makes it a multi-folder ('M')
    hier_rows.append(
        (
            ".".join(chain_codes[:6]),
            2,
            "LP16413-4",
            "LP999999-9",
            "Other HbA1c thing",
        )
    )
    loinc = spark.createDataFrame(loinc_rows, LOINC_SCHEMA)
    hierarchy = spark.createDataFrame(hier_rows, HIERARCHY_SCHEMA).withColumn(
        "_line_no", F.monotonically_increasing_id()
    )
    return loinc, hierarchy


@pytest.fixture(scope="module")
def result(spark):
    loinc, hierarchy = _fixtures(spark)
    now = datetime.datetime(2026, 8, 13, 12, 0, 0)
    df = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", now=now, hierarchy_order_col="_line_no"
    )
    return {r["C_BASECODE"]: r for r in df.collect()}, df


def test_golden_row_4548_4(result):
    rows, df = result
    r = rows["LOINC:4548-4"]
    assert r["C_HLEVEL"] == 9
    assert r["C_NAME"] == "Hemoglobin A1c/Hemoglobin.total:MFr:Pt:Bld:Qn:"
    assert r["C_VISUALATTRIBUTES"] == "LA"
    assert r["C_SYMBOL"] == "Hgb A1c MFr Bld"
    assert r["C_COLUMNDATATYPE"] == "N"
    # per-segment names (spec mode, docx semantics — NOT the reference's
    # leaf-name-repetition bug at Angelo_ETL_Task.py:40)
    expected_fullname = "\\i2b2\\Laboratory" + "".join(
        f"\\({code}) {ANCESTOR_NAMES[code]}" for code in CHAIN.split(".")
    ) + "\\(4548-4) Hgb A1c MFr Bld"
    assert r["C_FULLNAME"] == expected_fullname
    assert r["C_DIMCODE"] == r["C_FULLNAME"]
    assert r["C_TOOLTIP"] == r["C_FULLNAME"]
    assert r["C_PATH"] == expected_fullname.rsplit("\\", 1)[0]
    assert r["C_SYNONYM_CD"] == "N"
    assert r["C_OPERATOR"] == "LIKE"
    assert r["M_APPLIED_PATH"] == "@"
    assert r["SOURCESYSTEM_CD"] == "LOINC"
    assert r["VALUETYPE_CD"] == "LAB"
    assert r["C_METADATAXML"] == (
        "<Loinc><LOINC_NUM>4548-4</LOINC_NUM>"
        "<COMPONENT>Hemoglobin A1c/Hemoglobin.total</COMPONENT>"
        "<SYSTEM>Bld</SYSTEM><METHOD_TYP /></Loinc>"
    )


def test_folder_flags(result):
    rows, _ = result
    # LP100945-7 parents exactly one row, DEPRECATED → F + I + E
    assert rows["LOINC:LP100945-7"]["C_VISUALATTRIBUTES"] == "FIE"
    # LP16413-4 parents two rows, ACTIVE → M + A + E
    assert rows["LOINC:LP16413-4"]["C_VISUALATTRIBUTES"] == "MAE"


def test_lp_name_and_xml(result):
    rows, _ = result
    r = rows["LOINC:LP16413-4"]
    assert r["C_NAME"] == "Hemoglobin A1c"  # CODE_TEXT, not the concat
    assert r["C_METADATAXML"] == (
        "<MultiAxialHierarchy><LOINC_NUM>LP16413-4</LOINC_NUM>"
        "<CODE_TEXT>Hemoglobin A1c</CODE_TEXT></MultiAxialHierarchy>"
    )


def test_output_schema(result):
    _, df = result
    assert [f.name for f in df.schema.fields] == [f.name for f in I2B2_SCHEMA.fields]
    assert [f.dataType for f in df.schema.fields] == [
        f.dataType for f in I2B2_SCHEMA.fields
    ]


def test_compat_mode_leaf_name_repetition(spark):
    """Reference bug (Angelo_ETL_Task.py:40): every path segment carries the
    LEAF's name. compat mode must reproduce it."""
    loinc, hierarchy = _fixtures(spark)
    df = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="compat", hierarchy_order_col="_line_no"
    )
    r = {x["C_BASECODE"]: x for x in df.collect()}["LOINC:4548-4"]
    expected = "\\i2b2\\Laboratory" + "".join(
        f"\\({code}) Hgb A1c MFr Bld" for code in CHAIN.split(".") + ["4548-4"]
    )
    assert r["C_FULLNAME"] == expected


def test_compat_mode_nan_in_concat(spark):
    """Reference quirk (Angelo_ETL_Task.py:169-170): pandas astype(str)
    turns NaN concat members into the literal 'nan'. compat mode reproduces
    it; spec mode uses empty string."""
    loinc = spark.createDataFrame(
        [("333-3", None, "P", None, "S", "Qn", None, "ACTIVE")], LOINC_SCHEMA
    )
    hierarchy = spark.createDataFrame(
        [("", 1, None, "LPD-1", "D"), ("LPD-1", 1, "LPD-1", "333-3", "Name")],
        HIERARCHY_SCHEMA,
    ).withColumn("_line_no", F.monotonically_increasing_id())
    compat = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="compat", hierarchy_order_col="_line_no"
    ).collect()[0]
    spec = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", hierarchy_order_col="_line_no"
    ).collect()[0]
    assert compat["C_NAME"] == "nan:P:nan:S:Qn:nan"
    assert spec["C_NAME"] == ":P::S:Qn:"


def test_last_wins_duplicate_hierarchy(spark):
    """A code placed twice in the hierarchy: the LAST file row's path must
    drive the output (pd.Series.to_dict semantics, Angelo_ETL_Task.py:163)."""
    loinc = spark.createDataFrame(
        [("111-1", "Comp", "P", "T", "S", "Qn", None, "ACTIVE")], LOINC_SCHEMA
    )
    hierarchy = spark.createDataFrame(
        [
            ("", 1, None, "LPA-1", "A name"),
            ("", 1, None, "LPB-1", "B name"),
            ("LPA-1", 1, "LPA-1", "111-1", "first placement"),
            ("LPB-1", 2, "LPB-1", "111-1", "second placement"),
        ],
        HIERARCHY_SCHEMA,
    ).withColumn("_line_no", F.monotonically_increasing_id())
    df = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", hierarchy_order_col="_line_no"
    )
    rows = df.collect()
    assert len(rows) == 1  # one surviving row per code, not a fan-out
    r = rows[0]
    assert r["C_HLEVEL"] == 3
    assert r["C_FULLNAME"].startswith("\\i2b2\\Laboratory\\(LPB-1) B name")
    assert r["C_SYMBOL"] == "second placement"


def test_truncation_limits(spark):
    """varchar limits enforced by prefix truncation (reference :261-272)."""
    long_name = "X" * 1000
    loinc = spark.createDataFrame(
        [("222-2", long_name, "P", "T", "S", "Nom", "M", "ACTIVE")], LOINC_SCHEMA
    )
    hierarchy = spark.createDataFrame(
        [
            ("", 1, None, "LPC-1", long_name),
            ("LPC-1", 1, "LPC-1", "222-2", long_name),
        ],
        HIERARCHY_SCHEMA,
    ).withColumn("_line_no", F.monotonically_increasing_id())
    df = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", hierarchy_order_col="_line_no"
    )
    r = df.collect()[0]
    assert len(r["C_FULLNAME"]) == 700
    assert len(r["C_SYMBOL"]) == 50
    assert len(r["C_TOOLTIP"]) == 900
    assert r["C_COLUMNDATATYPE"] == "T"  # non-Qn scale


def test_compat_mode_nan_in_xml(spark):
    """Reference quirk (Angelo_ETL_Task.py:111-115): str(NaN) puts the
    LITERAL bytes 'nan' inside C_METADATAXML elements. compat mode must
    reproduce them; spec mode keeps the empty-element form."""
    loinc, hierarchy = _fixtures(spark)
    compat = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="compat", hierarchy_order_col="_line_no"
    ).where(F.col("C_BASECODE") == "LOINC:4548-4").collect()[0]
    # METHOD_TYP is NULL for 4548-4 → literal 'nan' element body
    assert "<METHOD_TYP>nan</METHOD_TYP>" in compat["C_METADATAXML"]
    spec = transform_loinc_to_i2b2(
        loinc, hierarchy, mode="spec", hierarchy_order_col="_line_no"
    ).where(F.col("C_BASECODE") == "LOINC:4548-4").collect()[0]
    assert "<METHOD_TYP />" in spec["C_METADATAXML"]
    assert "nan" not in spec["C_METADATAXML"]


def test_last_wins_follows_file_order_across_splits(spark, tmp_path):
    """A hierarchy CSV read as many splits, with each duplicated CODE's rows
    in different splits: the survivors keyed by ``file_position()`` are the
    last rows in file order, as pd.Series.to_dict() keeps them (reference
    :163-176)."""
    import random

    import pandas as pd

    rng = random.Random(7)
    parents = [f"LP{k}-0" for k in range(20)]
    rows = [("", 1, None, p, f"parent {p}") for p in parents]
    placements = []
    for i in range(400):
        for rep in range(rng.choice((1, 2, 3))):
            chain = ".".join(rng.sample(parents, rng.randint(1, 3)))
            parent = chain.rsplit(".", 1)[-1]
            placements.append((chain, rep + 1, parent, f"{i}-1", f"text {i} v{rep}"))
    rng.shuffle(placements)
    rows += placements
    path = tmp_path / "MultiAxialHierarchy.csv"
    pd.DataFrame(rows, columns=HIERARCHY_SCHEMA.names).to_csv(path, index=False)

    # the reference's dict builds: the last row per CODE wins
    ref = pd.read_csv(path, dtype=str, keep_default_na=False)
    text = pd.Series(ref["CODE_TEXT"].values, index=ref["CODE"]).to_dict()
    to_root = pd.Series(ref["PATH_TO_ROOT"].values, index=ref["CODE"]).to_dict()
    assert len(text) < len(ref)  # duplicates present

    codes = sorted({r[3] for r in placements})
    loinc = spark.createDataFrame(
        [(c, "Comp", "P", "T", "S", "Qn", None, "ACTIVE") for c in codes],
        LOINC_SCHEMA,
    )
    key = "spark.sql.files.maxPartitionBytes"
    saved = spark.conf.get(key)
    spark.conf.set(key, "4096")
    try:
        hierarchy = read_csv(spark, str(path), HIERARCHY_SCHEMA).withColumn(
            "_file_pos", file_position()
        )
        assert hierarchy.rdd.getNumPartitions() > 1
        out = transform_loinc_to_i2b2(
            loinc, hierarchy, mode="spec", hierarchy_order_col="_file_pos"
        ).collect()
    finally:
        spark.conf.set(key, saved)

    assert len(out) == len(codes)
    for r in out:
        code = r["C_BASECODE"].removeprefix("LOINC:")
        assert r["C_SYMBOL"] == text[code]
        assert r["C_FULLNAME"] == PATH_ROOT + "".join(
            f"\\({c}) {text[c]}" for c in to_root[code].split(".") + [code]
        )


def test_spec_fullname_matches_reference_dicts(spark):
    """Spec-mode C_FULLNAME equals a plain-Python build of the reference's
    get_c_full_name (:30-48) over dicts from the hierarchy rows, last row
    winning (pd.Series.to_dict), with per-segment names: a name missing
    from the hierarchy, or NULL there, falls back to the code itself.
    Compat mode repeats the leaf's name on every segment."""
    import random

    from pyspark.sql.types import StructField, StructType

    rng = random.Random(11)
    ancestors = [f"LPA{k}-0" for k in range(8)]
    named = {a: f"anc {a}" for a in ancestors}
    named["LPA3-0"] = None  # an ancestor whose CODE_TEXT is NULL
    rows = [("", 1, None, a, named[a]) for a in ancestors]
    rows.append(("", 2, None, "LPA5-0", "anc LPA5-0 renamed"))  # last wins
    shared = "LPA0-0.LPA3-0.LPA9-9"  # LPA9-9 is absent from the hierarchy

    def chain() -> str:
        return ".".join(rng.sample(ancestors, rng.randint(1, 4)))

    placements = []
    for i in range(120):
        code = f"{1000 + i}-{i % 10}"
        for rep in range(rng.choice((1, 1, 2, 3))):  # duplicate placements
            path = shared if i % 3 == 0 else chain()
            text = None if i % 7 == 0 else f"leaf {i} v{rep}"  # NULL leaf text
            placements.append((path, rep + 1, path.rsplit(".", 1)[-1], code, text))
    rng.shuffle(placements)
    rows += placements
    ref_path, ref_name = {}, {}
    for path, _, _, code, text in rows:  # file order: the last row wins
        ref_path[code], ref_name[code] = path, text

    def name(code: str) -> str:
        return code if ref_name.get(code) is None else ref_name[code]

    codes = sorted({p[3] for p in placements})
    assert sum(ref_path[c] == shared for c in codes) >= 20
    assert any(ref_name[c] is None for c in codes)
    assert len(placements) > len(codes)

    loinc = spark.createDataFrame(
        [(c, "Comp", "P", "T", "S", "Qn", None, "ACTIVE") for c in codes],
        LOINC_SCHEMA,
    )
    nullable = StructType(
        [StructField(f.name, f.dataType, True) for f in HIERARCHY_SCHEMA]
    )
    hierarchy = spark.createDataFrame(rows, nullable).withColumn(
        "_line_no", F.monotonically_increasing_id()
    )

    def fullnames(mode: str) -> dict[str, str]:
        out = transform_loinc_to_i2b2(
            loinc, hierarchy, mode=mode, hierarchy_order_col="_line_no"
        )
        return {
            r["C_BASECODE"].removeprefix("LOINC:"): r["C_FULLNAME"]
            for r in out.collect()
        }

    segments = {c: ref_path[c].split(".") + [c] for c in codes}
    assert fullnames("spec") == {
        c: PATH_ROOT + "".join(f"\\({s}) {name(s)}" for s in segments[c])
        for c in codes
    }
    compat = fullnames("compat")
    assert set(compat) == set(codes)
    for c in codes:
        if ref_name[c] is not None:
            assert compat[c] == PATH_ROOT + "".join(
                f"\\({s}) {ref_name[c]}" for s in segments[c]
            )
