"""The flagship pipeline: LOINC + MultiAxialHierarchy → 25-column i2b2 table.

Spark-first recomposition of the reference ``transform()``
(Angelo_ETL_Task.py:150-274). Where the reference builds five Python dicts
and runs per-row lambdas, this declares ONE lazy logical plan:

- the lookup dicts become joins (the hierarchy is dimension-sized →
  broadcast; nothing collects to the driver);
- last-wins duplicate-key semantics (pd.Series.to_dict) become one
  aggregate, ``max_by`` over a file-order column,
  ``readers.file_position()`` (SURVEY §7.4);
- every computed column is a native Column expression (codegen), including
  the XML documents and materialized paths;
- the NOT-NULL filter and varchar truncation are driven from the schema
  tables in ``schemas.py``.

Two modes (SURVEY.md §7.4): ``spec`` (docx-correct, default) and ``compat``
(reproduces the reference's verified quirks: leaf-name repetition in
C_FULLNAME segments (:40) and 'nan' literals in C_NAME (:169-170)).

Both modes build C_FULLNAME with one expression over the path's codes and
names; only the names differ (spec: each ancestor's own name, resolved once
per distinct PATH_TO_ROOT; compat: the leaf's name repeated).

At 100 TB-shape inputs every shuffle is on the hierarchy side (last-wins on
CODE, children per parent, names per distinct path), and each result is
broadcast onto the LOINC rows. The only fact-side work is projection: the
LOINC rows are probed against broadcast maps, never shuffled.
"""

from __future__ import annotations

import datetime as _dt

from pyspark.sql import DataFrame, functions as F

from ..functions.datetime_utils import run_timestamp_lit
from ..functions.xmlgen import loinc_metadata_xml
from ..operators.dedup import last_wins
from ..operators.filters import constraint_filter
from ..operators.project import visual_attributes
from ..operators.strings import (
    dot_path_depth,
    materialized_path,
    path_codes,
    strip_after_last,
    truncate_varchar,
)
from ..schemas import I2B2_COLUMNS, I2B2_NOT_NULL_COLUMNS, I2B2_VARCHAR_LIMITS

PATH_ROOT = "\\i2b2\\Laboratory"


def _c_name_concat(compat: bool) -> F.Column:
    """':'-joined 6-column concat (reference :169-170). pandas astype(str)
    turns NaN into 'nan' (compat); spec uses empty string — separators stay
    either way (concat_ws would silently drop them)."""
    cols = ["COMPONENT", "PROPERTY", "TIME_ASPCT", "SYSTEM", "SCALE_TYP", "METHOD_TYP"]
    filler = "nan" if compat else ""
    parts: list[F.Column] = []
    for i, c in enumerate(cols):
        if i:
            parts.append(F.lit(":"))
        parts.append(F.coalesce(F.col(c).cast("string"), F.lit(filler)))
    return F.concat(*parts)


def transform_loinc_to_i2b2(
    loinc: DataFrame,
    hierarchy: DataFrame,
    mode: str = "spec",
    now: _dt.datetime | None = None,
    *,
    hierarchy_order_col: str,
    import_date: _dt.datetime | None = None,
) -> DataFrame:
    """LOINC tables → i2b2 ontology rows (reference transform(), :150-274).

    ``hierarchy_order_col``: file-order column for last-wins duplicate
    resolution (``readers.file_position`` on a CSV scan). ``import_date``:
    earliest existing import date from the sink, if any (reference load()
    read-back, :330-335).
    """
    if mode not in ("spec", "compat"):
        raise ValueError(f"mode must be spec|compat, got {mode}")
    compat = mode == "compat"

    # One surviving hierarchy row per CODE, last file row wins — replaces
    # loinc_path_dict / loinc_codetext_dict (reference :163,:166). The
    # reference keys the path dict by merged LOINC_NUM, which equals CODE on
    # the join matches, so a single dedup serves both.
    hier_last = last_wins(
        hierarchy.select("CODE", "CODE_TEXT", "PATH_TO_ROOT", hierarchy_order_col),
        ["CODE"],
        hierarchy_order_col,
    ).drop(hierarchy_order_col)

    # parent_count_dict (:173): children per IMMEDIATE_PARENT.
    parent_counts = hierarchy.groupBy("IMMEDIATE_PARENT").agg(
        F.count(F.lit(1)).alias("_parent_count")
    )

    # The reference's merged_df + unique() reduces to: one row per LOINC_NUM
    # with its surviving hierarchy row. Missing-hierarchy codes crash the
    # reference (:192 on NaN); both modes drop them (documented deviation —
    # an engine can't "crash per row"), i.e. inner-join semantics.
    base = (
        loinc.join(
            F.broadcast(hier_last),
            loinc["LOINC_NUM"] == hier_last["CODE"],
            "inner",
        )
        .join(
            F.broadcast(parent_counts),
            loinc["LOINC_NUM"] == parent_counts["IMMEDIATE_PARENT"],
            "left",
        )
        .drop("IMMEDIATE_PARENT")
    )

    # --- C_FULLNAME ------------------------------------------------------
    codes_arr = path_codes(F.col("PATH_TO_ROOT"), F.col("LOINC_NUM"))
    if compat:
        # reference bug (:40): every segment carries the LEAF's name
        names_arr = F.transform(codes_arr, lambda _: F.col("CODE_TEXT"))
    else:
        # spec mode: each ancestor's own name, resolved once per distinct
        # PATH_TO_ROOT (a hierarchy-sized frame, broadcast back onto base).
        # Ancestors missing from the hierarchy would KeyError in the
        # reference; spec falls back to the code itself, for the leaf too.
        names = hier_last.select(
            F.col("CODE").alias("_seg_code"), F.col("CODE_TEXT").alias("_seg_name")
        )
        path_names = (
            hier_last.select("PATH_TO_ROOT")
            .distinct()
            .select(
                "PATH_TO_ROOT",
                F.posexplode(F.split("PATH_TO_ROOT", r"\.")).alias("_pos", "_seg_code"),
            )
            .join(F.broadcast(names), "_seg_code", "left")
            .groupBy("PATH_TO_ROOT")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct("_pos", F.coalesce("_seg_name", "_seg_code").alias("n"))
                    )
                ).alias("_segs")
            )
            .select("PATH_TO_ROOT", F.col("_segs.n").alias("_path_names"))
        )
        base = base.join(F.broadcast(path_names), "PATH_TO_ROOT")
        names_arr = F.concat(
            F.col("_path_names"), F.array(F.coalesce("CODE_TEXT", "LOINC_NUM"))
        )
    base = base.withColumn(
        "C_FULLNAME", materialized_path(codes_arr, names_arr, PATH_ROOT)
    )

    # --- remaining columns (reference :189-241), all native expressions --
    now_lit = run_timestamp_lit(now)
    import_lit = (
        F.lit(import_date).cast("timestamp") if import_date is not None else now_lit
    )
    is_lp = F.col("LOINC_NUM").startswith("LP")

    out = base.withColumns(
        {
            "C_HLEVEL": dot_path_depth(F.col("PATH_TO_ROOT"), base=3),
            "C_NAME": F.when(is_lp, F.col("CODE_TEXT")).otherwise(
                _c_name_concat(compat)
            ),
            "C_SYNONYM_CD": F.lit("N"),
            "C_VISUALATTRIBUTES": visual_attributes(
                F.col("_parent_count"), F.col("STATUS")
            ),
            "C_TOTALNUM": F.lit(None).cast("int"),
            "C_BASECODE": F.concat(F.lit("LOINC:"), F.col("LOINC_NUM")),
            "C_METADATAXML": loinc_metadata_xml(
                F.col("LOINC_NUM"),
                F.col("CODE_TEXT"),
                F.col("COMPONENT"),
                F.col("SYSTEM"),
                F.col("METHOD_TYP"),
                compat=compat,
            ),
            "C_FACTTABLECOLUMN": F.lit("CONCEPT_CD"),
            "C_TABLENAME": F.lit("CONCEPT_DIMENSION"),
            "C_COLUMNNAME": F.lit("CONCEPT_PATH"),
            "C_COLUMNDATATYPE": F.when(
                F.col("SCALE_TYP") == "Qn", F.lit("N")
            ).otherwise(F.lit("T")),
            "C_OPERATOR": F.lit("LIKE"),
            "C_DIMCODE": F.col("C_FULLNAME"),
            "C_COMMENT": F.lit(None).cast("string"),
            "C_TOOLTIP": F.col("C_FULLNAME"),
            "M_APPLIED_PATH": F.lit("@"),
            "UPDATE_DATE": now_lit,
            "DOWNLOAD_DATE": now_lit,
            "IMPORT_DATE": import_lit,
            "SOURCESYSTEM_CD": F.lit("LOINC"),
            "VALUETYPE_CD": F.lit("LAB"),
            "M_EXCLUSION_CD": F.lit(None).cast("string"),
            "C_PATH": strip_after_last(F.col("C_FULLNAME"), "\\"),
            "C_SYMBOL": F.col("CODE_TEXT"),
        }
    )

    # constraint filter (:245-258) then varchar truncation (:261-272),
    # in the reference's order (filter sees untruncated values)
    out = constraint_filter(out, I2B2_NOT_NULL_COLUMNS)
    out = out.withColumns(
        {
            name: truncate_varchar(F.col(name), limit)
            for name, limit in I2B2_VARCHAR_LIMITS.items()
        }
    )
    return out.select(
        *[
            F.col(name).cast(dtype).alias(name)
            for name, dtype, _, _ in I2B2_COLUMNS
        ]
    )
