"""Seeded input generator for the cold ETL workload.

``loinc_release`` builds a LOINC release at the reference's scale: 10^5
LOINC codes plus 5% LP part codes, a multiaxial hierarchy whose code paths
are 3-12 parts deep, 15% of codes placed under two parents (last-wins
fodder), and null shares in COMPONENT and METHOD_TYP.  Both CSVs are
returned zipped, exactly as the LOINC download serves them.

The same seed gives byte-identical output.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import zipfile

import numpy as np

LOINC_HEADER = [
    "LOINC_NUM", "COMPONENT", "PROPERTY", "TIME_ASPCT",
    "SYSTEM", "SCALE_TYP", "METHOD_TYP", "STATUS",
]
HIERARCHY_HEADER = ["PATH_TO_ROOT", "SEQUENCE", "IMMEDIATE_PARENT", "CODE", "CODE_TEXT"]

_COMPONENTS = ["Hemoglobin", "Glucose", "Sodium", "Potassium", "Creatinine",
               "Albumin", "Cholesterol", "Ferritin", "Troponin", "Lactate"]
_PROPERTIES = ["MCnc", "SCnc", "MFr", "NCnc", "ACnc", "Prid", "Type"]
_TIMES = ["Pt", "24H", "XXX"]
_SYSTEMS = ["Bld", "Ser", "Plas", "Urine", "CSF", "Ser/Plas"]
_SCALES = ["Qn", "Ord", "Nom", "Nar"]
_METHODS = ["Automated count", "Manual count", "Test strip", "Calculated"]
_STATUSES = ["ACTIVE", "DEPRECATED", "TRIAL", "DISCOURAGED"]
_STATUS_P = [0.85, 0.08, 0.05, 0.02]

#: parts per hierarchy level (level = number of ancestors); codes hang under
#: parts of levels 2-11, so a code's PATH_TO_ROOT holds 3-12 parts
_LEVEL_SIZES = [10, 40, 160, 480, 640, 640, 640, 640, 560, 480, 400, 310]


def _csv_zip(member: str, header: list[str], rows) -> bytes:
    text = io.StringIO()
    w = csv.writer(text, lineterminator="\n")
    w.writerow(header)
    for r in rows:
        w.writerow(["" if v is None else v for v in r])
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as zf:
        # fixed member timestamp: same seed, same bytes
        info = zipfile.ZipInfo(member, date_time=(2024, 1, 1, 0, 0, 0))
        info.compress_type = zipfile.ZIP_DEFLATED
        zf.writestr(info, text.getvalue().encode())
    return buf.getvalue()


def loinc_release(seed: int, n_codes: int = 100_000) -> dict:
    """LOINC table + multiaxial hierarchy as zip bytes.

    Returns ``{"loinc_zip", "hierarchy_zip", "loinc_rows",
    "hierarchy_rows", "expected_rows"}``.  ``loinc_rows`` counts the codes
    and parts of the LOINC table; every one of them is placed in the
    hierarchy, so the i2b2 transform yields one row per LOINC table row:
    ``expected_rows == loinc_rows``.
    """
    rng = np.random.default_rng(seed)
    n_parts = n_codes // 20
    sizes = np.array(_LEVEL_SIZES, dtype=float)
    sizes = np.maximum(1, np.round(sizes * n_parts / sizes.sum())).astype(int)

    # LP parts, level by level; part numbers are unique random draws
    numbers = rng.choice(np.arange(1_000, 1_000_000), int(sizes.sum()), replace=False)
    parts: list[list[tuple[str, str]]] = []  # per level: (code, path)
    hier_rows: list[tuple] = []
    k = 0
    for level, size in enumerate(sizes):
        row = []
        for _ in range(size):
            code = f"LP{numbers[k]}-{numbers[k] % 10}"
            k += 1
            if level == 0:
                path, parent = "", None
            else:
                parent, ppath = parts[level - 1][int(rng.integers(0, len(parts[level - 1])))]
                path = f"{ppath}.{parent}" if ppath else parent
            row.append((code, path))
            hier_rows.append((path, int(rng.integers(1, 100)), parent, code,
                              f"Part {code[2:]}"))
        parts.append(row)

    # leaf codes: one placement each, a second one for 15% of them
    candidates = [p for level in parts[2:] for p in level]
    codes = np.array([f"{n}-{n % 10}" for n in range(1, n_codes + 1)], dtype=object)

    def column(choices, p_null, p=None):
        vals = np.asarray(choices, dtype=object)[rng.choice(len(choices), n_codes, p=p)]
        vals[rng.random(n_codes) < p_null] = None
        return vals

    comp = column(_COMPONENTS, 0.05)
    prop = column(_PROPERTIES, 0.01)
    time_ = column(_TIMES, 0.01)
    system = column(_SYSTEMS, 0.01)
    scale = column(_SCALES, 0.0)
    method = column(_METHODS, 0.6)
    status = column(_STATUSES, 0.0, p=_STATUS_P)
    text = [f"{c or 'Analyte'} {p or ''} {s or ''} {m or ''} {n}".strip()
            for c, p, s, m, n in zip(comp, prop, system, method, codes)]

    placed = np.repeat(np.arange(n_codes), 1 + (rng.random(n_codes) < 0.15))
    parent_idx = rng.integers(0, len(candidates), len(placed))
    seq = rng.integers(1, 100, len(placed))
    order = rng.permutation(len(placed))
    for i in order:
        parent, ppath = candidates[parent_idx[i]]
        c = placed[i]
        hier_rows.append((f"{ppath}.{parent}" if ppath else parent, int(seq[i]),
                          parent, codes[c], text[c]))

    loinc_rows = list(zip(codes, comp, prop, time_, system, scale, method, status))
    # parts below the top level, as in the reference fixture (top-level
    # parts have an empty PATH_TO_ROOT, which the transform drops)
    loinc_rows.extend(
        (code, None, None, None, None, "Ord", None, "ACTIVE")
        for level in parts[1:]
        for code, _ in level
    )
    order = rng.permutation(len(loinc_rows))
    loinc_rows = [loinc_rows[i] for i in order]

    return {
        "loinc_zip": _csv_zip("Loinc.csv", LOINC_HEADER, loinc_rows),
        "hierarchy_zip": _csv_zip(
            "MultiAxialHierarchy.csv", HIERARCHY_HEADER, hier_rows
        ),
        "loinc_rows": len(loinc_rows),
        "hierarchy_rows": len(hier_rows),
        "expected_rows": len(loinc_rows),
    }


PINNED_NOW = dt.datetime(2026, 1, 1, 12, 0, 0)
