#!/usr/bin/env python3
"""One cold ``loinc_etl`` op: a fresh process that calls ``get_spark()`` and
``run_etl(...)`` on a generated LOINC release, loading into a fresh
in-memory Derby database, then checks the sink and the CSV export.

    python3 perfbench/etl_child.py --inputs DIR --work DIR --trace {0,1}

``--inputs`` holds ``Loinc.zip``, ``MultiAxialHierarchy.zip`` and
``release.json`` (written by ``etl.py``).  The last stdout line is a JSON
report: ``ok``, ``error``, ``rows_inserted``, counters, and with
``--trace 1`` the span durations of the calls ``run_etl`` makes.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import launch, probes  # noqa: E402
from perfbench.datagen import PINNED_NOW  # noqa: E402

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

#: names etl_runner imports, wrapped in traced ops: (attribute, span name)
WRAPPED = [
    ("stage_loinc_inputs", "staging.stage_loinc_inputs"),
    ("read_csv", "readers.read_csv"),
    ("jdbc_table_exists", "writers.jdbc_table_exists"),
    ("read_jdbc_min", "writers.read_jdbc_min"),
    ("execute_jdbc_ddl", "writers.execute_jdbc_ddl"),
    ("transform_loinc_to_i2b2", "loinc_i2b2.transform"),
    ("write_jdbc", "writers.write_jdbc"),
    ("write_csv", "writers.write_csv"),
]


def _csv_lines(csv_path: str) -> int:
    parts = glob.glob(os.path.join(csv_path, "part-*.csv"))
    lines = 0
    for p in parts:
        with open(p) as f:
            lines += sum(1 for line in f if line.strip())
    return lines


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--inputs", required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    launch.prepare_env(args.work)
    from angelo_bravo_etl_task_spark.pipelines import etl_runner
    from angelo_bravo_etl_task_spark.session import get_spark
    from angelo_bravo_etl_task_spark.sources import staging

    with open(os.path.join(args.inputs, "release.json")) as f:
        release = json.load(f)
    payloads = {}
    for url, member in (
        (staging.LOINC_TABLE_URL, "Loinc.zip"),
        (staging.LOINC_HIERARCHY_URL, "MultiAxialHierarchy.zip"),
    ):
        with open(os.path.join(args.inputs, member), "rb") as f:
            payloads[url] = f.read()

    spans = probes.Spans()
    if args.trace:
        for attr, name in WRAPPED:
            spans.wrap(etl_runner, attr, name)

    report = {"ok": False, "error": None, "rows_inserted": 0}
    with spans.span("session.get_spark"):
        spark = get_spark()
    try:
        with spans.span("etl_runner.run_etl"):
            summary = etl_runner.run_etl(
                spark,
                lambda url, data: payloads[url],
                os.path.join(args.work, "staging"),
                "jdbc:derby:memory:perfbench;create=true",
                os.path.join(args.work, "out"),
                now=PINNED_NOW,
                text_type="CLOB",
                nullable_string_type="CLOB",
                jdbc_options={"driver": DERBY},
            )
        report["rows_inserted"] = summary["rows_inserted"]
        lines = _csv_lines(summary["csv_path"])
        if summary["rows_inserted"] != release["expected_rows"]:
            report["error"] = (
                f"rows_inserted {summary['rows_inserted']} != expected "
                f"{release['expected_rows']}"
            )
        elif lines != summary["rows_inserted"] + 1:
            report["error"] = f"CSV export has {lines} lines, want rows_inserted + 1"
        else:
            report["ok"] = True
    except Exception as e:  # noqa: BLE001 - a failing ETL is a failed op
        report["error"] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    finally:
        spans.restore()
        jvm = probes.jvm_pid(spark)
        report["counters"] = {
            "jvm.cpu_s": probes.proc_cpu_s(jvm),
            "jvm.gc_s": probes.jvm_gc_s(spark),
            "pyworker.cpu_s": probes.pyworker_cpu_s(jvm),
            "jvm.rss_peak_mb": probes.rss_peak_mb(jvm),
        }
        launch.stop_spark(spark)

    if args.trace:
        report["spans"] = {}
        for r in spans.records:
            d = report["spans"]
            d[r["name"]] = d.get(r["name"], 0.0) + r["end"] - r["start"]
        report["spans"]["etl_runner.self"] = sum(spans.self_time("etl_runner.run_etl"))
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
