"""Cold LOINC -> i2b2 ETL at the reference's scale.

Set-up generates the release (10^5 codes, see ``datagen.loinc_release``)
three times and reports the median.  Each op is one fresh
``etl_child.py`` process, timed from spawn to exit, the cost every user of
the ``etl_runner`` CLI pays.  A traced run alternates traced and untraced
ops so it can report its own overhead.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from . import datagen, probes, stats

CHILD = os.path.join(os.path.dirname(os.path.abspath(__file__)), "etl_child.py")

#: an op that runs longer is killed and counts as failed
OP_LIMIT_S = 170.0

#: seconds one cold op takes on 4 cores; ``--seconds`` buys
#: round(seconds / this) ops (at least one)
NOMINAL_OP_S = 12.0

#: why every op fails today: run_etl passes no hierarchy_order_col, so a
#: hierarchy CSV read as more than one partition makes _with_order raise
KNOWN_FAILURE = "ValueError: hierarchy_order_col is required for multi-partition input"

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("staging.stage_loinc_inputs_s", "s"),
    ("readers.read_csv_s", "s"),
    ("loinc_i2b2.transform_s", "s"),
    ("writers.write_jdbc_s", "s"),
    ("writers.write_csv_s", "s"),
    ("writers.jdbc_table_exists_s", "s"),
    ("writers.execute_jdbc_ddl_s", "s"),
    ("etl_runner.self_s", "s"),
    ("sink.rows_inserted", "count"),
    ("pyworker.cpu_s", "s"),
    ("jvm.cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.rss_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
]


def _op(inputs: str, work: str, index: int, traced: bool) -> dict:
    op_work = os.path.join(work, f"op{index}")
    os.makedirs(op_work)
    cpu0 = probes.children_cpu_s()
    t0 = time.perf_counter()
    with open(os.path.join(op_work, "stderr.log"), "w") as err:
        proc = subprocess.Popen(
            [sys.executable, CHILD, "--inputs", inputs, "--work", op_work,
             "--trace", str(int(traced))],
            stdout=subprocess.PIPE,
            stderr=err,
            start_new_session=True,
            text=True,
        )
        try:
            out, _ = proc.communicate(timeout=OP_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.communicate()
            out = ""
    latency = time.perf_counter() - t0
    cpu_s = probes.children_cpu_s() - cpu0
    try:
        report = json.loads(out.strip().splitlines()[-1])
    except (IndexError, ValueError):
        report = {"ok": False, "error": f"op exited {proc.returncode} without a report"}
    report["latency"] = latency
    report["cpu_s"] = cpu_s
    report["traced"] = traced
    return report


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    gen_s = []
    for _ in range(3):
        t0 = time.perf_counter()
        release = datagen.loinc_release(seed)
        gen_s.append(time.perf_counter() - t0)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    for key, member in (("loinc_zip", "Loinc.zip"),
                        ("hierarchy_zip", "MultiAxialHierarchy.zip")):
        with open(os.path.join(inputs, member), "wb") as f:
            f.write(release.pop(key))
    with open(os.path.join(inputs, "release.json"), "w") as f:
        json.dump(release, f)

    ops: list[dict] = []
    op_s = {False: 0.0, True: 0.0}
    n_timed = max(1, round(seconds / NOMINAL_OP_S))
    for i in range(2 * n_timed if traced else n_timed):
        op = _op(inputs, work, i, traced and i % 2 == 0)
        op_s[op["traced"]] += op["latency"]
        ops.append(op)

    timed = [op for op in ops if op["traced"] == traced]
    failed = [op for op in timed if not op["ok"]]
    ok_lat = [op["latency"] for op in timed if op["ok"]]
    # one query, run_etl: its best op, or the limit if any op failed
    best = stats.best_per_query(
        [("run_etl", op["latency"], op["ok"]) for op in timed], OP_LIMIT_S
    )
    (cpu,) = stats.best_per_query(
        [("run_etl", op["cpu_s"], op["ok"]) for op in timed],
        OP_LIMIT_S * (os.cpu_count() or 1),
    ).values()
    e2e = {
        "setup_s": stats.median(gen_s),
        "query_cpu_s": cpu,
        "pass_cpu_s": cpu,
        "query_gmean_s": stats.geomean(best.values()),
        "op_p50_s": stats.percentile(ok_lat, len(failed), 0.5, OP_LIMIT_S),
        "ops_per_s": len(ok_lat) / op_s[traced],
        "rows_per_s": len(ok_lat) * release["loinc_rows"] / op_s[traced],
        "failed_frac": len(failed) / len(timed),
        "ops": len(timed),
    }
    if len(timed) >= stats.min_ops_for(0.75):
        e2e["op_p75_s"] = stats.percentile(ok_lat, len(failed), 0.75, OP_LIMIT_S)
    errors: dict[str, int] = {}
    for op in failed:
        errors[op["error"]] = errors.get(op["error"], 0) + 1
    result = {
        "attempted": len(timed),
        "failed": len(failed),
        "correct": not failed,
        "errors": errors,
        "known_failure": bool(failed) and all(
            (op["error"] or "").startswith(KNOWN_FAILURE) for op in failed
        ),
        "release": release,
        "end_to_end": e2e,
    }
    if traced:
        result["per_layer"] = _per_layer(ops)
    return result


def _per_layer(ops: list[dict]) -> dict:
    traced = [op for op in ops if op["traced"]]
    untraced = [op for op in ops if not op["traced"]]

    def span(name):
        return stats.median([op.get("spans", {}).get(name, 0.0) for op in traced])

    def counter(name):
        return stats.median([op.get("counters", {}).get(name, 0.0) for op in traced])

    def p50(group):
        ok = [op["latency"] for op in group if op["ok"]]
        return stats.percentile(ok, len(group) - len(ok), 0.5, OP_LIMIT_S)

    layer = {
        f"{name}_s": span(name)
        for name in (
            "session.get_spark", "staging.stage_loinc_inputs", "readers.read_csv",
            "loinc_i2b2.transform", "writers.write_jdbc", "writers.write_csv",
            "writers.jdbc_table_exists", "writers.execute_jdbc_ddl", "etl_runner.self",
        )
    }
    layer["sink.rows_inserted"] = stats.median([op.get("rows_inserted", 0) for op in traced])
    for name in ("pyworker.cpu_s", "jvm.cpu_s", "jvm.gc_s", "jvm.rss_peak_mb"):
        layer[name] = counter(name)
    layer["trace.overhead_s"] = p50(traced) - p50(untraced)
    return layer
