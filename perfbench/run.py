#!/usr/bin/env python3
"""Benchmark for the spark-graft engine.

    python3 perfbench/run.py --workload {sql_mix,llm_mix,loinc_etl} \\
        --seed N --seconds S --trace {0,1}

Workloads (one client process each, Spark on local[nproc], ``get_spark()``
defaults):

- ``sql_mix``: 13 relational registry queries run warm (scans, joins,
  aggregates, windows; no Python workers).
- ``llm_mix``: 8 LLM-pipeline registry queries run warm (pandas-UDF/Arrow
  boundary, eager driver-side work).
- ``loinc_etl``: the reference LOINC -> i2b2 ETL at 10^5 codes; every op is
  a fresh process that calls ``get_spark()`` and ``run_etl(...)`` against an
  in-memory Derby sink.  Not listed in BENCHMARK.json: every op fails today
  (``etl.KNOWN_FAILURE``), so its metrics would read as failures only.

``--seed`` orders the mixes' ops and draws the LOINC release.  Every op's
output is checked (row counts against a DuckDB oracle for the mixes, plus
one full value compare per run; inserted rows and the CSV export for the
ETL).  With ``--trace 0`` the last stdout line holds the end-to-end
metrics (``setup_s``; ``query_cpu_s`` and ``pass_cpu_s`` from each
query's best timed op, see ``mix``), with ``--trace 1`` the per-layer
ones; the line before it is a report with the run's environment (nproc,
loadavg, MemAvailable at start and end, the share of CPU time stolen by
other guests) and every other number measured: the wall-time figures
``query_gmean_s``, ``ops_per_s``, ``op_p50_s`` over all timed ops and
``ops_per_s_wall``, ``failed_frac``, ``rows_per_s`` (loinc_etl),
``op_p75_s`` (runs of 40 ops or more), per-op latency, CPU steal and CPU
seconds (JVM, Python workers, client), per-query figures.
Scratch files live under ``.perfbench_work/`` in the current directory and
are removed at exit; traced mix runs leave their spans in
``.perfbench_work/spans/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import probes  # noqa: E402

#: (name, unit) printed with --trace 0; each workload module lists its
#: PER_LAYER metrics, printed with --trace 1.  BENCHMARK.json lists the
#: end-to-end metrics and the mixes' per-layer metrics.
END_TO_END = [
    ("setup_s", "s"),
    ("query_cpu_s", "s"),
    ("pass_cpu_s", "s"),
]
#: units of every end-to-end number the report line carries
UNITS = {
    "setup_s": "s", "query_cpu_s": "s", "pass_cpu_s": "s", "query_gmean_s": "s",
    "op_p50_s": "s", "op_p75_s": "s", "ops_per_s": "1/s", "ops_per_s_wall": "1/s",
    "rows_per_s": "1/s", "failed_frac": "ratio", "ops": "count",
}
WORKLOADS = ("sql_mix", "llm_mix", "loinc_etl")


def _env() -> dict:
    return {
        "nproc": os.cpu_count(),
        "loadavg": probes.loadavg(),
        "mem_available_mb": probes.mem_available_mb(),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    # fail before any work if the program is missing
    import angelo_bravo_etl_task_spark.session  # noqa: F401

    env_start = _env()
    cpu_start = probes.cpu_times()
    work = os.path.abspath(
        os.path.join(".perfbench_work", f"{args.workload}-{os.getpid()}")
    )
    os.makedirs(work)
    try:
        if args.workload == "loinc_etl":
            from perfbench import etl as workload
        else:
            from perfbench import mix as workload
        res = workload.run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    e2e = res["end_to_end"]
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env_start": env_start,
        "env_end": _env(),
        "cpu_steal_frac": probes.steal_frac(cpu_start, probes.cpu_times()),
        **{k: v for k, v in res.items() if k != "end_to_end"},
        "end_to_end": {k: {"value": v, "unit": UNITS[k]} for k, v in e2e.items()},
    }
    print(json.dumps(report, default=str))
    table = workload.PER_LAYER if args.trace else END_TO_END
    values = res["per_layer"] if args.trace else e2e
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    name: {"value": values[name], "unit": unit} for name, unit in table
                },
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
