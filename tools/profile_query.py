"""Solo per-stage profile of one or more registered queries.

Runs each named query in THIS process (bench confs: AQE off, 8 shuffle
partitions), after a sf0.001 warmup, and prints:
  - wall-clock for construction vs execution (.count(), the bench action)
  - the number of generated classes Janino compiled during the run (0
    when every class came from the generated-code cache; a query that
    recompiles on every call shows its cache thrash here)
  - the CPU seconds the JVM's Python worker processes spent on the run
    (pandas UDFs, mapInPandas, Python UDFs; 0 for a query that never
    leaves the JVM)
  - the Spark REST /stages breakdown: per-stage executorRunTime,
    shuffle read/write bytes, task count — the guide section 1/7 loop
    without a browser.

Usage:
    python tools/profile_query.py [--sf /root/testdata/sf0.1] name...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from angelo_bravo_etl_task_spark.plans.audit import compiled_classes  # noqa: E402
from angelo_bravo_etl_task_spark.queries import QUERIES  # noqa: E402
from angelo_bravo_etl_task_spark.session import get_spark  # noqa: E402


def pyworker_cpu_s(jvm_pid: int) -> float:
    """utime + stime, read from /proc, of every live ``python*`` descendant
    of the JVM (the worker daemon and its forked workers), with the time of
    the children each has reaped, so a finished worker's CPU is not lost."""
    clk_tck = os.sysconf("SC_CLK_TCK")
    children: dict[int, list[int]] = {}
    stats: dict[int, tuple[str, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # comm may hold spaces; after it: state, ppid, ..., utime stime
        # cutime cstime (proc(5) fields 14-17)
        rest = raw[raw.rindex(")") + 2 :].split()
        children.setdefault(int(rest[1]), []).append(int(entry))
        stats[int(entry)] = (raw[raw.index("(") + 1 : raw.rindex(")")],
                             sum(int(v) for v in rest[11:15]))
    ticks, todo = 0, list(children.get(jvm_pid, []))
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        comm, cpu = stats[pid]
        if comm.startswith("python"):
            ticks += cpu
    return ticks / clk_tck


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--no-warmup", action="store_true")
    ap.add_argument("names", nargs="+")
    args = ap.parse_args()

    spark = get_spark(app_name="profile", adaptive=False, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    jvm_pid = spark.sparkContext._gateway.proc.pid
    app_id = spark.sparkContext.applicationId

    def stages():
        url = f"{ui}/api/v1/applications/{app_id}/stages?status=complete"
        with urllib.request.urlopen(url) as r:
            return json.load(r)

    for name in args.names:
        fn = QUERIES[name][0]
        if not args.no_warmup:
            try:
                fn(spark, "/root/testdata/sf0.001").count()
            except Exception as exc:  # noqa: BLE001
                print(f"warmup failed {name}: {exc}")
        before_ids = {s["stageId"] for s in stages()}
        spark.sparkContext.setJobDescription(f"profile:{name}")
        compiled0 = compiled_classes(spark)
        pyworker0 = pyworker_cpu_s(jvm_pid)
        t0 = time.perf_counter()
        df = fn(spark, args.sf)
        t1 = time.perf_counter()
        n = df.count()
        t2 = time.perf_counter()
        compiled = compiled_classes(spark) - compiled0
        pyworker = pyworker_cpu_s(jvm_pid) - pyworker0
        spark.sparkContext.setJobDescription(None)
        print(f"\n== {name}: construct {t1 - t0:.3f}s, execute "
              f"{t2 - t1:.3f}s, rows={n}, compiled {compiled} classes, "
              f"python workers {pyworker:.2f} CPU-s")
        new = [s for s in stages() if s["stageId"] not in before_ids]
        new.sort(key=lambda s: -s.get("executorRunTime", 0))
        tot_run = sum(s.get("executorRunTime", 0) for s in new)
        print(f"   {len(new)} stages, executorRunTime total {tot_run} ms")
        for s in new[:12]:
            print(
                f"   stage {s['stageId']:>4} run={s['executorRunTime']:>7}ms "
                f"tasks={s['numCompleteTasks']:>3} "
                f"in={s.get('inputBytes', 0):>10} "
                f"sr={s.get('shuffleReadBytes', 0):>9} "
                f"sw={s.get('shuffleWriteBytes', 0):>9} "
                f"| {s.get('name', '')[:70]}"
            )
    spark.stop()


if __name__ == "__main__":
    main()
