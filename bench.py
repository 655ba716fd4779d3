#!/usr/bin/env python3
"""Benchmark harness: times every registered query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total_sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is materialized with a count() (forces the full plan, no
driver-side result transfer). A warmup pass on sf0.001 JIT-compiles codegen
paths before timing.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from angelo_bravo_etl_task_spark.queries import QUERIES  # noqa: E402
from angelo_bravo_etl_task_spark.session import get_spark  # noqa: E402


def settle_samples(samples: list[float]) -> tuple[float, bool]:
    """Recorded time + whether it is median-backed, from 1-3 sorted-able
    samples. ADVICE r7: with only 2 samples, samples[len//2] is the MAX
    of two, not a median — that inflated value must not be advertised in
    median_of (bench_delta hard-fails on median-backed regressions).
    Partial remeasures record the MIN (least-noise estimator) and stay
    single-run-advisory."""
    s = sorted(samples)
    if len(s) >= 3:
        return s[len(s) // 2], True
    return s[0], False


def bench_result(
    timings: dict[str, float],
    scale_probe: dict[str, float],
    median_of: dict[str, int],
    env_markers: dict,
    sf: float | None,
) -> dict:
    """The one JSON result line. Summary figures (n_queries,
    sum_all_queries_sec, mean_query_sec) cover the registry sweep in
    ``timings`` only; the scaling-probe re-runs are reported under
    ``scale_probe`` and never counted in them."""
    ok = [t for t in timings.values() if t >= 0]
    total = round(sum(ok), 3)
    flagship = timings.get("px1_loinc_i2b2_pipeline")
    # Headline = the apples-to-apples number. BASELINE.md's only published
    # figure (~25 s) is ONE end-to-end LOINC->i2b2 ETL run at ~10^5 input
    # rows; px1 is exactly that workload (the sf0.1 part-derived fixture is
    # the same row-count order) run through this engine, so value/25 is
    # like-for-like. The whole-registry sum — 100+ unrelated queries
    # including real Structured Streaming runs and write-path demos, a
    # surface the reference doesn't have — is reported alongside as
    # sum_all_queries_sec, with every per-query time in "queries".
    # The label always matches the value: if px1 failed (-1.0 sentinel) or
    # is absent, value is null with an explicit error field — never the
    # registry sum smuggled under the px1 label.
    px1_ok = flagship is not None and flagship >= 0
    return {
        # "queries" first: artifact captures of this line have truncated
        # its FRONT (BENCH_r02), so the headline fields go LAST where a
        # tail-window capture preserves them.
        "queries": timings,
        "scale_probe": scale_probe,
        "median_of": median_of,
        "env": env_markers,
        "sf": sf,
        "n_queries": len(timings),
        "sum_all_queries_sec": total,
        "mean_query_sec": round(total / max(len(ok), 1), 3),
        "metric": (
            "end-to-end LOINC->i2b2 pipeline wall-clock "
            "(the BASELINE.md workload; px1_loinc_i2b2_pipeline)"
        ),
        "value": flagship if px1_ok else None,
        "error": None if px1_ok else "px1_loinc_i2b2_pipeline failed",
        "unit": "sec",
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    warmup_dir = "/root/testdata/sf0.001"
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf = float(base.replace("sf", "")) if base.startswith("sf") else None
    except ValueError:
        sf = None

    # Shuffle sizing follows the DATA, not the core count (SCALE.md): at
    # sf0.1 the whole dataset is ~100 MB, so 32-way shuffles produce sub-MB
    # tasks whose scheduling overhead dominates, and AQE's per-stage
    # replanning barrier adds fixed latency with nothing left to re-plan.
    # Measured on the full 74-query registry at sf0.1 (sum of wall-clock):
    #   AQE on /32 parts: 48.3 s   AQE off/32: 50.2 s
    #   AQE on / 8 parts: 44.2 s   AQE off/ 8: 33.6 s   (off/4: 47.7, off/16: 35.1)
    # Compute-bound stages keep full parallelism regardless — spread()
    # repartitions to defaultParallelism, not shuffle partitions. At sf>=1
    # (cluster-like volume) the engine defaults stand: AQE on, partitions
    # sized ~2-3x cores.
    small = sf is not None and sf < 1.0
    spark = get_spark(
        app_name="bench",
        adaptive=False if small else None,
        shuffle_partitions=8 if small else None,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: run EVERY registered query once at tiny scale so the timed
    # sweep measures steady-state plans, not first-run JIT/codegen
    # compilation (measured: a 3-query warmup leaves ~10 s of C2-compile
    # latency smeared across the timed sweep at sf0.1)
    if os.path.isdir(warmup_dir):
        for name, (fn, _) in QUERIES.items():
            try:
                fn(spark, warmup_dir).count()
            except Exception:
                pass

    def quiesce() -> None:
        """Standard between-measurement hygiene (same idea as JMH): drop
        temp views accumulated by streaming memory sinks, clear any cache a
        query forgot, and take the GC hit OUTSIDE the next query's timer so
        one query's cleanup doesn't bill its neighbor."""
        try:
            for t in spark.catalog.listTables():
                if t.isTemporary:
                    spark.catalog.dropTempView(t.name)
            spark.catalog.clearCache()
            spark.sparkContext._jvm.System.gc()
        except Exception:
            pass

    def run_once(name: str) -> float:
        fn = QUERIES[name][0]
        quiesce()
        start = time.perf_counter()
        fn(spark, sf_dir).count()
        return round(time.perf_counter() - start, 3)

    timings: dict[str, float] = {}
    for name in QUERIES:
        try:
            timings[name] = run_once(name)
            print(f"# {name}: {timings[name]}s", file=sys.stderr, flush=True)
        except Exception as exc:  # record failures without killing the run
            timings[name] = -1.0
            print(f"# bench error {name}: {exc}", file=sys.stderr, flush=True)

    # Variance guard (verdict r6 item 3): a single-run bench cannot tell a
    # real regression from JVM/GC noise — round 6 saw six >1.5× swings with
    # ZERO code change (mb2/d7/d6/tc1/kmv1/hdr1). The headline px1, the 10
    # slowest queries of this run, and the known round-6 outliers get two
    # more samples; their recorded time becomes the MEDIAN of 3, flagged in
    # "median_of" so round-over-round deltas on the expensive tail are
    # meaningful. The registry tail stays single-run (its times are small
    # and sum-dominated by the median-guarded head).
    # Adaptive membership (verdict r7 item 4): any query whose single-run
    # time swung >1.5x round-over-round joins the median set for the next
    # bench. tools/bench_delta.py --write-median-set maintains the file;
    # it is seeded with the r6 outliers and r7's knap1/seq1 swings.
    median_set_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_median_set.json")
    try:
        KNOWN_OUTLIERS = json.load(open(median_set_path))["queries"]
    except (OSError, ValueError, KeyError):
        KNOWN_OUTLIERS = []
    top10 = sorted(
        (n for n, t in timings.items() if t >= 0),
        key=lambda n: timings[n], reverse=True,
    )[:10]
    remeasure = [
        n for n in dict.fromkeys(
            ["px1_loinc_i2b2_pipeline"] + top10 + KNOWN_OUTLIERS
        )
        if timings.get(n, -1.0) >= 0
    ]
    median_of: dict[str, int] = {}
    for name in remeasure:
        samples = [timings[name]]
        # Flagship gets median-of-5 (VERDICT r8 item 6): px1 is the headline
        # number in every round's JSON and was moving +-0.4 s per round on
        # harness noise under median-of-3; two more samples tighten it.
        extra = 4 if name == "px1_loinc_i2b2_pipeline" else 2
        for _ in range(extra):
            try:
                samples.append(run_once(name))
            except Exception as exc:
                print(f"# bench rerun error {name}: {exc}",
                      file=sys.stderr, flush=True)
        t, median_backed = settle_samples(samples)
        timings[name] = t
        if median_backed:
            median_of[name] = len(samples)
        else:
            print(f"# partial remeasure {name}: kept min of {samples} "
                  f"(not median-backed)", file=sys.stderr, flush=True)
        print(f"# median {name}: {timings[name]}s of {sorted(samples)}",
              file=sys.stderr, flush=True)

    # Scaling probe (VERDICT r11 item 6): the main sweep pins 8 shuffle
    # partitions below sf1 (measured justification above), which makes the
    # driver's low-core/high-core comparison structurally blind — shuffle
    # parallelism is identical in both runs. These ADDITIVE entries re-run
    # three shuffle-bound heavies with shuffle_partitions = $SPARK_GRAFT_CPUS
    # so the cross-core ratio can show parallelism. The main methodology is
    # untouched: same timed action, same scale, same confs for every
    # pre-existing entry; probe entries are new names (never replacing or
    # renaming old ones) and are median-of-3 so the cross-run ratio is not
    # single-sample noise. They are recorded apart from the main sweep
    # ("scale_probe"), so the registry sum, mean and count stay comparable
    # round over round.
    _PROBE = ["d6_dup_clusters", "cf1_item_item", "ssj2_shingle_prefix_join"]
    _cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    _prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _cpus_env if _cpus_env.isdigit() else "32",
    )
    scale_probe: dict[str, float] = {}
    for name in _PROBE:
        if name not in QUERIES:
            continue
        probe_key = f"scaleprobe_{name}"
        try:
            samples = [run_once(name) for _ in range(3)]
        except Exception as exc:
            scale_probe[probe_key] = -1.0
            print(f"# bench error {probe_key}: {exc}",
                  file=sys.stderr, flush=True)
            continue
        t, median_backed = settle_samples(samples)
        scale_probe[probe_key] = t
        if median_backed:
            median_of[probe_key] = len(samples)
        print(f"# {probe_key}: {t}s of {sorted(samples)}",
              file=sys.stderr, flush=True)
    spark.conf.set("spark.sql.shuffle.partitions", _prev_parts)

    # Environment markers (verdict r8 item 2, adjudicated in
    # bench_isolation.json: the r7->r8 heavy-tail drift is a MACHINE-era
    # effect, not suite aging — fresh JVMs on an idle machine reproduce
    # the r8 times). Recording load/mem in every bench artifact lets the
    # next round separate "same era" from "machine changed again".
    env_markers: dict = {}
    try:
        env_markers["loadavg_1m"] = round(os.getloadavg()[0], 2)
    except OSError:
        pass
    try:
        for _line in open("/proc/meminfo"):
            if _line.startswith("MemAvailable:"):
                env_markers["mem_available_kb"] = int(_line.split()[1])
                break
    except OSError:
        pass

    result = bench_result(timings, scale_probe, median_of, env_markers, sf)
    line = json.dumps(result, separators=(",", ":"))
    # belt and braces for the per-round artifact: the full JSON also lands
    # on disk next to this script, immune to any stream-capture windowing
    try:
        out_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
        )
        with open(out_path, "w") as f:
            f.write(line + "\n")
    except OSError:
        pass
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
