"""Warm query mixes: one client, one SparkSession, registry queries in
closed loop.

One op is one registry call, ``QUERIES[name][0](spark, data_dir)`` (the
build), followed by one noop-sink write (the materialization).  A pass runs
every query of the mix once, in an order shuffled by the run seed; the
timed phase runs whole passes, so every query weighs the same in every run.
Every op checks its row count against the DuckDB oracle.

Set-up is the JVM and session start plus one warm-up pass, which also
compares every query's full result with the oracle.

The end-to-end figures are built from each query's best timed op
(``stats.best_per_query``), in CPU seconds (``probes.SparkCpu``): the
JVM's threads but its JIT compilers (tasks, planner, scheduler, GC), its
Python workers' and the client's, the compute a query costs as BigQuery
bills slot-seconds.  ``query_cpu_s`` is their geometric mean,
``pass_cpu_s`` their sum.  A failed op reads as ``CPU_LIMIT_S`` for its
query.  Wall time on this kind of shared host follows the neighbours'
load: CPU steal of 5-10% slowed whole runs by 20-35%, and ten runs' wall
figures spread by 15-40% of their median, while CPU time leaves stolen
time out.  The wall figures stay in the report line: ``query_gmean_s``
and ``ops_per_s`` from each query's fastest op, the pooled median
``op_p50_s`` and the wall-clock rate ``ops_per_s_wall``.  The best op is
taken because the JVM is still compiling hot code through the whole run
(its JIT threads use 3-6 CPU seconds per LLM pass in the third pass), so
a pass runs about 20% faster in its third repetition than in its first.

The tables are a copy of the engine's deterministic sf0.01 test data
(``testdata/``: 60k lineitem, 500 documents, 500 embeddings), the data
every oracle test of the registry runs on.  Sizes follow the run budget of
the benchmark (a run of each workload in about a minute on 4 cores): a
cold JVM needs 20-35 s of warm-up before its ops run at a steady speed,
so the LLM mix leaves out the queries that repeat another's operators at
the highest cost (d3, whose MinHash-LSH candidates and Jaccard confirm
d7 runs in full, d8 and d11 beside d7, x2 and x4 beside x1 and x6, tx5
beside tx10, mm4 beside mm2).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from . import launch, probes, stats

SQL_MIX = [
    "px1_loinc_i2b2_pipeline", "q1_pricing_summary", "q3_shipping_priority",
    "q5_local_supplier", "q9_product_profit", "q18_large_orders",
    "q21_waiting_supplier", "r1_left_join", "r2_last_wins_dedup",
    "w1_topk_per_group", "w14_ntile_deciles", "j4_full_outer", "g2_cube",
]
LLM_MIX = [
    "d7_lsh_dedup_e2e", "x1_cosine_topk",
    "x6_nearest_centroid", "tx10_tfidf_keywords", "bm25_1_ranked_retrieval",
    "mm2_decode_meta", "px5_retrieval_pipeline", "px6_rag_pipeline",
]
MIXES = {"sql_mix": SQL_MIX, "llm_mix": LLM_MIX}

#: seconds one timed pass takes on 4 cores; ``--seconds`` buys
#: round(seconds / this) passes (at least one), the same on every machine
NOMINAL_PASS_S = {"sql_mix": 7.0, "llm_mix": 6.5}

PER_LAYER = [
    ("session.get_spark_s", "s"),
    ("queries.build_s", "s"),
    ("queries.exec_s", "s"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("python.cpu_s", "s"),
    ("jvm.cpu_s", "s"),
    ("jvm.gc_s", "s"),
    ("jvm.rss_peak_mb", "MB"),
    ("trace.overhead_s", "s"),
]

#: an op slower than this counts as failed
OP_LIMIT_S = 120.0
#: the CPU a failed op reads as: all the machine's CPUs for OP_LIMIT_S
CPU_LIMIT_S = OP_LIMIT_S * (os.cpu_count() or 1)


# -- output checks -------------------------------------------------------------
# Same normalization as tests/test_oracle_parity.py: floats via repr, time
# values via isoformat, columns sorted by name, rows sorted.


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if hasattr(v, "isoformat"):
        # Arrow hands session-zone (UTC) timestamps back zone-aware
        if getattr(v, "tzinfo", None) is not None:
            v = v.replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, bool):
        return str(v).lower()
    return str(v)


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return sorted(cols), out


_HERE = os.path.dirname(os.path.abspath(__file__))
#: the mixes' tables, fixed, so the DuckDB oracle (seconds for the LSH
#: queries) is computed once, by make_oracle.py
DATA_DIR = os.path.join(_HERE, "testdata")
ORACLE_FILE = os.path.join(_HERE, "oracle.json")


def digest(rows: list[tuple]) -> str:
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


def data_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for f in sorted(os.listdir(data_dir)):
        h.update(f.encode())
        with open(os.path.join(data_dir, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sql_digest(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()


def duckdb_oracle(data_dir: str, names: list[str]) -> dict[str, dict]:
    """Run each query's oracle SQL on DuckDB: {name: {sql, cols, rows, digest}}."""
    import duckdb

    from angelo_bravo_etl_task_spark.queries import QUERIES

    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(data_dir, f)
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{path}'")
    out = {}
    for name in names:
        sql = QUERIES[name][1]
        res = con.execute(sql)
        cols, rows = normalize([d[0] for d in res.description], res.fetchall())
        out[name] = {"sql": sql_digest(sql), "cols": cols, "rows": len(rows),
                     "digest": digest(rows)}
    con.close()
    return out


def oracle_results(data_dir: str, names: list[str]) -> tuple[dict[str, dict], list[str]]:
    """Oracle per query: the stored one where the data and the query's
    oracle SQL are those it was computed from, else a live DuckDB run.
    Returns the oracle and the names computed live."""
    from angelo_bravo_etl_task_spark.queries import QUERIES

    try:
        with open(ORACLE_FILE) as f:
            stored = json.load(f)
    except OSError:
        stored = {}
    usable = stored.get("data") == data_digest(data_dir)
    out, live = {}, []
    for name in names:
        entry = stored.get("queries", {}).get(name)
        if usable and entry and entry["sql"] == sql_digest(QUERIES[name][1]):
            out[name] = entry
        else:
            live.append(name)
    out.update(duckdb_oracle(data_dir, live))
    return out, live


def arrow_rows(df) -> tuple[list[str], list[tuple]]:
    """Collect a DataFrame through Arrow (far faster than ``collect()`` on
    large results) as Python values that normalize like collected rows."""
    table = df.toArrow()
    return table.column_names, list(zip(*(c.to_pylist() for c in table.columns)))


def materialize(df) -> int:
    """Run the whole plan into the noop sink; returns the row count.

    ``count()`` would let Catalyst prune every computed column the count
    does not need; the noop sink consumes all of them.  The count comes
    from an observed metric on the written plan.
    """
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation("perfbench_rows")
    df.observe(obs, F.count(F.lit(1)).alias("rows")).write.format("noop").mode(
        "overwrite"
    ).save()
    return obs.get["rows"]


# -- the workload -------------------------------------------------------------


class _Op:
    __slots__ = ("name", "ok", "build_s", "exec_s", "error", "counters", "steal_s", "cpu")

    def __init__(self, name):
        self.name, self.ok, self.error, self.counters = name, False, None, None
        self.build_s = self.exec_s = self.steal_s = 0.0
        self.cpu = (0.0, 0.0, 0.0)

    @property
    def cpu_s(self) -> float:
        return sum(self.cpu)

    @property
    def latency(self) -> float:
        return self.build_s + self.exec_s


def _run_op(spark, fn, name: str, data_dir: str, expected_rows: int, cpu: probes.SparkCpu) -> _Op:
    op = _Op(name)
    cpu.start()
    cpu0 = probes.cpu_times()
    try:
        t0 = time.perf_counter()
        df = fn(spark, data_dir)
        t1 = time.perf_counter()
        rows = materialize(df)
        t2 = time.perf_counter()
        op.build_s, op.exec_s = t1 - t0, t2 - t1
        if rows != expected_rows:
            op.error = f"row count {rows} != oracle {expected_rows}"
        elif op.latency > OP_LIMIT_S:
            op.error = f"over the {OP_LIMIT_S:.0f} s limit"
        else:
            op.ok = True
    except Exception as e:  # noqa: BLE001 - a failing query is a failed op
        op.error = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
    op.steal_s = probes.steal_s(cpu0, probes.cpu_times())
    op.cpu = cpu.stop()
    return op


def _traced_op(spark, spans, fn, name, data_dir, expected_rows, index) -> _Op:
    sc = spark.sparkContext
    jvm = probes.jvm_pid(spark)
    group = f"perfbench-op-{index}"

    def sample():
        return (probes.proc_cpu_s(jvm), probes.jvm_gc_s(spark),
                probes.pyworker_cpu_s(jvm), time.process_time())

    before = sample()
    sc.setJobGroup(group, name)
    with spans.span("op", query=name):
        op = _run_op(spark, fn, name, data_dir, expected_rows, probes.SparkCpu(jvm))
    sc.setLocalProperty("spark.jobGroup.id", None)
    after = sample()
    jobs, stages, tasks = probes.job_counts(spark, group)
    pyworker = after[2] - before[2]
    op.counters = {
        "jvm.cpu_s": after[0] - before[0],
        "jvm.gc_s": after[1] - before[1],
        "pyworker.cpu_s": pyworker,
        # the client process (plan building, eager driver-side work) plus
        # the JVM's Python workers (pandas-UDF/Arrow boundary)
        "python.cpu_s": pyworker + after[3] - before[3],
        "spark.jobs": jobs,
        "spark.stages": stages,
        "spark.tasks": tasks,
    }
    return op


def run(workload: str, seed: int, seconds: float, traced: bool, work: str) -> dict:
    names = MIXES[workload]
    rng = random.Random(seed)
    phases = {}
    data_dir = DATA_DIR
    launch.prepare_env(work)
    import angelo_bravo_etl_task_spark.pipelines.loinc_i2b2 as loinc_i2b2
    from angelo_bravo_etl_task_spark.queries import QUERIES
    from angelo_bravo_etl_task_spark.session import get_spark

    t_phase = time.perf_counter()
    oracle, live = oracle_results(data_dir, names)
    phases["oracle_s"] = time.perf_counter() - t_phase

    # -- set-up: JVM + session, then one warm-up pass that also runs the
    # full value compare against the oracle (compare time not counted)
    t_setup = time.perf_counter()
    spark = get_spark()
    get_spark_s = time.perf_counter() - t_setup
    setup_s = get_spark_s
    mismatches, warmup = {}, {}
    try:
        for name in rng.sample(names, len(names)):
            t0 = time.perf_counter()
            try:
                cols, rows = arrow_rows(QUERIES[name][0](spark, data_dir))
            except Exception as e:  # noqa: BLE001 - a failing query is a failed check
                mismatches[name] = f"{type(e).__name__}: {str(e).splitlines()[0][:300]}"
                continue
            finally:
                warmup[name] = time.perf_counter() - t0
                setup_s += warmup[name]
            cols, rows = normalize(cols, rows)
            want = oracle[name]
            if (cols, len(rows), digest(rows)) != (want["cols"], want["rows"], want["digest"]):
                mismatches[name] = (
                    f"values differ from the oracle ({len(rows)} rows, oracle {want['rows']})"
                )
        phases["warmup_s"] = time.perf_counter() - t_setup - get_spark_s

        # -- timed phase: whole passes, as many as fill ``seconds`` at the
        # nominal pass length.  A traced run runs every op twice, traced and
        # untraced, in alternating order, so it can report its overhead; it
        # runs one pass fewer to take about as long as an untraced run.
        spans = probes.Spans()
        cpu = probes.SparkCpu(probes.jvm_pid(spark))
        ops: list[tuple[bool, _Op]] = []
        op_wall = {False: 0.0, True: 0.0}
        pass_s = []
        n_timed = max(1, round(seconds / NOMINAL_PASS_S[workload]) - traced)
        t_timed = time.perf_counter()
        for _ in range(n_timed):
            t_pass = time.perf_counter()
            for i, name in enumerate(rng.sample(names, len(names))):
                fn, expected = QUERIES[name][0], oracle[name]["rows"]
                for traced_op in ((True, False) if i % 2 else (False, True)) if traced else (False,):
                    t0 = time.perf_counter()
                    if traced_op:
                        spans.wrap(loinc_i2b2, "transform_loinc_to_i2b2", "loinc_i2b2.transform")
                        op = _traced_op(spark, spans, fn, name, data_dir, expected, len(ops))
                        spans.restore()
                    else:
                        op = _run_op(spark, fn, name, data_dir, expected, cpu)
                    op_wall[traced_op] += time.perf_counter() - t0
                    ops.append((traced_op, op))
            pass_s.append(time.perf_counter() - t_pass)
        phases["timed_s"] = time.perf_counter() - t_timed
        rss_mb = probes.rss_peak_mb(probes.jvm_pid(spark))
    finally:
        t_phase = time.perf_counter()
        launch.stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t_phase

    timed = [op for tr, op in ops if tr == traced]
    failed = [op for op in timed if not op.ok]
    result = {
        "attempted": len(timed),
        "failed": len(failed),
        "correct": not failed and not mismatches,
        "errors": {op.name: op.error for op in failed} | mismatches,
        "passes": n_timed,
        "pass_s": pass_s,
        "phases": phases,
        "warmup_op_s": warmup,
        # per op: query, latency, wall seconds the hypervisor gave to other
        # guests while it ran (mean over the machine's CPUs)
        "op_s": [(op.name, op.latency, op.steal_s) for op in timed],
        # per op: query, CPU seconds of the JVM, its Python workers, the client
        "op_cpu_s": [(op.name, *op.cpu) for op in timed],
        "oracle_live": live,
        "end_to_end": _end_to_end(timed, setup_s, op_wall[traced]),
    }
    if traced:
        result["per_layer"], result["report"] = _per_layer(
            ops, spans, get_spark_s, rss_mb
        )
        spans_dir = os.path.join(os.path.dirname(work), "spans")
        os.makedirs(spans_dir, exist_ok=True)
        spans.write(os.path.join(spans_dir, f"{workload}-seed{seed}.jsonl"))
    return result


def _p(ops: list[_Op], q: float) -> float:
    return stats.percentile(
        [o.latency for o in ops if o.ok], sum(not o.ok for o in ops), q, OP_LIMIT_S
    )


def _end_to_end(ops: list[_Op], setup_s: float, elapsed: float) -> dict:
    cpu = stats.best_per_query([(o.name, o.cpu_s, o.ok) for o in ops], CPU_LIMIT_S)
    best = stats.best_per_query([(o.name, o.latency, o.ok) for o in ops], OP_LIMIT_S)
    out = {
        "setup_s": setup_s,
        "query_cpu_s": stats.geomean(cpu.values()),
        "pass_cpu_s": sum(cpu.values()),
        "query_gmean_s": stats.geomean(best.values()),
        "ops_per_s": sum(v < OP_LIMIT_S for v in best.values()) / sum(best.values()),
        "op_p50_s": _p(ops, 0.5),
        "ops_per_s_wall": sum(o.ok for o in ops) / elapsed,
        "failed_frac": sum(not o.ok for o in ops) / len(ops),
        "ops": len(ops),
    }
    if len(ops) >= stats.min_ops_for(0.75):
        out["op_p75_s"] = _p(ops, 0.75)
    return out


def _mean(values) -> float:
    values = list(values)
    return sum(values) / len(values) if values else 0.0


def _per_layer(ops, spans: probes.Spans, get_spark_s: float, rss_mb: float):
    traced = [op for tr, op in ops if tr]
    untraced = [op for tr, op in ops if not tr]
    ok = [op for op in traced if op.ok]
    layer = {
        "session.get_spark_s": get_spark_s,
        "queries.build_s": stats.median([o.build_s for o in ok]),
        "queries.exec_s": stats.median([o.exec_s for o in ok]),
        "jvm.rss_peak_mb": rss_mb,
        "trace.overhead_s": _p(traced, 0.5) - _p(untraced, 0.5),
    }
    for key in ("spark.jobs", "spark.stages", "spark.tasks", "python.cpu_s",
                "jvm.cpu_s", "jvm.gc_s"):
        layer[key] = _mean(o.counters[key] for o in traced)
    # layers that only some queries reach: reported where they run
    report = {"pyworker.cpu_s": _mean(o.counters["pyworker.cpu_s"] for o in traced)}
    transform = spans.durations("loinc_i2b2.transform")
    if transform:
        report["loinc_i2b2.transform_s"] = stats.median(transform)
    for name in sorted({o.name for o in traced}):
        mine = [o for o in traced if o.name == name]
        report[f"q.{name}.p50_s"] = _p(mine, 0.5)
        report[f"q.{name}.pyworker.cpu_s"] = _mean(o.counters["pyworker.cpu_s"] for o in mine)
    return layer, report
