"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import datagen, mix, probes, stats  # noqa: E402


# -- percentiles ---------------------------------------------------------------


def test_percentile_without_failures_interpolates():
    assert stats.percentile([3.0, 1.0, 2.0], 0, 0.5, 100.0) == 2.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 0, 0.5, 100.0) == 2.5
    assert stats.median([5.0]) == 5.0


def test_failed_ops_rank_above_every_success():
    # 3 successes + 2 failures: the median is the slowest success
    assert stats.percentile([1.0, 9.0, 2.0], 2, 0.5, 100.0) == 9.0
    # ranks that land on failures read as the limit, however fast they failed
    assert stats.percentile([1.0], 3, 0.5, 100.0) == 100.0
    assert stats.percentile([], 4, 0.5, 100.0) == 100.0
    # a success slower than the limit still ranks below the failures
    assert stats.percentile([1.0], 1, 1.0, 100.0) == 100.0


def test_fixing_a_failure_reads_as_a_gain():
    before = stats.percentile([1.0, 1.1], 2, 0.75, 60.0)
    after = stats.percentile([1.0, 1.1, 50.0], 1, 0.75, 60.0)
    assert after < before


def test_min_ops_for_p75_leaves_ten_samples_beyond():
    assert stats.min_ops_for(0.75) == 40
    assert stats.min_ops_for(0.5) == 20


def test_percentile_needs_ops():
    with pytest.raises(ValueError):
        stats.percentile([], 0, 0.5, 1.0)


def test_best_per_query_takes_each_querys_fastest_op():
    ops = [("a", 2.0, True), ("b", 5.0, True), ("a", 1.5, True), ("b", 4.0, True)]
    assert stats.best_per_query(ops, 100.0) == {"a": 1.5, "b": 4.0}


def test_best_per_query_reads_a_query_with_a_failed_op_as_the_limit():
    # however fast the failure or the other repetitions were
    ops = [("a", 1.0, True), ("a", 0.1, False), ("b", 3.0, True)]
    assert stats.best_per_query(ops, 60.0) == {"a": 60.0, "b": 3.0}


def test_geomean_weighs_every_query_the_same():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    # halving the cheap query gains as much as halving the dear one
    assert stats.geomean([1.0, 8.0]) == pytest.approx(stats.geomean([2.0, 4.0]))
    with pytest.raises(ValueError):
        stats.geomean([])


# -- span wrappers -------------------------------------------------------------


class _Target:
    @staticmethod
    def work(x):
        return x * 2


def test_span_wrappers_time_calls_and_restore_originals():
    original = _Target.work
    spans = probes.Spans()
    spans.wrap(_Target, "work", "target.work")
    assert _Target.work is not original
    with spans.span("outer"):
        assert _Target.work(21) == 42
    spans.restore()
    assert _Target.work is original
    assert len(spans.durations("target.work")) == 1
    (outer,) = spans.self_time("outer")
    assert 0.0 <= outer <= spans.durations("outer")[0]
    inner = spans.records[1]
    assert inner["name"] == "target.work" and inner["parent"] == spans.records[0]["id"]


def test_span_wrappers_restore_after_exceptions():
    def boom():
        raise RuntimeError("x")

    holder = type("Holder", (), {"f": staticmethod(boom)})
    spans = probes.Spans()
    spans.wrap(holder, "f", "holder.f")
    with pytest.raises(RuntimeError):
        holder.f()
    spans.restore()
    assert holder.f is boom
    assert len(spans.durations("holder.f")) == 1


# -- generators ----------------------------------------------------------------


def test_loinc_release_is_deterministic_per_seed():
    a = datagen.loinc_release(7, n_codes=2_000)
    b = datagen.loinc_release(7, n_codes=2_000)
    c = datagen.loinc_release(8, n_codes=2_000)
    assert a == b
    assert a["hierarchy_zip"] != c["hierarchy_zip"]
    assert a["expected_rows"] == a["loinc_rows"] > 2_000


def test_loinc_release_shape():
    import csv
    import io
    import zipfile

    rel = datagen.loinc_release(3, n_codes=4_000)
    member = zipfile.ZipFile(io.BytesIO(rel["hierarchy_zip"])).read("MultiAxialHierarchy.csv")
    rows = list(csv.DictReader(io.StringIO(member.decode())))
    leaves = [r for r in rows if not r["CODE"].startswith("LP")]
    depths = {len(r["PATH_TO_ROOT"].split(".")) for r in leaves}
    assert min(depths) == 3 and max(depths) == 12
    placements: dict[str, int] = {}
    for r in leaves:
        placements[r["CODE"]] = placements.get(r["CODE"], 0) + 1
    twice = sum(n == 2 for n in placements.values()) / len(placements)
    assert len(placements) == 4_000 and 0.12 < twice < 0.18


def test_stored_oracle_matches_the_tables_and_queries():
    import json

    from angelo_bravo_etl_task_spark.queries import QUERIES

    with open(mix.ORACLE_FILE) as f:
        stored = json.load(f)
    assert stored["data"] == mix.data_digest(mix.DATA_DIR)
    for name in (n for names in mix.MIXES.values() for n in names):
        assert stored["queries"][name]["sql"] == mix.sql_digest(QUERIES[name][1]), name


def test_normalize_is_order_insensitive():
    cols, rows = mix.normalize(["b", "a"], [(1.5, None), (float("nan"), "x")])
    assert cols == ["a", "b"]
    assert rows == sorted([("NULL", "1.5"), ("x", "NaN")])
    assert mix.normalize(["b", "a"], [(2, 1), (1, 2)]) == mix.normalize(
        ["a", "b"], [(2, 1), (1, 2)]
    )


# -- noop materialization ------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
    )


def test_materialize_counts_rows(spark):
    assert mix.materialize(spark.range(1000).selectExpr("id * 2 AS x")) == 1000


def test_materialize_computes_columns_count_would_prune(spark):
    from pyspark.sql import functions as F

    df = spark.range(10).withColumn(
        "boom", F.when(F.col("id") == 5, F.raise_error("computed")).otherwise(F.lit(1))
    )
    assert df.count() == 10  # count() never evaluates the column
    with pytest.raises(Exception, match="computed"):
        mix.materialize(df)


def test_arrow_rows_normalize_like_collect(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [(1, 0.1, "a", dt.datetime(2024, 1, 1, 12, 0, 1, 5)), (2, None, None, None)],
        "i long, d double, s string, t timestamp",
    )
    collected = [tuple(r) for r in df.collect()]
    assert mix.normalize(*mix.arrow_rows(df)) == mix.normalize(df.columns, collected)


def test_digest_is_stable():
    assert mix.digest([("a", "1")]) == mix.digest([("a", "1")])
    assert mix.digest([("a", "1")]) != mix.digest([("a", "2")])


def test_benchmark_json_lists_the_printed_metrics():
    import json

    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == mix.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(mix.MIXES)
