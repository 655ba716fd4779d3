"""Cluster-shaped conf invariance — the scale knob actually exercised.

SCALE.md documents that the only knobs a 1000-executor deployment retunes
are shuffle/partition sizing (``spark.sql.shuffle.partitions`` from
cores-on-one-box to 2-3x total cluster cores) and that NOTHING in the
engine may depend on the partition count for correctness. Until round 11
that was a documented claim with no executable check (VERDICT r10 item 5).
This suite runs the flagship (px1) and the three heaviest composed
pipelines (px6 RAG, px7 incremental-corpus dedup, px8 clean->pack) under
the harness default partitioning AND under a cluster-shaped
``spark.sql.shuffle.partitions=256``, asserting:

- **result invariance**: identical canonical output (driver-style
  sorted-columns/sorted-rows string compare — the same canonicalization
  ``tools/driver_repro.py`` replicates from the driver), and
- **plan-strategy invariance**: the join strategies Catalyst picks do not
  degrade when the partition conf changes — the BroadcastHashJoin count is
  unchanged (a broadcast that silently became a shuffle join at a
  different parallelism would be a 100 TB regression), and no
  BroadcastNestedLoopJoin / CartesianProduct appears under either conf
  beyond what the registry-wide sweep already allowlists.

``spark.sql.shuffle.partitions`` is a runtime SQL conf, so the checks run
inside the shared session (set + restore); no second JVM is needed —
which is exactly why this knob is safe to retune per-deployment.

The generated-code cache (``spark.sql.codegen.cache.maxEntries``, a
static conf sized by ``session.get_spark``) is checked the same way: a
query re-run after enough other queries to overflow Spark's 100-entry
default must reuse its compiled classes, not recompile them.
"""

from __future__ import annotations

import re
from contextlib import contextmanager

import pandas as pd
import pytest

from angelo_bravo_etl_task_spark.plans.audit import compiled_classes, physical_plan
from angelo_bravo_etl_task_spark.queries import QUERIES

PIPELINES = [
    "px1_loinc_i2b2_pipeline",
    "px6_rag_pipeline",
    "px7_incremental_corpus",
    "px8_clean_pack_pipeline",
]

CLUSTER_SHUFFLE_PARTITIONS = 256

#: compile well over 100 generated classes between them, so Spark's
#: default 100-entry codegen cache evicts whatever ran before them
CODEGEN_FILLERS = ["px1_loinc_i2b2_pipeline", "w14_ntile_deciles"]


def _canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Driver-style canonicalization (tools/driver_repro.py::_canon)."""
    pdf = pdf[sorted(pdf.columns)]
    if len(pdf) and len(pdf.columns):
        pdf = pdf.sort_values(by=list(pdf.columns), kind="mergesort")
    return pdf.reset_index(drop=True)


def _strategy_counts(plan: str) -> dict[str, int]:
    return {
        node: len(re.findall(node, plan))
        for node in (
            "BroadcastHashJoin",
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
        )
    }


@contextmanager
def _runtime_conf(spark, key: str, value: str):
    prev = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, prev)


@pytest.mark.parametrize("name", PIPELINES)
def test_pipeline_invariant_under_cluster_shuffle_partitions(
    spark, sf_dir, name
):
    fn = QUERIES[name][0]

    base_df = fn(spark, sf_dir)
    base_plan = physical_plan(base_df)
    base = _canon(base_df.toPandas())

    with _runtime_conf(
        spark, "spark.sql.shuffle.partitions", str(CLUSTER_SHUFFLE_PARTITIONS)
    ):
        scaled_df = fn(spark, sf_dir)
        scaled_plan = physical_plan(scaled_df)
        scaled = _canon(scaled_df.toPandas())

    # Result invariance: same rows, same columns, same string values.
    assert list(base.columns) == list(scaled.columns)
    assert len(base) == len(scaled), (
        f"{name}: {len(base)} rows at default vs {len(scaled)} at "
        f"{CLUSTER_SHUFFLE_PARTITIONS} shuffle partitions"
    )
    for c in base.columns:
        bv = base[c].astype(str).tolist()
        sv = scaled[c].astype(str).tolist()
        diffs = [(i, a, b) for i, (a, b) in enumerate(zip(bv, sv)) if a != b]
        assert not diffs, f"{name}[{c}]: {len(diffs)} diffs, first={diffs[:3]}"

    # Plan-strategy invariance: broadcasts stay broadcasts, and the
    # partition conf must not introduce a nested-loop that was not there
    # at the default conf. (Whether a BNLJ is acceptable AT ALL is the
    # registry-wide sweep's allowlisted concern — px6's two bounded
    # centroid/query-vector broadcasts are sanctioned there; this test
    # only polices that the count is conf-invariant.)
    b_counts = _strategy_counts(base_plan)
    s_counts = _strategy_counts(scaled_plan)
    assert b_counts == s_counts, (
        f"{name}: join strategies changed with shuffle partitions: "
        f"default={b_counts} cluster={s_counts}"
    )


def _run(spark, sf_dir, name: str) -> int:
    """Run a registered query into the noop sink; returns the number of
    generated classes compiled meanwhile."""
    before = compiled_classes(spark)
    QUERIES[name][0](spark, sf_dir).write.format("noop").mode("overwrite").save()
    return compiled_classes(spark) - before


def test_codegen_cache_holds_the_working_set(spark, sf_dir):
    # AQE numbers codegen stages in completion order, so the generated
    # source (the cache key) can differ between runs of one plan; without
    # AQE a re-run generates identical source and must hit the cache.
    with _runtime_conf(spark, "spark.sql.adaptive.enabled", "false"):
        _run(spark, sf_dir, "g2_cube")
        fillers = {name: _run(spark, sf_dir, name) for name in CODEGEN_FILLERS}
        recompiled = _run(spark, sf_dir, "g2_cube")
    assert recompiled == 0, (
        f"g2_cube recompiled {recompiled} classes after {fillers}: the "
        "codegen cache is smaller than the working set"
    )
