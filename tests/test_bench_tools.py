"""Bench harness bookkeeping (no Spark session needed).

ADVICE r7 (bench.py): when a re-measure sample errors, the old
`samples[len//2]` picked the LARGER of two values — not a median — and
`median_of` still advertised the row as trustworthy, so
tools/bench_delta.py would hard-fail (exit 1) on an inflated
max-of-two. `settle_samples` now records a true median only for 3
samples; partial remeasures fall back to the min and stay
single-run-advisory.

VERDICT r7 item 4: the median-of-3 membership is adaptive —
`bench_delta --write-median-set` adds any single-run query that swung
>1.5x round-over-round to bench_median_set.json, which bench.py reads
instead of a hand-pinned outlier list.

ADVICE r12: the scaling-probe re-runs (`scaleprobe_*`) are reported under
their own `scale_probe` key and stay out of the registry summary figures.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import bench_result, settle_samples  # noqa: E402


def test_settle_three_samples_is_median():
    t, backed = settle_samples([4.0, 1.0, 2.0])
    assert (t, backed) == (2.0, True)


def test_settle_two_samples_is_min_not_max():
    # the ADVICE bug: [1.0, 9.0][2//2] == 9.0 (the max)
    t, backed = settle_samples([9.0, 1.0])
    assert (t, backed) == (1.0, False)


def test_settle_single_sample_stays_advisory():
    t, backed = settle_samples([3.3])
    assert (t, backed) == (3.3, False)


def test_scale_probe_kept_out_of_registry_summary():
    timings = {"px1_loinc_i2b2_pipeline": 2.0, "q1": 1.0, "bad": -1.0}
    probe = {"scaleprobe_d6_dup_clusters": 30.0,
             "scaleprobe_cf1_item_item": -1.0}
    out = bench_result(timings, probe, {"scaleprobe_d6_dup_clusters": 3},
                       {}, 0.1)
    assert out["queries"] == timings
    assert out["scale_probe"] == probe
    assert out["n_queries"] == 3
    assert out["sum_all_queries_sec"] == 3.0
    assert out["mean_query_sec"] == 1.5
    assert out["value"] == 2.0 and out["error"] is None
    assert not any(k.startswith("scaleprobe_") for k in out["queries"])


def test_median_set_file_seeded_with_known_outliers():
    doc = json.load(open(os.path.join(REPO, "bench_median_set.json")))
    names = doc["queries"]
    assert len(names) == len(set(names))
    # r6 outliers + r7 single-run swings (verdict r7 item 4)
    for n in ("mb2_association_rules", "knap1_knapsack",
              "seq1_gaps_islands"):
        assert n in names
    # every member must be a registered query
    from angelo_bravo_etl_task_spark.queries import QUERIES

    unknown = [n for n in names if n not in QUERIES]
    assert unknown == [], unknown


def test_bench_delta_write_median_set(tmp_path):
    """--write-median-set adds >1.5x single-run movers (either
    direction), skips median-backed rows and already-present names."""
    old = {"value": 1.0, "sum_all_queries_sec": 10.0, "queries": {
        "a_swung_up": 1.0, "b_swung_down": 3.0, "c_stable": 1.0,
        "d_median_backed": 1.0, "e_tiny": 0.1,
        "mb2_association_rules": 1.0,
    }}
    new = {"value": 1.0, "sum_all_queries_sec": 10.0, "queries": {
        "a_swung_up": 2.0, "b_swung_down": 1.5, "c_stable": 1.1,
        "d_median_backed": 5.0, "e_tiny": 0.3,
        "mb2_association_rules": 2.0,
    }, "median_of": {"d_median_backed": 3}}
    po, pn = tmp_path / "old.json", tmp_path / "new.json"
    po.write_text(json.dumps(old))
    pn.write_text(json.dumps(new))

    med_path = os.path.join(REPO, "bench_median_set.json")
    before = open(med_path).read()
    try:
        proc = subprocess.run(
            [sys.executable, os.path.join(REPO, "tools", "bench_delta.py"),
             str(po), str(pn), "--write-median-set"],
            capture_output=True, text=True,
        )
        # d_median_backed regressed AND is median-backed -> exit 1
        assert proc.returncode == 1, proc.stdout + proc.stderr
        doc = json.load(open(med_path))
        names = doc["queries"]
        assert "a_swung_up" in names          # 2.0x up, single-run
        assert "b_swung_down" in names        # 2.0x down, single-run
        assert "c_stable" not in names        # 1.1x
        assert "d_median_backed" not in names  # already median-backed
        assert "e_tiny" not in names          # below --min-sec in both
        assert names.count("mb2_association_rules") == 1  # no dup
    finally:
        open(med_path, "w").write(before)
