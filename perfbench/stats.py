"""Order statistics over op latencies in which failed ops count as misses,
and the per-query estimators the mixes report."""

from __future__ import annotations

import math


def percentile(ok_latencies: list[float], n_failed: int, q: float, limit: float) -> float:
    """The ``q``-quantile (0 < q < 1) of the op latencies of a run.

    A failed op is never timed by how long it took to fail: it counts as
    missing every latency limit, so it ranks above every successful op.
    Ranks that land on failed ops read as ``limit``, the per-op time limit
    past which an op counts as failed, so a fix that turns failures into
    successes always reads as a gain.  Between two ranks the value is
    interpolated linearly.
    """
    ranked = sorted(ok_latencies) + [math.inf] * n_failed
    if not ranked:
        raise ValueError("no ops")
    pos = q * (len(ranked) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    a, b = min(ranked[lo], limit), min(ranked[hi], limit)
    return a + (b - a) * (pos - lo)


def min_ops_for(q: float, beyond: int = 10) -> int:
    """Ops needed so that at least ``beyond`` samples lie above quantile q."""
    return math.ceil(beyond / (1.0 - q))


def median(values: list[float]) -> float:
    return percentile(values, 0, 0.5, math.inf)


def best_per_query(ops: list[tuple[str, float, bool]], limit: float) -> dict[str, float]:
    """Per query name, its fastest op of the run; ``limit`` if any of its
    ops failed.

    Interference from other guests and the JVM's continuing warm-up only
    ever add time to an op, so the fastest repetition is the estimate of
    the query's own cost least disturbed by either.
    """
    out: dict[str, float] = {}
    failed: set[str] = set()
    for name, latency, ok in ops:
        out[name] = min(out.get(name, math.inf), latency)
        if not ok:
            failed.add(name)
    return {name: limit if name in failed else min(v, limit) for name, v in out.items()}


def geomean(values) -> float:
    """Geometric mean, as TPC's power metrics combine per-query times: every
    query weighs the same, and halving any one query's time reads as the
    same gain."""
    logs = [math.log(v) for v in values]
    if not logs:
        raise ValueError("no values")
    return math.exp(sum(logs) / len(logs))
