"""Summary statistics for one run: latency percentiles, throughput and the
share of operations that completed."""

from __future__ import annotations

import math


def percentile(values: list[float], q: float) -> float:
    """The ``q``-th percentile (0..100) by linear interpolation between
    closest ranks — numpy's default method, without numpy."""
    if not values:
        raise ValueError("percentile of no values")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def summarize(latencies: list[float], failed: int, window_s: float) -> dict[str, float]:
    """Latency/throughput summary of a timed window.

    ``latencies`` holds the wall time of every operation that completed;
    ``failed`` counts the ones that raised. A failed operation counts as
    attempted but contributes no latency sample."""
    if not latencies or window_s <= 0:
        raise ValueError("no operation completed in the window")
    attempted = len(latencies) + failed
    return {
        "op_p50_s": median(latencies),
        "op_p90_s": percentile(latencies, 90.0),
        "ops_per_min": 60.0 * len(latencies) / window_s,
        "ok_op_frac": len(latencies) / attempted,
    }
