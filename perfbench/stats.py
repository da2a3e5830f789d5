"""Summary statistics shared by the workloads: medians, the tail rule
and per-workload latency roll-ups."""

from __future__ import annotations

import math
import statistics

# A tail percentile is reported only where at least this many samples
# lie beyond it.
TAIL_BEYOND = 10


def median(values):
    return statistics.median(values) if values else float("nan")


def tail(values) -> tuple[float, float, int, int]:
    """The highest nearest-rank percentile with at least TAIL_BEYOND
    samples above it, kept above the median.

    Returns (value, percentile, n, beyond). With n sorted samples that
    rank is r = n - TAIL_BEYOND. When that would not lie above the
    median (n < 2 * TAIL_BEYOND + 2) the first rank above the median is
    used instead and `beyond` shows how many samples really lie above
    it, so a short run is visible as a tail with fewer than TAIL_BEYOND
    samples beyond."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return float("nan"), float("nan"), 0, 0
    r = min(n, max(n - TAIL_BEYOND, n // 2 + 1 + n % 2))
    return xs[r - 1], round(100.0 * r / n, 1), n, n - r


def geomean(values) -> float:
    vals = [v for v in values if v > 0]
    if not vals:
        return float("nan")
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def rollup(samples: dict[str, list[float]]) -> dict:
    """Per-workload latency summary over op types.

    `p50` is the geometric mean of each op type's median, so every op
    type weighs the same whatever its speed or count. `tail` scales
    that by the tail of the pooled ratios sample / own-type median,
    which gives the tail rule enough samples even when each op type
    has only a few."""
    p50s = {op: median(xs) for op, xs in samples.items() if xs}
    ratios = [x / p50s[op] for op, xs in samples.items() for x in xs if p50s[op] > 0]
    r_tail, pct, n, beyond = tail(ratios)
    p50 = geomean(p50s.values())
    return {
        "p50": p50,
        "tail": p50 * r_tail,
        "tail_percentile": pct,
        "tail_samples": n,
        "tail_beyond": beyond,
    }


def op_summary(xs: list[float]) -> dict:
    value, pct, n, beyond = tail(xs)
    return {
        "p50": median(xs),
        "tail": value,
        "tail_percentile": pct,
        "n": n,
        "tail_beyond": beyond,
    }
