"""Pure helpers of the benchmark: percentiles and the result line."""

import json
import math

# Percentiles a timing may be reported at, highest last.
TAIL_CANDIDATES = (50.0, 90.0, 99.0, 99.9)


def _rank(p, n):
    """1-based nearest rank of percentile p among n samples (the epsilon
    keeps 99.9% of 10000 at rank 9990 despite binary floating point)."""
    return max(1, math.ceil(p * n / 100.0 - 1e-9))


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    return xs[_rank(p, len(xs)) - 1]


def tail_percentile(n, beyond=10):
    """The highest candidate percentile that leaves at least `beyond`
    samples above it, or None when even the median does not."""
    best = None
    for p in TAIL_CANDIDATES:
        if n - _rank(p, n) >= beyond:
            best = p
    return best


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line. `metrics` maps a name to
    (value, unit); values keep all their digits."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
