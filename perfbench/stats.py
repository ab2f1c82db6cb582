"""Statistics for perfbench results."""
import math

MIN_BEYOND = 10
PERCENTILES = list(range(50, 100, 5)) + [99]


def tail(values):
    """The tail the sample supports: the highest of p50, p55, ..., p95, p99
    with at least ten samples beyond it, as (p, value), the value taken by
    nearest rank. None when fewer than 20 samples."""
    xs = sorted(values)
    n = len(xs)
    best = None
    for p in PERCENTILES:
        rank = math.ceil(n * p / 100)
        if rank >= 1 and n - rank >= MIN_BEYOND:
            best = (p, xs[rank - 1])
    return best

