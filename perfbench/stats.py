"""Statistics the benchmark reports, kept free of I/O so they can be tested."""
import math
import statistics

# A tail percentile is reported only when at least this many samples lie
# beyond it; with fewer, the "percentile" is just one of the last samples.
MIN_BEYOND = 10


def median(values):
    if not values:
        raise ValueError("median of no samples")
    return statistics.median(values)


def geometric_mean(values):
    if not values:
        raise ValueError("geometric mean of no samples")
    return statistics.geometric_mean(values)


def samples_beyond(n, q):
    """Samples strictly above the nearest-rank q-quantile of n samples."""
    return n - math.ceil(q * n)


def percentile(values, q):
    """Nearest-rank q-quantile (0 < q < 1), refused unless at least
    MIN_BEYOND samples lie beyond it."""
    n = len(values)
    if n == 0 or samples_beyond(n, q) < MIN_BEYOND:
        raise ValueError(f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; have {n} samples")
    return sorted(values)[math.ceil(q * n) - 1]


def highest_percentile(values, candidates=(0.99, 0.95, 0.9, 0.8, 0.75)):
    """(q, value) for the highest candidate percentile the sample supports,
    or None when even the lowest has fewer than MIN_BEYOND samples beyond."""
    for q in candidates:
        if samples_beyond(len(values), q) >= MIN_BEYOND:
            return q, percentile(values, q)
    return None


def covered_ms(intervals, lo, hi):
    """Length of [lo, hi] covered by the union of (start, end) intervals."""
    clipped = sorted((max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo))
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def driver_gap_ms(lo, hi, job_intervals):
    """Wall time of the window [lo, hi] during which no job was running."""
    return (hi - lo) - covered_ms(job_intervals, lo, hi)


def core_busy_share(task_busy_ms, wall_ms, cores):
    """Task busy time as a share of the cores' capacity over the wall time."""
    if wall_ms <= 0 or cores <= 0:
        raise ValueError("wall time and cores must be positive")
    return task_busy_ms / (wall_ms * cores)
