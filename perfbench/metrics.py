"""The benchmark's arithmetic, kept free of I/O so that selftest.py can
check it on fixed inputs."""
import statistics


def union_seconds(intervals, lo, hi):
    """Seconds of [lo, hi] covered by at least one interval.

    Intervals may overlap (concurrent jobs from an operator's thread
    pool) and may stick out of the window; both are handled."""
    covered, reach = 0.0, lo
    for start, end in sorted(intervals):
        start, end = max(start, reach), min(end, hi)
        if end > start:
            covered += end - start
            reach = end
    return covered


def driver_only_seconds(wall_s, start, end, jobs):
    """Query wall time during which no Spark job was running.

    `start`/`end` bound the query and `jobs` holds (start, end) pairs,
    all on one clock in seconds; `wall_s` is the query's measured wall."""
    return max(wall_s - union_seconds(jobs, start, end), 0.0)


def tail(values, beyond=10):
    """The highest percentile that still has `beyond` samples above it.

    Returns (value, percentile, n), or (None, None, n) when there are too
    few samples for such a percentile to exist."""
    ordered = sorted(values)
    n = len(ordered)
    if n <= beyond:
        return None, None, n
    k = n - beyond - 1  # zero-based rank with exactly `beyond` samples after it
    return ordered[k], 100.0 * (k + 1) / n, n


def rows_per_result(operator_rows, rows_returned):
    """Operator output rows per row returned, summed over queries.

    A query that returns no rows still did work: its denominator counts
    as one, so the ratio stays finite and still grows with wasted work."""
    return sum(operator_rows) / sum(max(r, 1) for r in rows_returned)


def median(values):
    return statistics.median(values)


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values):
    """Distance between the quartiles as a share of the median."""
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / q2 if q2 else float("inf")


def verdict(parent, change, bound, better):
    """Compare one metric's runs of the parent and of a change.

    Follows the measuring rules the benchmark is judged by: "improved"
    needs the change to win at least nine tenths of the alternating
    pairs and the medians to differ by more than the parent's quartile
    distance; "worse" means the change's median is worse than the
    parent's by more than `bound`; when the parent's own spread exceeds
    the bound the result is "unresolved" unless every change run beats
    every parent run. Returns (verdict, win_fraction)."""
    sign = 1.0 if better == "lower" else -1.0
    pairs = list(zip(parent, change))
    wins = sum(1 for p, c in pairs if sign * (p - c) > 0)
    win_fraction = wins / len(pairs) if pairs else 0.0
    p_q1, p_med, p_q3 = quartiles(parent)
    c_med = median(change)
    gain = sign * (p_med - c_med)
    if win_fraction >= 0.9 and gain > p_q3 - p_q1:
        return "improved", win_fraction
    every_run_better = all(sign * (p - c) > 0 for p in parent for c in change)
    if spread(parent) > bound and not every_run_better:
        return "unresolved", win_fraction
    if -gain > bound * abs(p_med):
        return "worse", win_fraction
    return "within bound", win_fraction
