"""Metric arithmetic for the join-search benchmark: percentiles with
their sample counts, failure counting, and self times from cumulative
prefix spans. Pure functions over the raw records `Serve` writes."""

import math
import statistics


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least p % of
    the samples at or below it. Returns (value, samples beyond it)."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1], len(xs) - rank


def median(values):
    return statistics.median(values) if values else float("nan")


def count_failures(records, verdicts):
    """(attempted, failed): a record fails when it raised or when its
    verdict (answer check) is not True; a missing verdict is a failure,
    so no request drops out of the total."""
    failed = sum(1 for r in records if r.get("error") or verdicts.get(r["id"]) is not True)
    return len(records), failed


def latencies(records, verdicts):
    """Wall times, with a failed request counted as infinitely late:
    it misses any latency limit."""
    return [r["wall_s"] if not r.get("error") and verdicts.get(r["id"]) is True
            else math.inf for r in records]


def covered_ms(intervals, t0, t1):
    """Milliseconds of [t0, t1] covered by the union of `intervals`."""
    clipped = sorted((max(s, t0), min(e, t1)) for s, e in intervals if e > t0 and s < t1)
    total, cur_s, cur_e = 0, None, None
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


def prefix_self_times(prefix_times, order):
    """Self time of each stage from cumulative prefix timings.

    `prefix_times[name]` holds samples of the time to run the pipeline
    up to and including stage `name`; a stage's self time is the median
    of its prefix minus the median of the prefix before it."""
    out, prev = {}, 0.0
    for name in order:
        m = median(prefix_times[name])
        out[name] = m - prev
        prev = m
    return out
