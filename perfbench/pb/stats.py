"""The benchmark's own arithmetic: percentiles, span unions, self time.

Kept free of I/O so that tests/test_stats.py can pin every rule.
"""
import math
import statistics

TAIL_MIN_BEYOND = 10


def median(values):
    return statistics.median(values)


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def tail(values, min_beyond=TAIL_MIN_BEYOND):
    """The highest whole percentile with at least `min_beyond` samples
    beyond it, as (value, percentile, sample_count).

    Nearest-rank: the q-th percentile of n sorted samples is the sample
    of rank ceil(q*n/100), and n - rank samples lie beyond it. With fewer
    than 2*min_beyond samples no percentile above the median has enough
    samples beyond it; the tail is then the slowest sample, labelled
    p100, so that a slowdown of the slowest op still shows.
    """
    xs = sorted(values)
    n = len(xs)
    q = math.floor(100 * (n - min_beyond) / n) if n > min_beyond else 0
    while q > 0 and n - math.ceil(q * n / 100) < min_beyond:
        q -= 1
    if q <= 50:
        return xs[-1], 100, n
    return xs[math.ceil(q * n / 100) - 1], q, n


def union_length(intervals):
    """Total length covered by possibly overlapping (start, end) pairs."""
    total = 0.0
    cur_start = cur_end = None
    for start, end in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(start, end, children):
    """A span's duration minus the part of it its children cover.
    Children are clipped to the parent, so a child that outlives its
    parent (an asynchronous job) only removes the overlapping part."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - union_length(clipped)


def driver_only(call_start, call_end, stage_spans):
    """Call wall time not covered by any of its stages: planning, file
    listing, checkpoint bookkeeping and result handling on the driver.
    Overlapping stages (parallel branches of one plan) count once."""
    return self_time(call_start, call_end, stage_spans)


def drop_lateness(scheduled, actual):
    """Open-loop generator lateness per drop: how long after its
    scheduled time each drop actually happened (never negative)."""
    return [max(0.0, a - s) for s, a in zip(scheduled, actual)]


def freshness(scheduled_drop, committed_at):
    """Per-day freshness, timed from the SCHEDULED drop time so that a
    late generator or a stalled stream shows up as staleness instead of
    being hidden (coordinated omission). `committed_at` maps the same
    keys to the end time of the first committed micro-batch that holds
    the day; a day never committed has no sample."""
    return {d: committed_at[d] - t for d, t in scheduled_drop.items()
            if d in committed_at}
