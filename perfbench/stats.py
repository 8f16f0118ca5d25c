"""Statistics the benchmark reports, kept apart so they can be tested."""

import bisect
import math
import statistics

# A percentile is reported only when at least this many samples lie
# beyond it, so a p99 needs 1000 samples.
MIN_BEYOND = 10


def percentile(values, q):
    """Nearest-rank q-th percentile of `values`, or None when fewer than
    MIN_BEYOND samples lie strictly beyond its rank."""
    n = len(values)
    if n == 0:
        return None
    rank = max(1, math.ceil(q / 100.0 * n))
    if n - rank < MIN_BEYOND:
        return None
    return sorted(values)[rank - 1]


def due_latencies(due, done):
    """Open-loop latency: each request is timed from when it was due to
    be sent, so time spent queued behind a slow request counts."""
    return [d1 - d0 for d0, d1 in zip(due, done)]


def backlog(due_sorted, done_sorted, t):
    """Requests due by time t that have not completed by t (both lists
    sorted)."""
    return bisect.bisect_right(due_sorted, t) - bisect.bisect_right(done_sorted, t)


def backlog_growing(due, done, start, end, slack, samples=100):
    """True when the backlog rises over the run: its median over the
    last fifth of [start, end] exceeds the median over the first fifth
    by more than `slack` requests (the number in flight when keeping
    up). Medians keep a pause shorter than half a fifth from counting
    as growth."""
    ts = [start + (end - start) * (i + 0.5) / samples for i in range(samples)]
    due_s, done_s = sorted(due), sorted(done)
    fifth = max(1, samples // 5)
    first = statistics.median(backlog(due_s, done_s, t) for t in ts[:fifth])
    last = statistics.median(backlog(due_s, done_s, t) for t in ts[-fifth:])
    return last - first > slack

