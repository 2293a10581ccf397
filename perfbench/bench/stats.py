"""Percentiles, span self time and layer coverage: the arithmetic the
metrics rest on, kept free of I/O so the tests can pin it."""

import math
import statistics

MIN_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile (p in (0, 1]) of a non-empty list."""
    v = sorted(values)
    if not v:
        raise ValueError("percentile of no values")
    rank = max(1, math.ceil(p * len(v)))
    return v[rank - 1]


def samples_beyond(n, p):
    """How many of n samples lie strictly above the nearest-rank p-th
    percentile's position."""
    return n - max(1, math.ceil(p * n))


def tail_percentile(values, p):
    """The p-th percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it: a tail read off fewer samples is not reported."""
    if samples_beyond(len(values), p) < MIN_BEYOND:
        return None
    return percentile(values, p)


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median (the steadiness rule the benchmark is held to)."""
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def covered(intervals, lo=None, hi=None):
    """Length of the union of [t0, t1] intervals, optionally clipped to
    [lo, hi]."""
    iv = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            iv.append((a, b))
    iv.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans):
    """Self time per span name: each span's duration minus the part of
    it that its children cover. spans: dicts with id, parent, name, t0,
    t1. Returns {name: total self time}, in the spans' time unit."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        kids = [(c["t0"], c["t1"]) for c in children.get(s["id"], [])]
        own = (s["t1"] - s["t0"]) - covered(kids, s["t0"], s["t1"])
        out[s["name"]] = out.get(s["name"], 0) + own
    return out


def op_coverage(op_span, build, pin, execute, jobs):
    """Layer coverage of one query op, all in one time unit:
    build + pin + the execute phase's job window + the execute phase's
    driver gap (execute time no job covers), as a share of op wall.

    The job window is the union of the intervals of jobs that started
    inside the execute span, unclipped: a listener clock that disagrees
    with the harness clock shows here as a miss."""
    wall = op_span[1] - op_span[0]
    ex0, ex1 = execute
    ex_jobs = [(a, b) for a, b in jobs if ex0 <= a <= ex1]
    job_window = covered(ex_jobs)
    gap = (ex1 - ex0) - covered(ex_jobs, ex0, ex1)
    parts = (build[1] - build[0]) + (pin[1] - pin[0]) + job_window + gap
    return parts / wall if wall > 0 else float("nan")
