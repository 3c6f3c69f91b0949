"""Harness maths: percentiles, span self time, due-time latency, in-flight mean.

Pure functions over plain lists, shared by run.py and compare.py and checked
by tests/test_stats.py.
"""
import math


def percentile(values, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    `q` of all samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    k = max(1, math.ceil(q * len(xs) - 1e-9))
    return xs[k - 1]


def median(values):
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else (xs[n // 2 - 1] + xs[n // 2]) / 2


def tail_q(n, beyond=10, cap=0.99):
    """The highest whole percentile, at most `cap`, that leaves at least
    `beyond` of `n` samples above its nearest-rank sample; the median when
    no percentile above it qualifies."""
    best = 0.5
    for p in range(50, int(round(cap * 100)) + 1):
        q = p / 100
        if n - math.ceil(q * n - 1e-9) >= beyond:
            best = q
    return best


def union_ms(intervals, lo=None, hi=None):
    """Length of the union of (start, end) intervals, clipped to [lo, hi]."""
    segs = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            segs.append((s, e))
    segs.sort()
    total, cur_s, cur_e = 0.0, None, None
    for s, e in segs:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans):
    """Self time of each span: its duration minus the part of its interval
    that its children cover. `spans` are dicts with key, parent, start, end."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["key"]: (s["end"] - s["start"]) -
            union_ms(kids.get(s["key"], []), s["start"], s["end"])
            for s in spans}


def due_latencies(t0, rate, batch_of, batch_end):
    """Open-loop latency of each record, timed from when it was due: record
    `j` falls due at t0 + j/rate seconds and its result exists once its sink
    batch commits. Records without a committed batch are skipped."""
    out = []
    for j, b in enumerate(batch_of):
        end = batch_end.get(b)
        if b >= 0 and end is not None:
            out.append(end - (t0 + j * 1000.0 / rate))
    return out


def inflight_mean(intervals, lo, hi):
    """Time-weighted mean number of operations in flight over [lo, hi]."""
    if hi <= lo:
        raise ValueError("empty window")
    busy = sum(max(0.0, min(e, hi) - max(s, lo)) for s, e in intervals)
    return busy / (hi - lo)


def quartiles(values):
    """(first quartile, median, third quartile) as statistics.quantiles gives
    them with n=4 (exclusive method)."""
    import statistics
    if len(values) < 2:
        v = values[0]
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3
