"""Summaries the benchmark reports: percentiles and span self time."""
import math


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p % of the
    values at or below it. It is always a measured value, never an
    interpolation between two ops."""
    if not values:
        raise ValueError("percentile of no values")
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def self_times(spans):
    """Seconds per span name not covered by that span's children.

    `spans` are dicts with id, name, start_ns, end_ns and parent. Children of
    one span never overlap (the harness calls layers one after another), but
    the union is taken anyway so an overlap is not counted twice.
    """
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered, reach = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], reach), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                covered += hi - lo
                reach = hi
        own = (s["end_ns"] - s["start_ns"] - covered) / 1e9
        out[s["name"]] = out.get(s["name"], 0.0) + own
    return out
