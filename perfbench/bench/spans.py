"""Span trees and self time.

Spans carry a name, a request id and an interval. A span's parent is the
innermost span of the same request whose interval contains it (ties go
to the span listed first), and its self time is its duration minus the
part of its interval that its children cover.
"""
from collections import defaultdict


def assign_parents(spans):
    """Parent index (or None) for each span, by interval containment."""
    def length(i):
        return spans[i]["end_ms"] - spans[i]["start_ms"]

    def encloses(j, i):
        # equal intervals nest in listing order, so no two spans are each other's parent
        return (spans[j]["start_ms"] <= spans[i]["start_ms"]
                and spans[i]["end_ms"] <= spans[j]["end_ms"]
                and (length(j), -j) > (length(i), -i))

    by_request = defaultdict(list)
    for i, s in enumerate(spans):
        by_request[s["request"]].append(i)
    parents = [None] * len(spans)
    for idx in by_request.values():
        for i in idx:
            outer = [j for j in idx if encloses(j, i)]
            if outer:
                parents[i] = min(outer, key=lambda j: (length(j), -j))
    return parents


def covered(intervals):
    """Total length of the union of (start, end) intervals."""
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def self_times(spans):
    """Seconds of self time per span name, summed over all spans."""
    parents = assign_parents(spans)
    children = defaultdict(list)
    for i, p in enumerate(parents):
        if p is not None:
            s = spans[i]
            children[p].append((s["start_ms"], s["end_ms"]))
    out = defaultdict(float)
    for i, s in enumerate(spans):
        dur = s["end_ms"] - s["start_ms"]
        out[s["name"]] += max(0.0, dur - covered(children[i])) / 1000.0
    return dict(out)
