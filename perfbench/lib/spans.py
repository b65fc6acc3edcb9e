"""Self time of trace spans.

A span is a dict with `id`, `parent`, `name`, `start_s` and `end_s`.
Its self time is its duration minus the part of that interval its
child spans cover (overlapping children are counted once)."""
from collections import defaultdict


def covered(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    total, reach = 0.0, start
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e > reach:
            total += e - max(s, reach)
            reach = e
    return total


def self_times(spans):
    """{span id: self time}."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append((s["start_s"], s["end_s"]))
    return {s["id"]: (s["end_s"] - s["start_s"]) - covered(s["start_s"], s["end_s"], children[s["id"]])
            for s in spans}


def by_name(spans):
    """{name: (count, total seconds, total self seconds)}, largest self time first."""
    own = self_times(spans)
    agg = defaultdict(lambda: [0, 0.0, 0.0])
    for s in spans:
        a = agg[s["name"]]
        a[0] += 1
        a[1] += s["end_s"] - s["start_s"]
        a[2] += own[s["id"]]
    return dict(sorted(((k, tuple(v)) for k, v in agg.items()), key=lambda kv: -kv[1][2]))
