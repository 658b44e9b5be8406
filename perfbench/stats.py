"""Small statistics shared by the benchmark runner and its tests."""
import math


def percentile(values, p, min_beyond=10):
    """Nearest-rank p-th percentile (0 < p < 1), or None unless at least
    `min_beyond` samples lie beyond it: a tail figure resting on fewer
    samples is noise, so it is not reported."""
    xs = sorted(values)
    if not xs:
        return None
    rank = max(1, math.ceil(p * len(xs)))
    if len(xs) - rank < min_beyond:
        return None
    return xs[rank - 1]


def _covered(start, end, intervals):
    """Length of [start, end] covered by the union of intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer(name):
    """Layer of a span name: 'query:q12' and 'report:topProducts' fold into
    'query' and 'report'."""
    return name.split(":", 1)[0]


def self_times(spans):
    """Self time per layer: each span's duration minus the part of it its
    child spans cover, summed over the spans of that layer. `spans` are
    dicts with id, parent, name, start_s and end_s."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start_s"], s["end_s"]))
    out = {}
    for s in spans:
        dur = s["end_s"] - s["start_s"]
        own = dur - _covered(s["start_s"], s["end_s"], children.get(s["id"], []))
        k = layer(s["name"])
        out[k] = out.get(k, 0.0) + own
    return out

