"""Pure statistics over the harness's raw record: percentiles with their
sample count, geometric means, and span self time and coverage."""
import math


def percentile(values, q):
    """(value, n): the q-th percentile (0..100) by linear interpolation
    between closest ranks, and the number of samples it was taken over."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("percentile of no samples")
    pos = (n - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), n


def median(values):
    return percentile(values, 50)[0]


def geomean(values):
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geomean needs positive samples")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def union_length(intervals, lo=None, hi=None):
    """Length of the union of [start, end) intervals, clipped to [lo, hi]."""
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(clipped):
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
    """{span id: self time}: a span's duration minus the part of its
    interval that its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"])
            - union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def self_time_by(spans, key="name"):
    """Self time summed per span name (or per any other span field)."""
    own = self_times(spans)
    out = {}
    for s in spans:
        out[s[key]] = out.get(s[key], 0) + own[s["id"]]
    return out


def uncovered_share(root, leaves):
    """Share of `root`'s interval that no leaf span covers."""
    dur = root["end"] - root["start"]
    if dur <= 0:
        return 0.0
    covered = union_length([(s["start"], s["end"]) for s in leaves],
                           root["start"], root["end"])
    return (dur - covered) / dur
