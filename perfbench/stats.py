"""The benchmark's arithmetic: medians, tail percentiles, interval
unions, span self times and failure ratios. Pure functions, tested by
test_stats.py.
"""
import math
import statistics

# Percentile rungs a tail may be reported at.
LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)


def median(xs):
    return statistics.median(xs)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def rank_index(n, p):
    """0-based nearest-rank index of percentile ``p`` among ``n`` sorted samples."""
    # rounded first, so 99.9% of 10000 is rank 9990, not 9991
    return max(0, math.ceil(round(p * n / 100.0, 9)) - 1)


def beyond(n, p):
    """Samples ranked strictly after percentile ``p``'s nearest-rank sample."""
    return n - (rank_index(n, p) + 1)


def tail(xs, min_beyond=10, ladder=LADDER):
    """The highest rung of ``ladder`` with at least ``min_beyond`` samples
    beyond it, as (percentile, value); None when even the lowest rung
    has fewer.
    """
    s = sorted(xs)
    best = None
    for p in ladder:
        if beyond(len(s), p) >= min_beyond:
            best = (p, s[rank_index(len(s), p)])
    return best


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals, counting
    overlaps once.
    """
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped(intervals, lo, hi):
    """The parts of ``intervals`` inside [lo, hi]."""
    return [(max(s, lo), min(e, hi)) for s, e in intervals if min(e, hi) > max(s, lo)]


def self_times(spans):
    """Self time of every span, charged so that the self times of a tree
    sum to its root's duration: each instant is charged to the deepest
    spans open at that instant, split evenly among them when several run
    concurrently (parallel jobs under one call). Children are clipped to
    their parent. Without concurrency this is the usual "duration minus
    the children's union". ``spans`` are dicts with ``id``, ``parent``,
    ``start`` and ``end``; returns id -> self time.
    """
    by_id = {s["id"]: s for s in spans}
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s["id"])
    # clip each span to its (clipped) parent, top-down from the roots
    iv = {}
    stack = [(s["id"], None) for s in spans if s["parent"] not in by_id]
    while stack:
        sid, bound = stack.pop()
        a, b = by_id[sid]["start"], by_id[sid]["end"]
        if bound:
            a, b = max(a, bound[0]), min(b, bound[1])
        iv[sid] = (a, max(a, b))
        stack += [(k, iv[sid]) for k in kids.get(sid, [])]
    out = {sid: 0.0 for sid in by_id}
    edges = sorted({t for a, b in iv.values() for t in (a, b)})
    live = {sid for sid, (a, b) in iv.items() if b > a}
    for lo, hi in zip(edges, edges[1:]):
        active = {sid for sid in live if iv[sid][0] <= lo and iv[sid][1] >= hi}
        parents = {by_id[sid]["parent"] for sid in active}
        leaves = [sid for sid in active if sid not in parents]
        for sid in leaves:
            out[sid] += (hi - lo) / len(leaves)
    return out


def fail_ratio(attempted, failed):
    return failed / attempted if attempted else 1.0
