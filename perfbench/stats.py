"""Statistics for the benchmark: percentiles, seeded roster orders, and
span self times. Pure functions, tested by test_stats.py."""
import math
import random


def percentile(values, q):
    """The q-th percentile (0..100) of values by linear interpolation between
    closest ranks, and the sample count it rests on: (value, n)."""
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


def orders(seed, roster_size, passes):
    """`passes` permutations of range(roster_size), the same for the same
    seed."""
    rng = random.Random(seed)
    order = list(range(roster_size))
    out = []
    for _ in range(passes):
        rng.shuffle(order)
        out.append(list(order))
    return out


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
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


def self_times(spans):
    """Exclusive time of each span in one span tree.

    `spans` is a list of dicts with `kind`, `depth`, `s` and `e`; the first
    is the root and every other span is clipped to it. At each instant the
    time is charged to the deepest active span (the later-started one when
    two of the same depth overlap), so a span's self time is its duration
    minus what its children cover, and the self times of all spans add up
    to the root's duration exactly. Returns a list of self times, in the
    order of `spans`."""
    root_s, root_e = spans[0]["s"], spans[0]["e"]
    clipped = [(max(sp["s"], root_s), min(sp["e"], root_e)) for sp in spans]
    points = sorted({p for s, e in clipped if e > s for p in (s, e)} | {root_s, root_e})
    out = [0.0] * len(spans)
    for a, b in zip(points, points[1:]):
        mid = (a + b) / 2
        best = None
        for i, (s, e) in enumerate(clipped):
            if s <= mid < e:
                key = (spans[i]["depth"], s, i)
                if best is None or key > best[0]:
                    best = (key, i)
        if best is not None:
            out[best[1]] += b - a
    return out
