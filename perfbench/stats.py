"""Statistics of the graft benchmark, kept apart from the runner so the
self-tests in perfbench/tests can check them without a JVM."""

import random

TAIL_BEYOND = 10


def median(xs):
    s = sorted(xs)
    if not s:
        raise ValueError("median of no values")
    m = len(s) // 2
    return s[m] if len(s) % 2 else (s[m - 1] + s[m]) / 2


def tail(xs):
    """Latency at the highest percentile that has at least TAIL_BEYOND
    samples beyond it: the (n - TAIL_BEYOND)-th smallest of n samples.

    Returns (value, percentile, samples beyond, sample count)."""
    s = sorted(xs)
    n = len(s)
    if n <= TAIL_BEYOND:
        raise ValueError(f"a tail needs more than {TAIL_BEYOND} samples, got {n}")
    i = n - TAIL_BEYOND - 1
    return s[i], 100.0 * (i + 1) / n, n - 1 - i, n


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _clipped(spans):
    """Each span's (start, end) clipped into its parent's clipped bounds."""
    by_id = {sp["id"]: sp for sp in spans}
    out = {}

    def bounds(sp):
        if sp["id"] not in out:
            s, e = sp["start"], max(sp["start"], sp["end"])
            parent = by_id.get(sp["parent"])
            if parent is not None:
                ps, pe = bounds(parent)
                s, e = min(max(s, ps), pe), min(max(e, ps), pe)
            out[sp["id"]] = (s, e)
        return out[sp["id"]]

    for sp in spans:
        bounds(sp)
    return out


def layer_self_times(spans):
    """Self time of each layer (span name): the time its spans cover minus
    the time their child spans cover. Overlapping spans of one layer (jobs
    or stages that run at once) count once, so the layers' self times add
    up to the roots' total duration.

    Returns {name: self seconds}."""
    clipped = _clipped(spans)
    by_id = {sp["id"]: sp for sp in spans}
    covered, child_covered = {}, {}
    for sp in spans:
        covered.setdefault(sp["name"], []).append(clipped[sp["id"]])
        parent = by_id.get(sp["parent"])
        if parent is not None:
            child_covered.setdefault(parent["name"], []).append(clipped[sp["id"]])
    return {name: union_length(ivs) - union_length(child_covered.get(name, []))
            for name, ivs in covered.items()}


def self_times(spans):
    """Self time of each span: its duration minus the part of it that its
    children cover, after clipping children into their parent. When
    siblings overlap, the self times of a tree add up to more than the
    root's duration; `layer_self_times` counts overlap once.

    `spans` is a list of dicts with id, parent (None for a root), start, end.
    Returns {id: self seconds}."""
    clipped = _clipped(spans)
    children = {}
    for sp in spans:
        children.setdefault(sp["parent"], []).append(clipped[sp["id"]])
    return {sp["id"]: (clipped[sp["id"]][1] - clipped[sp["id"]][0])
            - union_length(children.get(sp["id"], [])) for sp in spans}


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("no queries attempted")
    return failed / attempted


def timed_order(names, seed):
    """The seeded permutation that fixes the timed order of a pass."""
    order = list(names)
    random.Random(seed ^ 0x5EED).shuffle(order)
    return order
