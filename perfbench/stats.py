"""Statistics and trace arithmetic of the benchmark, kept free of I/O so the
self-tests can pin them."""
import math

import numpy as np


def tail_percentile(n):
    """Highest whole percentile with at least ten of `n` samples beyond it,
    ranks taken as nearest rank, or None for ten samples or fewer."""
    if n <= 10:
        return None
    return (100 * (n - 10)) // n


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-th percentile: a mean of all order
    statistics weighted by a Beta((n+1)q, (n+1)(1-q)) law, q = p/100.

    The workloads mix a dozen distinct queries, so the latency samples
    form one cluster per query and a single order statistic jumps between
    clusters from run to run; the weighted mean moves smoothly."""
    x = np.sort(np.asarray(xs, dtype=float))
    n, q = len(x), p / 100
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    t = np.linspace(0.0, 1.0, 20001)[1:-1]
    logpdf = ((a - 1) * np.log(t) + (b - 1) * np.log1p(-t)
              + math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b))
    pdf = np.exp(logpdf)
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2 * (t[1] - t[0]))])
    cdf = np.interp(np.arange(n + 1) / n, np.concatenate([[0.0], t[1:], [1.0]]),
                    np.concatenate([cdf, [cdf[-1]]]) / cdf[-1])
    return float(np.dot(np.diff(cdf), x))


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def clip(iv, lo, hi):
    return (max(iv[0], lo), min(iv[1], hi))


def self_time(span, children):
    """A span's duration minus the part of it that its children cover."""
    s, e = span
    return (e - s) - union_length([clip(c, s, e) for c in children])


# When siblings overlap, the overlap counts once, for the first of these.
PRIORITY = ("exec", "plans", "queries.build")


def split_query(spans):
    """Self time per layer of one query execution, in the spans' unit.

    `spans` are dicts with `name`, `id`, `parent` and either an interval
    (`start`, `end`) or, for `codegen`, only a duration `dur`. Spans of one
    layer under one parent count as the union of their intervals. Compile
    time has no interval of its own: it happens on the driver between
    planning and each stage's job, so it is carved out of the self time of
    its parent span, then of the root, never below zero. The returned
    values add up to the root span's duration."""
    kids_of = {}
    for s in spans:
        if s.get("parent") is not None:
            kids_of.setdefault(s["parent"], []).append(s)
    out = {}

    def add(name, v):
        out[name] = out.get(name, 0.0) + v

    def walk(span):
        lo, hi = span["start"], span["end"]
        kids = [k for k in kids_of.get(span["id"], []) if "dur" not in k]
        rank = {n: i for i, n in enumerate(PRIORITY)}
        taken = []
        for name in sorted({k["name"] for k in kids}, key=lambda n: rank.get(n, len(rank))):
            group = [k for k in kids if k["name"] == name]
            ivs = [clip((k["start"], k["end"]), lo, hi) for k in group]
            new = union_length(taken + ivs) - union_length(taken)
            taken += ivs
            if any(k["id"] in kids_of for k in group):
                for k in group:
                    walk(k)
            else:
                add(name, new)
        add(span["name"], self_time((lo, hi), taken))

    root = next(s for s in spans if s.get("parent") is None)
    walk(root)
    names = {s["id"]: s["name"] for s in spans}
    for s in spans:
        if "dur" not in s:
            continue
        left = s["dur"]
        for holder in (names[s["parent"]], root["name"]):
            take = min(left, max(0.0, out.get(holder, 0.0)))
            add(holder, -take)
            add(s["name"], take)
            left -= take
    return out
