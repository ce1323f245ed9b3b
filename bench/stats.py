"""The benchmark's arithmetic: percentiles, interval unions, span self
time, ratios and the per-layer roll-up of a traced run's spans.

Everything here is a pure function of its arguments; test_stats.py
checks each on hand-built inputs.
"""
import math
import statistics

TAIL_BEYOND = 10


def median(xs):
    return statistics.median(xs) if xs else 0.0


def hd_quantile(xs, q, per_rank=200):
    """Harrell-Davis estimate of the q-quantile: a weighted mean of all
    order statistics, the weights being the Beta((n+1)q, (n+1)(1-q))
    mass of each rank's slot. Unlike a single order statistic it does
    not jump when a few heterogeneous operations swap places around
    rank qn of a small sample."""
    s = sorted(xs)
    n = len(s)
    if n < 2:
        return s[0] if s else 0.0
    a, b = (n + 1) * q, (n + 1) * (1 - q)
    log_b = math.lgamma(a) + math.lgamma(b) - math.lgamma(a + b)

    def pdf(x):
        if x <= 0.0 or x >= 1.0:
            return 0.0
        return math.exp((a - 1) * math.log(x) + (b - 1) * math.log1p(-x)
                        - log_b)

    # trapezoid rule on a grid that puts `per_rank` steps in each slot
    steps = per_rank * n
    cdf = [0.0]
    for i in range(1, steps + 1):
        cdf.append(cdf[-1] + (pdf((i - 1) / steps) + pdf(i / steps))
                   / (2 * steps))
    edge = [cdf[per_rank * i] / cdf[-1] for i in range(n + 1)]
    return sum(v * (edge[i + 1] - edge[i]) for i, v in enumerate(s))


def hd_median(xs):
    return hd_quantile(xs, 0.5)


def tail(xs, beyond=TAIL_BEYOND):
    """Latency at the highest percentile that has at least `beyond`
    samples above it, as (value, percentile, samples_beyond).

    With n samples sorted ascending, that is the sample at index
    n - beyond - 1: exactly `beyond` samples sort after it, and it sits
    at percentile 100 * (n - beyond) / n. With `beyond` or fewer
    samples no such percentile exists; the minimum is reported with the
    number of samples that do lie beyond it."""
    if not xs:
        return 0.0, 0.0, 0
    s = sorted(xs)
    n = len(s)
    i = max(0, n - beyond - 1)
    return s[i], 100.0 * (i + 1) / n, n - i - 1


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the union of [a, b] intervals, each first
    clipped to [lo, hi] when given."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    t0, t1 = span
    return (t1 - t0) - union_length(children, t0, t1)


def ratio(num, den):
    return num / den if den else 0.0


def quartiles(xs):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(xs) < 2:
        v = xs[0] if xs else 0.0
        return v, v, v
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs):
    """Inter-quartile distance as a share of the median."""
    q1, q2, q3 = quartiles(xs)
    return ratio(q3 - q1, q2)


def rollup(spans):
    """Per-layer seconds from a traced run's spans.

    `spans` are dicts with id, parent, name, op, t0, t1 (ns). Returns
    {"self": {name: s}, "total": {name: s}, "ops": {op_id: {...}}}: per
    span name the summed self time and summed duration, and per root
    operation its wall time, its own self time and the time its
    children cover (self + covered == wall)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    self_s, total_s, ops = {}, {}, {}
    for s in spans:
        ch = [(c["t0"], c["t1"]) for c in kids.get(s["id"], ())]
        st = self_time((s["t0"], s["t1"]), ch) / 1e9
        dur = (s["t1"] - s["t0"]) / 1e9
        self_s[s["name"]] = self_s.get(s["name"], 0.0) + st
        total_s[s["name"]] = total_s.get(s["name"], 0.0) + dur
        if s["name"] == "op":
            ops[s["id"]] = {"wall_s": dur, "self_s": st,
                            "covered_s": dur - st}
    return {"self": self_s, "total": total_s, "ops": ops}


def driver_gap(op_span, job_spans):
    """An operation's wall time not covered by any of its Spark jobs
    (planning, scheduling, catalog and file-system work on the
    driver), in the spans' units."""
    return self_time(op_span, job_spans)
