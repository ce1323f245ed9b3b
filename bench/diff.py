"""Compare two sets of benchmark run records.

    python3 bench/diff.py <before> <after>

Each side is a directory of records (bench/run.py writes one per run to
bench/records/) or a glob of record files. Per workload, prints every
end-to-end metric's first quartile, median and third quartile on both
sides (untraced runs), then the per-layer metrics (traced runs) ranked
by the size of their change, so the layer that moved is named first.
"""
import glob
import json
import os
import sys

import stats


def load(side):
    files = (sorted(glob.glob(os.path.join(side, "*.json")))
             if os.path.isdir(side) else sorted(glob.glob(side)))
    runs = []
    for f in files:
        with open(f) as fh:
            runs.append(json.load(fh))
    return runs


def by_workload(runs):
    out = {}
    for r in runs:
        out.setdefault(r["workload"], []).append(r)
    return out


def column(runs, section, name):
    return [r[section][name] for r in runs
            if name in r.get(section, {})]


def fmt(q):
    return "{:.4g} [{:.4g}, {:.4g}]".format(q[1], q[0], q[2])


def diff(before, after, out=sys.stdout):
    b, a = by_workload(before), by_workload(after)
    for w in sorted(set(b) | set(a)):
        rb, ra = b.get(w, []), a.get(w, [])
        ub = [r for r in rb if not r["trace"]]
        ua = [r for r in ra if not r["trace"]]
        print(f"== {w}: {len(ub)} vs {len(ua)} untraced runs", file=out)
        print(f"  {'metric':34s} {'before median [q1, q3]':30s} "
              f"{'after median [q1, q3]':30s} change", file=out)
        names = sorted({k for r in ub + ua for k in r["metrics"]} |
                       {k for r in ub + ua for k in r.get("extra", {})})
        for n in names:
            sec = "metrics" if any(n in r["metrics"] for r in ub + ua) \
                else "extra"
            xb, xa = column(ub, sec, n), column(ua, sec, n)
            if not xb and not xa:
                continue
            qb, qa = stats.quartiles(xb), stats.quartiles(xa)
            ch = stats.ratio(qa[1] - qb[1], qb[1])
            print(f"  {n:34s} {fmt(qb):30s} {fmt(qa):30s} {ch:+.1%}",
                  file=out)
        tb = [r for r in rb if r["trace"]]
        ta = [r for r in ra if r["trace"]]
        if not tb or not ta:
            continue
        print(f"  per-layer ({len(tb)} vs {len(ta)} traced runs), "
              "largest change first:", file=out)
        rows = []
        for n in sorted({k for r in tb + ta for k in r["per_layer"]}):
            mb = stats.median(column(tb, "per_layer", n))
            ma = stats.median(column(ta, "per_layer", n))
            if mb == 0 and ma == 0:
                continue
            rel = stats.ratio(ma - mb, abs(mb)) if mb else float("inf")
            rows.append((abs(rel), n, mb, ma, rel))
        for _, n, mb, ma, rel in sorted(rows, reverse=True):
            print(f"    {n:40s} {mb:14.6g} -> {ma:14.6g} {rel:+.1%}",
                  file=out)


if __name__ == "__main__":
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    diff(load(sys.argv[1]), load(sys.argv[2]))
