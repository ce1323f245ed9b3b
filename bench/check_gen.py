"""Check the input generator against the engine's reference tables.

    python3 bench/check_gen.py <reference_sf_dir> [sf] [seed]

Generates one scale factor's tables with gen.py (sf 0.1 and seed 1 by
default) and compares them, table by table and column by column, with
the reference parquet files in <reference_sf_dir> (the read-only
tables TESTDATA.md describes):

- row counts, column names and order, and the parquet physical and
  logical type of every column (timestamp units included);
- per column whose values repeat (at most 100 distinct ones, each ten
  times on average): the value set and each value's share (within five
  standard errors);
- per other numeric or timestamp column: the distribution (two-sample
  Kolmogorov-Smirnov test at the 0.001 level) and whether it is
  sorted; the share of whole-day timestamps; the share of doubles with
  more than two decimals;
- per other string column: the number of distinct values (within five
  times its square root) and the distribution of lengths;
- `documents`: the share of "<text> dup" near-duplicates, the word
  vocabulary and the words per text;
- `embeddings`: the vector length, the norms and the distribution of
  the elements.

Prints every failed comparison and a summary; exits 1 if any failed.
"""
import collections
import os
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

FEW = 100
# two-sample Kolmogorov-Smirnov critical value at the 0.001 level
KS_C = 1.95


class Report:
    def __init__(self):
        self.n, self.bad = 0, []

    def same(self, what, got, want):
        self.n += 1
        if got != want:
            self.bad.append(f"{what}: {got!r} != {want!r}")

    def near(self, what, got, want, tol):
        self.n += 1
        if abs(got - want) > tol:
            self.bad.append(f"{what}: {got:.6g} vs {want:.6g} "
                            f"(tolerance {tol:.3g})")


def numbers(col):
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    return col.to_numpy(zero_copy_only=False).astype(np.float64)


def physical(path):
    s = pq.ParquetFile(path).schema
    return [(s.column(i).name, s.column(i).physical_type,
             str(s.column(i).logical_type)) for i in range(len(s))]


def ks_distance(a, b):
    """Largest distance between the two samples' empirical CDFs."""
    a, b = np.sort(a), np.sort(b)
    at = np.concatenate([a, b])
    return float(np.max(np.abs(np.searchsorted(a, at, side="right") / len(a)
                               - np.searchsorted(b, at, side="right")
                               / len(b))))


def compare_numbers(r, what, got, want):
    """Same distribution (two-sample KS test at the 0.001 level) and
    the same order."""
    n, m = len(got), len(want)
    r.near(f"{what} KS distance", ks_distance(got, want), 0.0,
           KS_C * ((n + m) / (n * m)) ** 0.5)
    r.same(f"{what} sorted", bool(np.all(np.diff(got) >= 0)),
           bool(np.all(np.diff(want) >= 0)))


def compare_values(r, what, got, want):
    """Value set and shares of a column with few distinct values;
    False (nothing compared) for one with many."""
    g, w = collections.Counter(got), collections.Counter(want)
    if len(w) > FEW or len(want) < 10 * len(w):
        r.near(f"{what} distinct", len(g), len(w), 5 * len(w) ** 0.5)
        return False
    r.same(f"{what} values", sorted(g), sorted(w))
    for v in w:
        p = w[v] / len(want)
        # five standard errors of the difference of two samples' shares
        r.near(f"{what} share of {v!r}", g[v] / len(got), p,
               max(0.005, 5 * (p * (1 - p) * (1 / len(got) +
                                              1 / len(want))) ** 0.5))
    return True


def compare_strings(r, what, got, want):
    if not compare_values(r, what, got, want):
        compare_numbers(r, f"{what} length",
                        np.array([len(x) for x in got], np.float64),
                        np.array([len(x) for x in want], np.float64))


def compare_table(r, name, got, ref_path, got_path):
    want = pq.read_table(ref_path)
    r.same(f"{name} rows", got.num_rows, want.num_rows)
    r.same(f"{name} columns", got.column_names, want.column_names)
    r.same(f"{name} parquet types", physical(got_path), physical(ref_path))
    for c in want.column_names:
        if c not in got.column_names:
            continue
        g, w, what = got[c], want[c], f"{name}.{c}"
        if pa.types.is_list(w.type):
            ga = np.stack(g.to_numpy(zero_copy_only=False))
            wa = np.stack(w.to_numpy(zero_copy_only=False))
            r.same(f"{what} length", ga.shape[1], wa.shape[1])
            gn, wn = (np.linalg.norm(x, axis=1) for x in (ga, wa))
            r.near(f"{what} norm min", gn.min(), wn.min(), 1e-3)
            r.near(f"{what} norm max", gn.max(), wn.max(), 1e-3)
            compare_numbers(r, f"{what} elements", ga.ravel(), wa.ravel())
        elif pa.types.is_string(w.type):
            compare_strings(r, what, g.to_pylist(), w.to_pylist())
        else:
            gn, wn = numbers(g), numbers(w)
            if not compare_values(r, what, gn.tolist(), wn.tolist()):
                compare_numbers(r, what, gn, wn)
            if pa.types.is_timestamp(w.type):
                day = 86_400 * 10 ** {"s": 0, "ms": 3, "us": 6,
                                      "ns": 9}[w.type.unit]
                r.near(f"{what} whole-day share", np.mean(gn % day == 0),
                       np.mean(wn % day == 0), 0.01)
            elif pa.types.is_floating(w.type):
                r.near(f"{what} share beyond two decimals",
                       np.mean(np.abs(np.round(gn, 2) - gn) > 1e-9),
                       np.mean(np.abs(np.round(wn, 2) - wn) > 1e-9), 0.01)


def compare_documents(r, got, want):
    def profile(t):
        texts = t["text"].to_pylist()
        plain = [x for x in texts if not x.endswith(" dup")]
        words = [len(x.split()) for x in plain]
        return {"dup share": 1 - len(plain) / len(texts),
                "vocabulary": sorted({w for x in texts for w in x.split()}),
                "fewest words": min(words), "most words": max(words),
                "n_chars is the text length": pc.all(pc.equal(
                    t["n_chars"], pc.utf8_length(t["text"]))).as_py()}
    g, w = profile(got), profile(want)
    r.near("documents dup share", g.pop("dup share"), w.pop("dup share"),
           0.005)
    for k in w:
        r.same(f"documents {k}", g[k], w[k])


def main(ref_dir, sf=0.1, seed=1):
    r = Report()
    # generated files go to the benchmark's ignored scratch directory
    work = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        tables = gen.write(tmp, sf, seed)
        for name in gen.TABLES:
            compare_table(r, name, tables[name],
                          os.path.join(ref_dir, f"{name}.parquet"),
                          os.path.join(tmp, f"{name}.parquet"))
    compare_documents(r, tables["documents"],
                      pq.read_table(os.path.join(ref_dir,
                                                 "documents.parquet")))
    for b in r.bad:
        print(f"DIFFERS {b}")
    print(f"== {r.n - len(r.bad)}/{r.n} comparisons agree "
          f"(sf {sf}, seed {seed}) ==")
    return 1 if r.bad else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    sys.exit(main(args[0], float(args[1]) if len(args) > 1 else 0.1,
                  int(args[2]) if len(args) > 2 else 1))
