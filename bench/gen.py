"""Seeded input generator for the benchmark.

Writes the ten corpus tables the engine's queries read (the TPC-H-like
star schema, the `events` stream table, `documents` and `embeddings`)
as parquet, with the schema (parquet types included: timestamps are
microseconds), row counts and value distributions of the engine's
reference tables: money-like doubles carry at most two decimals, dates
are whole days, `documents` holds 5 % near-duplicate "<other text> dup"
rows and `embeddings` holds unit-norm 64-d float vectors.
`check_gen.py` compares the output with the reference tables. The same
seed always gives byte-identical values.

`churn(...)` splits one scale factor's `documents` and `embeddings` into
a base and shard files for the index_churn workload.

Run by hand:  python3 bench/gen.py <out_dir> <sf> <seed>
"""
import os
import sys
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
DAY_US = 86_400_000_000
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def counts(sf):
    """Row counts per table at scale factor `sf`."""
    n = lambda base, lo=1: max(lo, int(round(base * sf)))
    return {"customer": n(150_000), "supplier": n(10_000),
            "part": n(200_000), "orders": n(1_500_000),
            "lineitem": n(6_000_000), "events": n(1_000_000),
            "documents": n(50_000, 500), "embeddings": n(20_000, 500),
            "users": n(15_000, 15)}


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us").astype(np.int64)
    return pa.array(base + rng.integers(0, span, n) * DAY_US,
                    pa.timestamp("us"))


def _texts(rng, n):
    lens = rng.integers(10, 100, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(VOCAB[w] for w in words[at:at + k]))
        at += k
    # 5 % near-duplicates: an earlier-or-later doc's text plus a marker
    for i in rng.choice(n, size=n // 20, replace=False):
        out[i] = out[int(rng.integers(0, n))] + " dup"
    return out


def _rng(seed, name):
    """Each table draws from its own stream, so a subset of the tables
    has the same values as the full set."""
    return np.random.Generator(np.random.PCG64([seed, zlib.crc32(
        name.encode())]))


def tables(sf, seed, names=None):
    """{name: pyarrow.Table} for the corpus tables at `sf` (all, or the
    given `names`)."""
    want = set(names or TABLES)
    c = counts(sf)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    if "region" in want:
        t["region"] = pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    if "nation" in want:
        t["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    if "customer" in want:
        rng = _rng(seed, "customer")
        n = c["customer"]
        t["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(n), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n),
            "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n)]})
    if "supplier" in want:
        rng = _rng(seed, "supplier")
        n = c["supplier"]
        t["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(n), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(rng.integers(0, 25, n), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n)})
    if "part" in want:
        rng = _rng(seed, "part")
        n = c["part"]
        keys = np.arange(n)
        t["part"] = pa.table({
            "p_partkey": pa.array(keys, i64),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n), rng.integers(0, 8, n))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n)],
            "p_type": [PTYPES[i] for i in rng.integers(0, 6, n)],
            "p_size": pa.array(rng.integers(1, 51, n), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})
    if "orders" in want:
        rng = _rng(seed, "orders")
        n = c["orders"]
        t["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(n), i64),
            "o_custkey": pa.array(rng.integers(0, c["customer"], n), i64),
            "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, n),
            "o_orderdate": _days(rng, "1995-01-01", 2405, n),
            "o_orderpriority": [PRIOS[i] for i in rng.integers(0, 5, n)]})
    if "lineitem" in want:
        rng = _rng(seed, "lineitem")
        n = c["lineitem"]
        t["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), i64),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), i64),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n), i32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, n),
            "l_discount": _money(rng, 0.0, 0.10, n),
            "l_tax": _money(rng, 0.0, 0.08, n),
            "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n)],
            "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n)],
            "l_shipdate": _days(rng, "1995-01-02", 2498, n)})
    if "events" in want:
        rng = _rng(seed, "events")
        n = c["events"]
        start = np.datetime64("2024-01-01", "us").astype(np.int64)
        ts = np.sort(rng.integers(0, 30 * DAY_US, n))
        t["events"] = pa.table({
            "event_id": pa.array(np.arange(n), i64),
            "ts": pa.array(start + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, c["users"], n), i64),
            "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]})
    if "documents" in want:
        rng = _rng(seed, "documents")
        n = c["documents"]
        texts = _texts(rng, n)
        t["documents"] = pa.table({
            "doc_id": pa.array(np.arange(n), i64),
            "text": texts,
            "lang": [LANGS[i] for i in rng.choice(5, size=n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": pa.array([len(x) for x in texts], i64)})
    if "embeddings" in want:
        rng = _rng(seed, "embeddings")
        n = c["embeddings"]
        e = rng.standard_normal((n, 64)).astype(np.float32)
        e /= np.linalg.norm(e, axis=1, keepdims=True)
        t["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(n), i64),
            "embedding": pa.array(list(e), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), i32)})
    return t


def write(out_dir, sf, seed, names=None):
    """Write the tables as `<out_dir>/<name>.parquet`; returns them."""
    os.makedirs(out_dir, exist_ok=True)
    ts = tables(sf, seed, names)
    for name, tbl in ts.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return ts


# index_churn's split: one shard after a 60 % base; the shard
# re-submits 10 % of the rows that arrived before it; 3 % of all rows
# are deleted; 20 probes
SHARDS, BASE_SHARE, RESUBMIT_SHARE, DELETE_SHARE, PROBES = 1, 0.6, 0.1, \
    0.03, 20


def churn(out_dir, docs, embs, seed):
    """Split `documents` and `embeddings` into base + shard files.

    Rows keep their content but get fresh ids in arrival order (base
    first, then shard 0, 1, ...), so every family's smaller-id-wins
    rule agrees with arrival order. Each shard also re-submits a seeded
    share of earlier rows (same content, new id): these are the exact
    duplicates that drive the "dup" verdict paths. A seeded share of
    all rows, base and shards, is marked for deletion. The probes are
    copies of seeded live rows under ids no stored row has.

    Writes <out_dir>/{docs,embs}/{base,shard_<k>,dead,probe}.parquet and
    returns {"docs": {...}, "embs": {...}} with row counts and the
    payload bytes ingested and live."""
    rng = np.random.Generator(np.random.PCG64(seed ^ 0x5EED))
    plan = {}
    for kind, tbl, key in (("docs", docs, "doc_id"),
                           ("embs", embs, "vec_id")):
        tbl = tbl.drop_columns([c for c in ("label",) if c in
                                tbl.column_names])
        n = tbl.num_rows
        order = rng.permutation(n)
        n_base = int(n * BASE_SHARE)
        fresh = np.array_split(order[n_base:], SHARDS)
        arrived = list(order[:n_base])
        parts = [order[:n_base]]
        for chunk in fresh:
            k = int(len(arrived) * RESUBMIT_SHARE / SHARDS)
            again = rng.choice(np.array(arrived), size=k, replace=False)
            part = np.concatenate([chunk, again])
            rng.shuffle(part)
            parts.append(part)
            arrived.extend(chunk)
        d = os.path.join(out_dir, kind)
        os.makedirs(d, exist_ok=True)
        next_id, ids, subs = 0, [], []
        for j, src in enumerate(parts):
            new_ids = np.arange(next_id, next_id + len(src))
            next_id += len(src)
            ids.append(new_ids)
            sub = tbl.take(pa.array(src))
            sub = sub.set_column(sub.column_names.index(key), key,
                                 pa.array(new_ids, pa.int64()))
            subs.append(sub)
            name = "base" if j == 0 else f"shard_{j - 1}"
            path = os.path.join(d, f"{name}.parquet")
            pq.write_table(sub, path)
            # file streams deliver in modification-time order
            os.utime(path, (1_000_000 + j, 1_000_000 + j))
        all_rows = pa.concat_tables(subs)
        every = np.concatenate(ids)
        dead = np.sort(rng.choice(
            every, size=max(1, int(len(every) * DELETE_SHARE)),
            replace=False))
        pq.write_table(all_rows.filter(pc.is_in(
            all_rows[key], pa.array(dead, pa.int64()))),
            os.path.join(d, "dead.parquet"))
        live = np.setdiff1d(every, dead)
        pick = rng.choice(live, size=PROBES, replace=False)
        probe = all_rows.filter(pc.is_in(
            all_rows[key], pa.array(pick, pa.int64())))
        # probes carry ids beyond every stored row, so a serve call
        # never confuses a probe with its own stored twin
        probe = probe.set_column(probe.column_names.index(key), key,
                                 pa.array(np.arange(next_id, next_id +
                                                    probe.num_rows),
                                          pa.int64()))
        pq.write_table(probe, os.path.join(d, "probe.parquet"))
        # payload bytes per row: the id plus the text or the vector
        if kind == "docs":
            size = np.array([8 + len(x.encode()) for x in
                             all_rows["text"].to_pylist()])
        else:
            size = np.full(all_rows.num_rows, 8 + 4 * 64)
        is_live = ~np.isin(all_rows[key].to_numpy(), dead)
        plan[kind] = {"base_rows": int(subs[0].num_rows),
                      "ingested_bytes": int(size.sum()),
                      "live_bytes": int(size[is_live].sum()),
                      "shard_rows": [int(len(x)) for x in ids[1:]],
                      "dead": int(len(dead)), "live": int(len(live))}
    return plan


if __name__ == "__main__":
    write(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
