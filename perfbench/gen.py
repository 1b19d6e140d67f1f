"""Seeded input generator for the benchmark.

Writes the engine's ten source tables (region, nation, customer,
supplier, part, orders, lineitem, events, documents, embeddings) as one
parquet file each, in the layout and with the value distributions of
the engine's reference test corpora (TPC-H-like star schema, an events
stream, a small text corpus with ~5% near-duplicates, unit-norm
embeddings). The same (scale, copies, seed) always gives the same bytes.

`copies` > 1 derives a larger corpus from the generated base the way a
growing deployment grows: every key domain shifts by copy × (domain
max + 1), so each equi-join lands on its own copy and per-key
cardinalities stay as they were; document text goes through a per-copy
bijective character map over [a-z0-9] (affine i -> a*i + b mod 36), so
token structure within a copy is kept and vocabularies across copies
are disjoint; dimension tables are copied verbatim.

Usage: python3 gen.py OUT_DIR --scale 0.001 --copies 1 --seed 7
"""
import argparse
import math
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"])
PTYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "click", "error", "view", "purchase"])
ALPHA = "abcdefghijklmnopqrstuvwxyz0123456789"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _days(rng, n, start, end):
    """n midnight timestamps (µs) uniform over [start, end] dates."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(scale, seed):
    """The base corpus at `scale` (1.0 = 6 M lineitem rows)."""
    rng = np.random.default_rng(seed)
    n_cust = max(15, int(round(150_000 * scale)))
    n_supp = max(10, int(round(10_000 * scale)))
    n_part = max(20, int(round(200_000 * scale)))
    n_ord = max(100, int(round(1_500_000 * scale)))
    n_line = max(400, int(round(6_000_000 * scale)))
    n_evt = max(1000, int(round(1_000_000 * scale)))
    n_users = max(15, n_cust // 10)
    n_docs = max(500, int(round(50_000 * scale)))
    n_vecs = max(500, int(round(20_000 * scale)))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)]})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": PTYPES[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["O", "P", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)]})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04")})
    # events: strictly increasing µs timestamps over 30 days, ids in ts order
    span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, n_evt, replace=False)) + \
        np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": EVENT_TYPES[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    # documents: 10..100 words; 5% are an earlier document + " dup"
    words = np.array(WORDS)
    texts = []
    for i in range(n_docs):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))].removesuffix(" dup") + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS), int(rng.integers(10, 101)))]))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": LANGS[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64)})
    # embeddings: 10 labelled clusters in 64-d, unit norm
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.008, (10, 64))
    vecs = centers[labels] + rng.normal(0.0, 0.125, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))})
    return t


def char_perms(k):
    """The k per-copy alphabet bijections; copy 0 is the identity."""
    n = len(ALPHA)
    units = [a for a in range(1, n) if math.gcd(a, n) == 1]
    assert k <= len(units) * n, f"at most {len(units) * n} distinct bijections"
    return ["".join(ALPHA[(units[r // n] * i + r % n) % n] for i in range(n))
            for r in range(k)]


def derive(base, copies):
    """The base corpus replicated `copies` times with shifted key domains."""
    if copies == 1:
        return base

    def dmax(table, c):
        return int(np.max(base[table][c].to_numpy())) + 1

    cust, order = dmax("customer", "c_custkey"), dmax("orders", "o_orderkey")
    event, doc = dmax("events", "event_id"), dmax("documents", "doc_id")
    vec, label = dmax("embeddings", "vec_id"), dmax("embeddings", "label")
    shifts = {"customer": {"c_custkey": cust},
              "orders": {"o_orderkey": order, "o_custkey": cust},
              "lineitem": {"l_orderkey": order},
              # events.user_id equi-joins c_custkey
              "events": {"event_id": event, "user_id": cust},
              "embeddings": {"vec_id": vec, "label": label},
              "documents": {"doc_id": doc}}
    perms = char_perms(copies)
    out = {}
    for name, tbl in base.items():
        if name not in shifts:
            out[name] = tbl
            continue
        parts = []
        for c in range(copies):
            cols = {}
            for f in tbl.schema:
                arr = tbl[f.name]
                if f.name in shifts[name]:
                    v = arr.to_numpy() + c * shifts[name][f.name]
                    arr = pa.array(v.astype(arr.type.to_pandas_dtype()), type=arr.type)
                elif name == "documents" and f.name == "text":
                    tr = str.maketrans(ALPHA, perms[c])
                    arr = pa.array([s.lower().translate(tr) for s in arr.to_pylist()])
                cols[f.name] = arr
            parts.append(pa.table(cols, schema=tbl.schema))
        out[name] = pa.concat_tables(parts).combine_chunks()
    return out


def write(tables, out_dir):
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
        pq.write_table(tbl, tmp)
        os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--scale", type=float, required=True)
    ap.add_argument("--copies", type=int, default=1)
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args(argv)
    write(derive(base_tables(a.scale, a.seed), a.copies), a.out_dir)


if __name__ == "__main__":
    sys.exit(main())
