"""Seeded generator for the TPC-H-style parquet fixture the registry queries read.

Writes `region nation customer supplier part orders lineitem events documents
embeddings` (one parquet each) with the column names, physical types and value
distributions of the project's standard fixture (FIXTURES.md): uniform foreign
keys, day-granular dates, an event stream with increasing timestamps, a 31-word
document corpus with near and exact clones, and unit-norm 64-dim embeddings
clustered by label. Row counts scale with `sf` (lineitem = 6M x sf).

Run: python3 perfbench/fixture.py <out_dir> <sf> <seed>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_ADJ = ["blue", "old", "large", "hot", "cold", "red", "small", "new"]
P_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def documents(rng, n):
    texts = []
    for d in range(n):
        if d > 0 and d % 512 == 511:
            words = texts[-1].split(" ")
        elif d > 0 and d % 64 == 63:
            words = texts[-1].split(" ")[:-2] + list(rng.choice(VOCAB, 2))
        else:
            words = list(rng.choice(VOCAB, int(rng.integers(10, 101))))
        texts.append(" ".join(words))
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{d % 20}" for d in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }


def embeddings(rng, n, dim=64, labels=10):
    centers = rng.normal(0, 1, (labels, dim))
    label = rng.integers(0, labels, n)
    v = centers[label] * 0.35 + rng.normal(0, 1, (n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    }


def generate(out, sf, seed):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_doc, n_vec = int(50_000 * sf), int(20_000 * sf)
    s = lambda xs: pa.array(list(xs), pa.string())
    pick = lambda xs, n: s(np.asarray(xs)[rng.integers(0, len(xs), n)])

    write(out, "region", {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                          "r_name": s(REGIONS)})
    write(out, "nation", {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                          "n_name": s(f"NATION_{i}" for i in range(25)),
                          "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": s(f"Customer#{i:09d}" for i in range(n_cust)),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pick(SEGMENTS, n_cust)})
    write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": s(f"Supplier#{i:09d}" for i in range(n_supp)),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(money(rng, -999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": s(f"{a} {b}" for a, b in zip(np.asarray(P_ADJ)[rng.integers(0, 8, n_part)],
                                                np.asarray(P_NOUN)[rng.integers(0, 8, n_part)])),
        "p_brand": s(f"Brand#{b}" for b in rng.integers(1, 26, n_part)),
        "p_type": pick(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 1))})
    write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": pick(["F", "O", "P"], n_ord),
        "o_totalprice": pa.array(money(rng, 1000, 500000, n_ord)),
        "o_orderdate": pa.array(days(rng, "1995-01-01", 2404, n_ord)),
        "o_orderpriority": pick(PRIORITIES, n_ord)})
    write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(money(rng, 900, 105000, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pick(["A", "N", "R"], n_line),
        "l_linestatus": pick(["F", "O"], n_line),
        "l_shipdate": pa.array(days(rng, "1995-01-02", 2498, n_line))})
    gaps = rng.exponential(30 * 86400 / n_ev, n_ev)
    ts = np.datetime64("2024-01-01", "us") + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]")
    write(out, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": pick(EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50, n_ev), 2)),
        "props": s(f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev))})
    write(out, "documents", documents(rng, n_doc))
    write(out, "embeddings", embeddings(rng, n_vec))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]), int(sys.argv[3]))
