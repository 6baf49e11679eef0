"""Seeded generator of the sf0.1 analytics tables.

Writes the ten tables the registry reads (``region`` ... ``embeddings``),
one snappy parquet file each, with the schemas, row counts and value
distributions of the project's sf0.1 fixtures (FIXTURES.md): uniform keys
and measures, 1-7 lineitems per order numbered 1..k (so (l_orderkey,
l_linenumber) is unique, as FIXTURES.md states, and an ORDER BY on it has
no ties), TPC-H-style label sets, a January-2024 event stream, a
30-word pseudo-text corpus with 5 % "dup" near-duplicates and a few exact
copies, and 64-dimensional unit embeddings with random labels.

Only the benchmark writes these files; the program reads them through
``graft.Tables`` exactly as it reads the fixtures.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS = {"customer": 15000, "supplier": 1000, "part": 20000, "orders": 150000,
        "lineitem": 600000, "events": 100000, "documents": 5000,
        "embeddings": 2000}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]

US_PER_DAY = 86_400_000_000


def _days(start, n_days, size, rng):
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days + 1, size) * US_PER_DAY


def _ts(values):
    return pa.array(values, pa.timestamp("us"))


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def _money(rng, lo, hi, size):
    return np.round(rng.uniform(lo, hi, size), 2)


def _lines_per_order(rng, orders, total):
    """1..7 lines per order (uniform, mean 4), nudged by one line at random
    orders until they sum to exactly `total`."""
    k = rng.integers(1, 8, orders)
    diff = total - int(k.sum())
    room = np.flatnonzero(k < 7 if diff > 0 else k > 1)
    k[rng.choice(room, abs(diff), replace=False)] += 1 if diff > 0 else -1
    return k


def generate(out, seed=42):
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = ROWS

    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    ck = np.arange(n["customer"], dtype=np.int64)
    _write(out, "customer", {
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, ck.size), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, ck.size),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, ck.size)]})

    sk = np.arange(n["supplier"], dtype=np.int64)
    _write(out, "supplier", {
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, sk.size), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, sk.size)})

    pk = np.arange(n["part"], dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pk,
        "p_name": [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, pk.size), rng.integers(0, 8, pk.size))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, pk.size)],
        "p_type": [P_TYPES[i] for i in rng.integers(0, 6, pk.size)],
        "p_size": pa.array(rng.integers(1, 51, pk.size), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1)})

    ok = np.arange(n["orders"], dtype=np.int64)
    _write(out, "orders", {
        "o_orderkey": ok,
        "o_custkey": rng.integers(0, n["customer"], ok.size, dtype=np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, ok.size)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, ok.size),
        "o_orderdate": _ts(_days("1995-01-01", 2404, ok.size, rng)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, ok.size)]})

    m = n["lineitem"]
    lines = _lines_per_order(rng, ok.size, m)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    _write(out, "lineitem", {
        "l_orderkey": np.repeat(ok, lines),
        "l_partkey": rng.integers(0, n["part"], m, dtype=np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], m, dtype=np.int64),
        "l_linenumber": pa.array(np.arange(m) - first + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, m),
        "l_discount": np.round(rng.uniform(0.0, 0.10, m), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, m), 2),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, m)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, m)],
        "l_shipdate": _ts(_days("1995-01-02", 2498, m, rng))})

    e = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    _write(out, "events", {
        "event_id": np.arange(e, dtype=np.int64),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * US_PER_DAY, e))),
        "user_id": rng.integers(0, 1500, e, dtype=np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.round(rng.exponential(50.0, e), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})

    d = n["documents"]
    texts = []
    for i in range(d):
        r = rng.random()
        if i > 0 and r < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        elif i > 0 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])
        else:
            k = rng.integers(10, 101)
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    _write(out, "documents", {
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})

    v = n["embeddings"]
    emb = rng.normal(size=(v, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(v, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, v), pa.int32())})


if __name__ == "__main__":
    import sys
    import time
    t = time.time()
    generate(sys.argv[1], int(sys.argv[2]) if len(sys.argv) > 2 else 42)
    print(f"tables written in {time.time() - t:.1f} s")
