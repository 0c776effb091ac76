"""Deterministic synthetic fixture tables for the benchmark.

Writes the ten base tables the engine's gates read (region, nation,
customer, supplier, part, orders, lineitem, events, documents,
embeddings), one snappy parquet file each, with the column names and
physical types of the repository's TPC-H-ish test fixtures
(FIXTURES.md): uniform keys with referential integrity, ~5% of the
documents planted as near-duplicates (an earlier text plus " dup"), and
embeddings clustered around one unit centroid per label.

Usage: python3 perfbench/fixture.py <dstDir> <sf>
"""
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["red", "small", "hot", "old", "large", "blue", "cold", "new"]
NOUNS = ["plate", "widget", "ring", "rod", "bolt", "gizmo", "gear", "anvil"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()
EMBED_DIM = 64
SEED = 42
DAY_US = 86_400_000_000


def epoch_us(y, m, d):
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "us").astype(np.int64))


def ts_col(us):
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def write(dst, name, cols):
    pq.write_table(pa.table(cols), os.path.join(dst, f"{name}.parquet"),
                   compression="snappy")


def documents(rng, n):
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(WORDS, k)) for k in lens]
    # plant near-duplicates: copy an earlier text and append a marker
    # word, sometimes chained, then shuffle so copies are not adjacent
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    texts = [texts[i] for i in rng.permutation(n)]
    ids = np.arange(n, dtype=np.int64)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def embeddings(rng, n):
    centroids = rng.standard_normal((10, EMBED_DIM))
    centroids /= np.linalg.norm(centroids, axis=1, keepdims=True)
    labels = rng.integers(0, 10, n).astype(np.int32)
    x = 0.14 * centroids[labels] + rng.standard_normal((n, EMBED_DIM)) / 8.0
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.array(list(x.astype(np.float32)), type=pa.list_(pa.float32()))
    return {"vec_id": np.arange(n, dtype=np.int64), "embedding": vecs,
            "label": labels}


def generate(dst, sf):
    rng = np.random.default_rng(SEED)
    os.makedirs(dst, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))

    write(dst, "region", {"r_regionkey": np.arange(5, dtype=np.int32),
                          "r_name": REGIONS})
    write(dst, "nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                          "n_name": [f"NATION_{i}" for i in range(25)],
                          "n_regionkey": np.arange(25, dtype=np.int32) % 5})
    write(dst, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust)})
    write(dst, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": money(rng, -999.99, 9999.99, n_supp)})
    pk = np.arange(n_part, dtype=np.int64)
    write(dst, "part", {
        "p_partkey": pk,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(ADJECTIVES, n_part),
                                              rng.choice(NOUNS, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2)})
    o_lo, o_days = epoch_us(1995, 1, 1), 2404
    write(dst, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": ts_col(o_lo + rng.integers(0, o_days, n_ord) * DAY_US),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord)})
    l_lo, l_days = epoch_us(1995, 1, 2), 2499
    write(dst, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": ts_col(l_lo + rng.integers(0, l_days, n_li) * DAY_US)})
    # arrivals spread over 30 days, strictly increasing with event_id
    gaps = rng.exponential(1.0, n_ev)
    ts = epoch_us(2024, 1, 1) + np.cumsum(gaps / gaps.sum() * 30 * DAY_US * 0.999)
    write(dst, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_col(ts.astype(np.int64)),
        "user_id": rng.integers(0, max(1, n_cust // 10), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    write(dst, "documents", documents(rng, n_doc))
    write(dst, "embeddings", embeddings(rng, n_emb))


if __name__ == "__main__":
    generate(sys.argv[1], float(sys.argv[2]))
