"""Seeded input generator for the benchmark's workloads.

Everything the program sees comes from here: the same seed writes
byte-identical files, and a different seed writes a different key set.
`gen_bulk` also writes `expect.json`, the outcome the program must
reproduce (row count and price sum), so the benchmark can check every run
against it.

Shapes and sizes follow the repo's synthetic TPC-H-like testdata (orders,
customer, lineitem, documents, embeddings, events, ...), generated here
from the seed so the benchmark reads nothing outside its checkout.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ORDER_STATUS = ["O", "F", "P"]
ORDER_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
# epoch microseconds
US_PER_DAY = 86_400_000_000
DAY_1995 = 9131    # 1995-01-01
DAY_2001 = 11535   # 2001-08-01
DAY_2024 = 19723   # 2024-01-01

# row counts of the repo's sf0.1 testdata
SF01 = dict(customer=15_000, orders=150_000, lineitem=600_000, part=20_000,
            supplier=1_000, documents=5_000, embeddings=2_000, events=100_000)


def _write_parquet(table, path):
    # fixed writer settings: the same table always gives the same bytes
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)


def _ts(us):
    return pa.array(us, type=pa.timestamp("us"))


def _orders(rng, keys, n_customers):
    n = len(keys)
    names = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "o_orderdate", "o_orderpriority"]
    cols = [
        pa.array(np.asarray(keys, dtype=np.int64)),
        pa.array(rng.integers(0, n_customers, n, dtype=np.int64)),
        pa.array(np.array(ORDER_STATUS, dtype=object)[rng.integers(0, 3, n)]),
        pa.array(rng.integers(100_000, 50_000_000, n) / 100.0),
        _ts(rng.integers(DAY_1995, DAY_2001, n).astype(np.int64) * US_PER_DAY),
        pa.array(np.array(ORDER_PRIORITY, dtype=object)[rng.integers(0, 5, n)]),
    ]
    return pa.Table.from_arrays(cols, names=names)


# -------------------------------------------------------------- bulk_load

def gen_bulk(out, seed, rows, warm_rows):
    """One clean single-file orders drop of `rows` rows in seeded row order,
    plus a warm-up file of `warm_rows` rows with disjoint keys."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    base = int(seed) * 1_000_000_000
    keys = base + rng.permutation(rows).astype(np.int64) * 7
    orders = _orders(rng, keys, 150_000)
    _write_parquet(orders, os.path.join(out, "orders_bulk.parquet"))
    wkeys = base + 900_000_000 + np.arange(warm_rows, dtype=np.int64)
    _write_parquet(_orders(rng, wkeys, 150_000), os.path.join(out, "orders_warm.parquet"))
    # the price sum in cents, as the benchmark's read-back computes it
    cents = int(np.rint(orders["o_totalprice"].to_numpy() * 100).astype(np.int64).sum())
    expect = {"file": "orders_bulk.parquet", "rows": rows, "price_cents": cents}
    with open(os.path.join(out, "expect.json"), "w") as f:
        json.dump(expect, f, indent=1, sort_keys=True)
    return expect


# ------------------------------------------------------------ query_suite

def gen_suite(out, seed, scale=1.0):
    """The ten tables the query suite reads, at the row counts of sf0.1
    times `scale`, with floors that keep every query's input non-trivial
    at small scales."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)

    def n(table, floor):
        return max(floor, int(SF01[table] * scale))

    n_cust, n_ord, n_line = n("customer", 150), n("orders", 1500), n("lineitem", 6000)
    n_part, n_supp = n("part", 200), n("supplier", 10)
    n_docs, n_emb, n_ev = n("documents", 500), n("embeddings", 500), n("events", 1000)

    def put(name, table):
        _write_parquet(table, os.path.join(out, f"{name}.parquet"))

    put("region", pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                            "r_name": REGIONS}))
    put("nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    ckeys = np.arange(n_cust, dtype=np.int64)
    put("customer", pa.table({
        "c_custkey": pa.array(ckeys),
        "c_name": [f"Customer#{k:09d}" for k in ckeys],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": rng.integers(-99_999, 999_999, n_cust) / 100.0,
        "c_mktsegment": np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]}))
    put("orders", _orders(rng, np.arange(n_ord), n_cust))
    put("supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": rng.integers(50_000, 700_000, n_supp) / 100.0}))
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget"]
    put("part", pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 7, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"],
                           dtype=object)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": 900.0 + (np.arange(n_part) % 200) / 10.0}))
    put("lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": rng.integers(90_000, 10_500_000, n_line) / 100.0,
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)],
        "l_shipdate": _ts(rng.integers(DAY_1995 + 1, DAY_2001 + 95, n_line).astype(np.int64)
                          * US_PER_DAY)}))

    # documents: random text over a small vocabulary; ~5 % are near-copies
    # of an earlier document with trailing "dup" tokens
    texts = []
    for i in range(n_docs):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup" * int(rng.integers(1, 4)))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[w] for w in rng.integers(0, len(WORDS), k)))
    put("documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))}))

    centers = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_emb)
    vecs = centers[labels] + 0.8 * rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    put("embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32))}))

    ts = np.sort(rng.integers(DAY_2024 * US_PER_DAY, (DAY_2024 + 30) * US_PER_DAY, n_ev))
    put("events", pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts(ts.astype(np.int64)),
        "user_id": pa.array(rng.integers(0, max(15, n_ev // 70), n_ev, dtype=np.int64)),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.exponential(100.0, n_ev), 560.0), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
