"""Deterministic synthetic corpus ("lake") for the join-search benchmark.

Writes the nine catalog tables the inverted index is built from
(customer, documents, events, lineitem, nation, orders, part, region,
supplier) as one parquet file each, with the TPC-H-like shapes and
value vocabularies of the project's sf test corpora. The lake is fixed
by (scale, seed); the benchmark's --seed only varies the query side.
"""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_WEIGHTS = [0.14, 0.41, 0.15, 0.15, 0.15]
WORDS = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
         "fast", "filter", "group", "hash", "join", "key", "line", "merge",
         "order", "part", "query", "row", "scan", "slow", "small", "sort",
         "spark", "stream", "table", "the", "value", "vector", "window"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
TABLES = ["customer", "documents", "events", "lineitem", "nation", "orders",
          "part", "region", "supplier"]

# Row counts at scale 1.0 (the sf0.1 corpus has a tenth of each).
BASE_ROWS = {"customer": 150_000, "orders": 1_500_000, "lineitem": 6_000_000,
             "part": 200_000, "supplier": 10_000, "documents": 50_000,
             "events": 1_000_000}


def rows_at(scale, table):
    return max(1, int(round(BASE_ROWS[table] * scale)))


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _write(path, columns):
    pq.write_table(pa.table(columns), path)


def customer_name(key):
    return "Customer#%09d" % key


def generate_lake(out_dir, scale, seed=42):
    """Write the lake into `out_dir` (created); returns the table names."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = rows_at(scale, "customer")
    n_ord = rows_at(scale, "orders")
    n_part = rows_at(scale, "part")
    n_supp = rows_at(scale, "supplier")

    keys = np.arange(n_cust, dtype=np.int64)
    _write(f"{out_dir}/customer.parquet", {
        "c_custkey": keys,
        "c_name": [customer_name(k) for k in keys],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })

    _write(f"{out_dir}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": _pick(rng, STATUSES, n_ord),
        "o_totalprice": np.round(rng.uniform(900, 500000, n_ord), 2),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })

    # lineitem: ~4 lines per order, (l_orderkey, l_linenumber) unique.
    n_li_target = rows_at(scale, "lineitem")
    lines = rng.integers(1, 8, n_ord)
    lines = np.minimum(lines, 7)
    orderkeys = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    starts = np.cumsum(lines) - lines
    linenos = (np.arange(len(orderkeys)) - np.repeat(starts, lines) + 1).astype(np.int32)
    if len(orderkeys) > n_li_target:
        orderkeys, linenos = orderkeys[:n_li_target], linenos[:n_li_target]
    n_li = len(orderkeys)
    _write(f"{out_dir}/lineitem.parquet", {
        "l_orderkey": orderkeys,
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": linenos,
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
    })

    names = [f"{a} {n}" for a in ADJECTIVES for n in NOUNS]
    _write(f"{out_dir}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": np.asarray([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], dtype=object),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
    })

    skeys = np.arange(n_supp, dtype=np.int64)
    _write(f"{out_dir}/supplier.parquet", {
        "s_suppkey": skeys,
        "s_name": ["Supplier#%09d" % k for k in skeys],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
    })

    n_doc = rows_at(scale, "documents")
    lengths = rng.integers(8, 90, n_doc)
    words = _pick(rng, WORDS, int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - l:e]) for e, l in zip(ends, lengths)]
    _write(f"{out_dir}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc, p=LANG_WEIGHTS),
        "source": np.asarray([f"src{s}" for s in rng.integers(0, 20, n_doc)], dtype=object),
    })

    n_ev = rows_at(scale, "events")
    _write(f"{out_dir}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "user_id": rng.integers(0, 1500, n_ev, dtype=np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": np.asarray(['{"k": %d}' % k for k in rng.integers(0, 100, n_ev)], dtype=object),
    })

    _write(f"{out_dir}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    _write(f"{out_dir}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": REGIONS,
    })
    return TABLES
