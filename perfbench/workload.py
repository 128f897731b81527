"""Seeded request streams for the join-search benchmark.

Everything the engine sees is written here, before any timing: query
tables as parquet files and a plan (JSON) listing the requests in
order. The same seed yields the same query specs, the same Zipf
sequence and the same ingest micro-batches.
"""

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# shape -> (corpus table, query columns, corpus table id)
SHAPES = {
    "customer": ("customer", ["c_name", "c_mktsegment"], 1),
    "orders": ("orders", ["o_orderstatus", "o_orderpriority"], 6),
    "part": ("part", ["p_name", "p_brand", "p_type"], 7),
}
SHAPE_ORDER = ["customer", "orders", "part"]
MIN_ROWS, MAX_ROWS = 100, 1500
BATCH_SIZE = 8
POOL_SIZE = 8
ZIPF_S = 1.1
INGEST_ROWS = 1000          # corpus rows landed per ingest cycle
COMPACT_EVERY = 4
PREFIXES = ["prep", "probe", "conjunction", "full"]
GOLDEN = (math.sqrt(5) - 1) / 2
PRIME_SEARCHES = 6          # unmeasured fresh searches before an unseen loop
WARMUP_QUERIES = 1          # searches at the end of set-up, never measured
LAYER_ROUNDS = 6            # traced layer section: one query per shape per round;
                            # each shape's twin pairs run once in each order
EVICT_QUERIES = 64          # distinct search plans, one DfCache family cap's worth
EVICT_ROWS = 4              # rows per eviction-probe query table

# independent seed streams, so e.g. the warm-up never shares a query
# with the measured loop
STREAM_WARMUP, STREAM_LOOP, STREAM_PRIME, STREAM_LAYER = 1, 2, 3, 4


def rng_for(seed, stream):
    return np.random.default_rng([seed, stream])


def zipf_sequence(rng, n_items, length):
    """`length` draws over `n_items` ranks with P(rank k) ~ 1/k^ZIPF_S,
    mapped through a seeded permutation so the hot items differ by seed."""
    weights = 1.0 / np.arange(1, n_items + 1) ** ZIPF_S
    ranks = rng.choice(n_items, size=length, p=weights / weights.sum())
    perm = rng.permutation(n_items)
    return [int(perm[r]) for r in ranks]


class LakeRows:
    """The columns of the lake the generators sample from."""

    def __init__(self, lake_dir):
        def cols(table, names):
            t = pq.read_table(f"{lake_dir}/{table}.parquet", columns=names)
            return {n: t.column(n).to_numpy(zero_copy_only=False) for n in names}
        self.customer = cols("customer", ["c_custkey", "c_name", "c_mktsegment"])
        self.orders = cols("orders", ["o_orderstatus", "o_orderpriority"])
        self.part = cols("part", ["p_partkey", "p_name", "p_brand", "p_type"])
        self.n_orders = len(self.orders["o_orderstatus"])
        self.n_customer = len(self.customer["c_custkey"])
        self.n_part = len(self.part["p_partkey"])


def query_table(rng, rows, shape, n):
    """A query table of `n` rows of `shape`: mostly rows of the corpus
    table, with some that join nothing (an unknown value) so the
    conjunction has work to reject."""
    if shape == "customer":
        idx = rng.choice(rows.n_customer, n, replace=False)
        names = rows.customer["c_name"][idx].copy()
        segs = rows.customer["c_mktsegment"][idx].copy()
        miss = rng.random(n) < 0.1
        names[miss] = ["Customer#9%08d" % k for k in rng.integers(0, 10**8, miss.sum())]
        return {"c_name": names, "c_mktsegment": segs}
    if shape == "orders":
        idx = rng.choice(rows.n_orders, n, replace=False)
        return {"o_orderstatus": rows.orders["o_orderstatus"][idx],
                "o_orderpriority": rows.orders["o_orderpriority"][idx]}
    idx = rng.choice(rows.n_part, n, replace=False)
    brands = rows.part["p_brand"][idx].copy()
    miss = rng.random(n) < 0.1
    brands[miss] = "Brand#99"
    return {"p_name": rows.part["p_name"][idx], "p_brand": brands,
            "p_type": rows.part["p_type"][idx]}


class Generator:
    """Writes query tables under `qdir` and returns their plan entries."""

    def __init__(self, rows, qdir):
        self.rows = rows
        self.qdir = qdir
        self.count = 0
        os.makedirs(qdir, exist_ok=True)

    def _write(self, prefix, shape, columns):
        self.count += 1
        qid = f"{prefix}{self.count}"
        path = os.path.abspath(f"{self.qdir}/{qid}.parquet")
        pq.write_table(pa.table(columns), path)
        return {"id": qid, "path": path, "cols": SHAPES[shape][1], "shape": shape,
                "rows": len(next(iter(columns.values())))}

    def query(self, rng, prefix, shape, n=None):
        if n is None:
            n = int(rng.integers(MIN_ROWS, MAX_ROWS + 1))
        return self._write(prefix, shape, query_table(rng, self.rows, shape, n))

    def rotation(self, rng, prefix, count, offset=0):
        """`count` fresh queries with shapes in fixed rotation and, per
        shape, sizes spread evenly over [MIN_ROWS, MAX_ROWS] by a
        golden-ratio sequence from a seeded start: any run of requests
        holds the same mix of shapes and sizes, so percentiles do not
        swing with the draw."""
        start = rng.random(3)
        out = []
        for i in range(count):
            s = (offset + i) % 3
            u = (start[s] + (i // 3) * GOLDEN) % 1.0
            n = MIN_ROWS + int(round(u * (MAX_ROWS - MIN_ROWS)))
            out.append(self.query(rng, prefix, SHAPE_ORDER[s], n))
        return out

    def cycle(self, rng, k, stream):
        """Ingest cycle `k` of `stream`: a staged micro-batch of re-keyed
        copies of customer and part rows, and a query drawn from this
        cycle's copies, whose expected answer raises one table's score."""
        half = INGEST_ROWS // 2
        c = rng.choice(self.rows.n_customer, half, replace=False)
        p = rng.choice(self.rows.n_part, INGEST_ROWS - half, replace=False)
        rest = INGEST_ROWS - half
        ckeys = (self.rows.n_customer + k * half + np.arange(half)).tolist()
        pkeys = (self.rows.n_part + k * rest + np.arange(rest)).tolist()
        none_c, none_p = [None] * half, [None] * rest
        cust, part = self.rows.customer, self.rows.part
        batch = pa.table({
            "tbl": ["customer"] * half + ["part"] * rest,
            "c_custkey": pa.array(ckeys + none_p, pa.int64()),
            "c_name": cust["c_name"][c].tolist() + none_p,
            "c_mktsegment": cust["c_mktsegment"][c].tolist() + none_p,
            "p_partkey": pa.array(none_c + pkeys, pa.int64()),
            "p_name": none_c + part["p_name"][p].tolist(),
            "p_brand": none_c + part["p_brand"][p].tolist(),
            "p_type": none_c + part["p_type"][p].tolist(),
        })
        landed = f"{stream}-cycle-{k:04d}.parquet"
        staged = os.path.abspath(f"{self.qdir}/staged-{landed}")
        pq.write_table(batch, staged)
        shape = "customer" if k % 2 == 0 else "part"
        n = int(rng.integers(MIN_ROWS, half + 1))
        pick = rng.choice(half, n, replace=False)
        if shape == "customer":
            cols = {"c_name": cust["c_name"][c][pick], "c_mktsegment": cust["c_mktsegment"][c][pick]}
        else:
            cols = {"p_name": part["p_name"][p][pick], "p_brand": part["p_brand"][p][pick],
                    "p_type": part["p_type"][p][pick]}
        q = self._write("i", shape, cols)
        return {"id": f"{stream}-c{k}", "staged": staged, "landed": landed, "query": q,
                "compact": k % COMPACT_EVERY == 0,
                "expect_table": SHAPES[shape][2]}


def search_item(q):
    return {"kind": "search", "query": q}


def loop_capacity(workload, seconds):
    """Upper bound on the requests one run can reach, with headroom: the
    loop stops at the deadline, and running out early is reported."""
    per_second = {"unseen": 6, "repeat": 20, "batch": 1, "ingest": 1.5}[workload]
    return int(math.ceil(per_second * seconds)) + 10


def build_plan(workload, seed, seconds, trace, rows, qdir):
    """The plan `Serve` executes; its `loop` is the measured request
    stream, and with `trace` its `layer` is the fixed traced section,
    the same on every workload."""
    gen = Generator(rows, qdir)
    plan = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace}
    plan["warmup"] = gen.rotation(rng_for(seed, STREAM_WARMUP), "w", WARMUP_QUERIES)
    loop_rng = rng_for(seed, STREAM_LOOP)
    prime_rng = rng_for(seed, STREAM_PRIME)
    cap = loop_capacity(workload, seconds)
    if workload == "unseen":
        plan["prime"] = [search_item(q) for q in gen.rotation(prime_rng, "v", PRIME_SEARCHES)]
        plan["loop"] = [search_item(q) for q in gen.rotation(loop_rng, "u", cap)]
    elif workload == "repeat":
        pool = gen.rotation(loop_rng, "p", POOL_SIZE)
        plan["prime"] = [search_item(q) for q in pool]
        plan["loop"] = [search_item(pool[i]) for i in zipf_sequence(loop_rng, POOL_SIZE, cap)]
    elif workload == "batch":
        plan["prime"] = [{"kind": "batch", "queries": gen.rotation(prime_rng, "b", BATCH_SIZE)}]
        plan["loop"] = [{"kind": "batch", "queries": gen.rotation(loop_rng, "b", BATCH_SIZE, i)}
                        for i in range(cap)]
    elif workload == "ingest":
        # priming runs one whole compaction period, so the loop's cycles
        # run warm and the loop starts where a period starts
        plan["prime"] = [{"kind": "cycle", "cycle": gen.cycle(prime_rng, k, "main")}
                         for k in range(1, COMPACT_EVERY + 1)]
        plan["loop"] = [{"kind": "cycle", "cycle": gen.cycle(loop_rng, k, "main")}
                        for k in range(COMPACT_EVERY + 1, COMPACT_EVERY + cap + 1)]
    else:
        raise ValueError(f"unknown workload {workload}")
    if trace:
        rng = rng_for(seed, STREAM_LAYER)
        prefix = []
        for r in range(LAYER_ROUNDS):
            for j, p in enumerate(PREFIXES):
                prefix.append({"prefix": p, "query": gen.query(rng, "x", SHAPE_ORDER[(r + j) % 3])})
            # an untraced twin of the full search, same shape and size;
            # the pair's order alternates by round
            full = prefix[-1]["query"]
            twin = {"prefix": "untraced", "query": gen.query(rng, "x", full["shape"], full["rows"])}
            prefix.insert(len(prefix) - r % 2, twin)
        plan["layer"] = {
            "prefix": prefix,
            "repeat": [s["query"] for s in prefix if s["prefix"] == "full"],
            "batch": gen.rotation(rng, "xb", BATCH_SIZE),
            "ingest": [gen.cycle(rng, k, "layer") for k in range(1, COMPACT_EVERY + 1)],
            "evict": [gen.query(rng, "xe", "customer", EVICT_ROWS) for _ in range(EVICT_QUERIES)],
        }
    return plan
