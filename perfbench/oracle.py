"""Answer checks for the join-search benchmark, against the DuckDB
oracle SQL the engine's own `SearchOracle` generates.

The oracle's index CTEs are materialized once per (lake, index SQL)
into a DuckDB file and reused; every query is then checked with the
oracle's `tableScores` statement over that table. Ingest cycles are
checked against base + landed rows, plus a freshness rule: the rows
landed in a cycle raise the expected table's score and no other.
"""

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor

import duckdb

PREFETCH_WORKERS = 4
CHECKED_PHASES = ("loop", "layer")   # warm-up and priming are never measured


class Oracle:
    def __init__(self, lake_dir, cache_dir, tables, index_ctes, landed_ctes):
        self.prefix = "WITH " + index_ctes + ",\n  "
        self.landed_ctes = landed_ctes
        self.memo = {}
        fp = hashlib.sha256(index_ctes.encode())
        for t in tables:
            st = os.stat(f"{lake_dir}/{t}.parquet")
            fp.update(f"{t}:{st.st_size}".encode())
        path = f"{cache_dir}/oracle-{fp.hexdigest()[:16]}.duckdb"
        if not os.path.exists(path):
            os.makedirs(cache_dir, exist_ok=True)
            tmp = path + ".tmp"
            if os.path.exists(tmp):
                os.remove(tmp)
            con = duckdb.connect(tmp)
            for t in tables:
                con.execute(f"CREATE TEMP VIEW {t} AS SELECT * FROM "
                            f"read_parquet('{os.path.abspath(lake_dir)}/{t}.parquet')")
            con.execute(f"CREATE TABLE idxf_base AS WITH {index_ctes} "
                        "SELECT key, table_id, column_id, row_id FROM idxf")
            con.close()
            os.replace(tmp, path)
        self.con = duckdb.connect(path)
        self.use_index(None)

    def use_index(self, delta):
        """Point the `idxf` the oracle reads at the base index, plus the
        postings table `delta` when given."""
        extra = f" UNION ALL SELECT * FROM {delta}" if delta else ""
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW idxf AS SELECT * FROM idxf_base{extra}")
        self.index = delta

    def _body(self, sql):
        if not sql.startswith(self.prefix):
            raise ValueError("oracle statement does not start with the index CTEs")
        return "WITH " + sql[len(self.prefix):]

    def scores(self, sql):
        """Rows (table_id, join_score) of one `SearchOracle.tableScores`
        statement, over the current index."""
        key = (self.index, sql)
        if key not in self.memo:
            self.memo[key] = [tuple(r) for r in self.con.execute(self._body(sql)).fetchall()]
        return self.memo[key]

    def prefetch(self, sqls):
        """Answer statements over the base index on parallel cursors."""
        todo = sorted({s for s in sqls if (None, s) not in self.memo})

        def run(chunk):
            cur = self.con.cursor()
            cur.execute("CREATE OR REPLACE TEMP VIEW idxf AS SELECT * FROM idxf_base")
            return [(s, [tuple(r) for r in cur.execute(self._body(s)).fetchall()]) for s in chunk]
        w = PREFETCH_WORKERS
        with ThreadPoolExecutor(w) as pool:
            for part in pool.map(run, [todo[i::w] for i in range(w)]):
                for s, rows in part:
                    self.memo[(None, s)] = rows

    def land(self, name, files):
        """Materialize the postings of the landed row files as `name`."""
        listing = ", ".join(f"'{f}'" for f in files)
        self.con.execute(f"CREATE OR REPLACE TEMP VIEW landed_rows AS "
                         f"SELECT * FROM read_parquet([{listing}])")
        self.con.execute(f"CREATE OR REPLACE TEMP TABLE {name} AS WITH {self.landed_ctes} "
                         "SELECT key, table_id, column_id, row_id FROM idxf")


def answer_rows(record):
    """Engine answer of a request, per query id, as (table_id, score)."""
    out = {q: [] for q in record["query_ids"]}
    for qid, tid, score in record["answer"]:
        out.setdefault(qid, []).append((tid, score))
    return out


def fresh(expected, previous, table):
    """True when `expected` differs from `previous` exactly by a higher
    score for `table`."""
    e, p = dict(expected), dict(previous)
    return e.get(table, 0) > p.get(table, 0) and \
        {t: s for t, s in e.items() if t != table} == {t: s for t, s in p.items() if t != table}


def delta_name(stream, files):
    """Oracle table of the rows landed so far in `stream`, or None."""
    return f"delta_{stream}_{len(files)}" if files else None


def check(result, oracle, cycles):
    """Verdict (True / reason string) for every request of
    CHECKED_PHASES in `result`; other requests (warm-up, priming) are
    not measured and not checked, but their landed rows count.

    `cycles` maps ingest cycle id -> plan entry; each cycle's landed
    file joins the rows of its stream, in the order the cycles ran."""
    sqls = result["oracle"]["queries"]
    try:
        oracle.prefetch([sqls[q] for r in result["requests"]
                         if r["kind"] != "cycle" and r["phase"] in CHECKED_PHASES
                         for q in r["query_ids"]])
    except Exception:
        pass  # each request's own check below reports the failure
    verdicts = {}
    landed = {}
    for r in result["requests"]:
        if r["kind"] == "cycle":
            files = landed.setdefault(r["stream"], [])
            prev = delta_name(r["stream"], files)
            if os.path.exists(r["landed"]):
                files.append(r["landed"])
                oracle.land(delta_name(r["stream"], files), files)
            cur = delta_name(r["stream"], files)
        if r["phase"] not in CHECKED_PHASES:
            continue
        if r["error"]:
            verdicts[r["id"]] = "error: " + r["error"]
            continue
        got = answer_rows(r)
        try:
            if r["kind"] != "cycle":
                oracle.use_index(None)
                bad = [q for q in r["query_ids"] if got[q] != oracle.scores(sqls[q])]
                verdicts[r["id"]] = True if not bad else f"wrong answer for {bad}"
                continue
            c = cycles[r["cycle"]]
            q = c["query"]["id"]
            oracle.use_index(cur)
            expected = oracle.scores(sqls[q])
            oracle.use_index(prev)
            previous = oracle.scores(sqls[q])
            if got[q] != expected:
                verdicts[r["id"]] = f"wrong answer for {q}"
            elif not fresh(expected, previous, c["expect_table"]):
                verdicts[r["id"]] = f"landed rows did not raise only table {c['expect_table']}"
            else:
                verdicts[r["id"]] = True
        except Exception as e:  # an unanswerable check is a failed request
            verdicts[r["id"]] = f"check failed: {e}"
    return verdicts
