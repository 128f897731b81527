"""Self-tests of the benchmark's own code (no engine needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import math
import os
import shutil
import tempfile
import unittest

import pyarrow.parquet as pq

import lake
import metrics
import oracle
import run
import workload

with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 50), (50, 50))
        self.assertEqual(metrics.percentile(xs, 90), (90, 10))
        self.assertEqual(metrics.percentile([3.0, 1.0, 2.0], 90), (3.0, 0))
        self.assertEqual(metrics.percentile([7.0], 50), (7.0, 0))

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)


class StubOracle:
    """Answers every query with one fixed row."""

    def use_index(self, delta):
        pass

    def scores(self, sql):
        return [(1, 5)]

    def prefetch(self, sqls):
        pass


class FailureCountingTest(unittest.TestCase):
    def request(self, rid, answer, error=None):
        return {"id": rid, "phase": "loop", "kind": "search", "query_ids": ["q"],
                "answer": answer, "error": error, "wall_s": 0.5}

    def run_check(self, records):
        result = {"requests": records, "oracle": {"queries": {"q": "sql"}}}
        verdicts = oracle.check(result, StubOracle(), {})
        return verdicts, metrics.count_failures(records, verdicts)

    def test_correct_answers_do_not_fail(self):
        _, (attempted, failed) = self.run_check([self.request("a", [["q", 1, 5]])])
        self.assertEqual((attempted, failed), (1, 0))

    def test_wrong_answer_counts_as_failed(self):
        recs = [self.request("a", [["q", 1, 5]]), self.request("b", [["q", 1, 6]])]
        verdicts, (attempted, failed) = self.run_check(recs)
        self.assertEqual((attempted, failed), (2, 1))
        self.assertIn("wrong answer", verdicts["b"])

    def test_exception_counts_as_failed_and_never_drops_out(self):
        recs = [self.request("a", [["q", 1, 5]]), self.request("b", [], "java.lang.Boom")]
        verdicts, (attempted, failed) = self.run_check(recs)
        self.assertEqual((attempted, failed), (2, 1))
        lat = metrics.latencies(recs, verdicts)
        self.assertEqual(len(lat), 2)
        self.assertTrue(math.isinf(lat[1]))

    def test_missing_verdict_is_a_failure(self):
        self.assertEqual(metrics.count_failures([self.request("a", [])], {}), (1, 1))

    def test_freshness_rule(self):
        self.assertTrue(oracle.fresh([(1, 9), (6, 3)], [(1, 7), (6, 3)], 1))
        self.assertFalse(oracle.fresh([(1, 7), (6, 3)], [(1, 7), (6, 3)], 1))
        self.assertFalse(oracle.fresh([(1, 9), (6, 4)], [(1, 7), (6, 3)], 1))


class SelfTimeTest(unittest.TestCase):
    def test_prefix_subtraction(self):
        prefix = {"prep": [1.0, 1.0, 5.0], "probe": [3.0, 2.0, 4.0],
                  "conjunction": [6.0], "full": [10.0, 9.0, 11.0]}
        got = metrics.prefix_self_times(prefix, workload.PREFIXES)
        self.assertEqual(got, {"prep": 1.0, "probe": 2.0, "conjunction": 3.0, "full": 4.0})
        self.assertAlmostEqual(sum(got.values()), metrics.median(prefix["full"]))

    def test_covered_time_is_the_union_clipped_to_the_span(self):
        self.assertEqual(metrics.covered_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)
        self.assertEqual(metrics.covered_ms([(0, 10), (5, 15), (20, 30)], 8, 25), 12)
        self.assertEqual(metrics.covered_ms([], 0, 10), 0)


class LayerMetricsTest(unittest.TestCase):
    """Every per-layer metric comes from the fixed layer section, so it
    does not depend on what the workload's loop held."""

    @staticmethod
    def result(loop):
        def req(rid, section, kind="search", wall=1.0, new=0, parts=None, qids=("q",)):
            return {"id": rid, "phase": "layer", "kind": kind, "section": section,
                    "query_ids": list(qids), "traced": section != "untraced", "t0": 0,
                    "t1": int(wall * 1000), "wall_s": wall, "error": None, "answer": [],
                    "parts": parts or {}, "cache": {"new": new, "evicted": 0}}
        cycle = lambda k, extra: req(f"c{k}", "cycle", "cycle", 2.0,
                                     parts={"maintain_s": 0.5, "delta_bytes": 16000,
                                            "live_parts": k, "resolve_s": 0.2, **extra})
        reqs = loop + [
            req("f1", "full", wall=1.5, new=3), req("u1", "untraced", wall=1.4),
            req("r1", "repeat", wall=0.5), req("e1", "recompute", wall=1.2, new=3),
            req("b1", "batch", "batch", 6.4, qids=[f"q{i}" for i in range(8)]),
            cycle(1, {}), cycle(2, {"compact_s": 0.4})]
        groups = {"f1": {"jobs": 15, "job_intervals": [[0, 1000]]}, "setup-build": {"jobs": 12}}
        spans = [{"id": p, "prefix": p, "t0": 0, "t1": 1000, "probed_postings": 10,
                  "matched_pairs": 2} for p in ("prep", "probe", "conjunction")]
        setup = {k: 1.0 for k in ("total_s", "session_start_s", "snapshot_build_s",
                                  "persist_s", "key_stats_s", "warmup_s")}
        return {"requests": reqs, "groups": groups, "spans": spans, "setup": setup,
                "evict": {"evicted": 40}, "storage_mb": 2.0, "snapshot_bytes": 9,
                "corpus_bytes": 10}

    def test_layer_metrics_ignore_the_loop(self):
        loop = lambda n: [{"id": f"l{i}", "phase": "loop", "kind": "cycle", "wall_s": 3.0,
                           "error": None} for i in range(n)]
        one = run.layer(self.result(loop(1)), {"l0": True}, 4, 1000)
        many = run.layer(self.result(loop(9)), {f"l{i}": True for i in range(9)}, 4, 1000)
        self.assertEqual(set(one), {m["name"] for m in BENCH["per_layer"]})
        self.assertTrue(all(math.isfinite(v) for v, _ in one.values()))
        self.assertEqual(one, many)
        self.assertEqual(one["ingest.compact_s"][0], 0.4)
        self.assertAlmostEqual(one["trace.overhead_s"][0], 0.1)


class SeededGenerationTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        lake.generate_lake(f"{cls.tmp}/lake", 0.01)
        cls.rows = workload.LakeRows(f"{cls.tmp}/lake")

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def plan(self, wl, seed, name, trace=False):
        return workload.build_plan(wl, seed, 2, trace, self.rows, f"{self.tmp}/{name}")

    @staticmethod
    def specs(plan):
        """Plan entries with file paths replaced by file contents."""
        def norm(x):
            if isinstance(x, dict):
                return {k: (pq.read_table(v).to_pylist() if k in ("path", "staged") else norm(v))
                        for k, v in x.items()}
            if isinstance(x, list):
                return [norm(v) for v in x]
            return x
        return norm(plan)

    def test_same_seed_same_specs(self):
        for wl in ["unseen", "repeat", "batch", "ingest"]:
            a = self.specs(self.plan(wl, 7, f"{wl}-a", trace=True))
            b = self.specs(self.plan(wl, 7, f"{wl}-b", trace=True))
            self.assertEqual(a, b, wl)
            c = self.specs(self.plan(wl, 8, f"{wl}-c", trace=True))
            self.assertNotEqual(a["loop"], c["loop"], wl)

    def test_same_seed_same_zipf_sequence(self):
        seq = lambda s: workload.zipf_sequence(workload.rng_for(s, 2), 16, 500)
        self.assertEqual(seq(3), seq(3))
        self.assertNotEqual(seq(3), seq(4))
        counts = [seq(3).count(i) for i in range(16)]
        self.assertGreater(max(counts), 4 * sorted(counts)[8])   # skewed

    def test_query_sizes_and_shape_rotation(self):
        plan = self.plan("unseen", 1, "rot")
        shapes = [item["query"]["shape"] for item in plan["loop"]]
        self.assertEqual(shapes[:6], workload.SHAPE_ORDER * 2)
        for item in plan["loop"]:
            n = pq.read_metadata(item["query"]["path"]).num_rows
            self.assertTrue(workload.MIN_ROWS <= n <= workload.MAX_ROWS)

    def test_warmup_never_shares_a_query_with_the_loop(self):
        plan = self.plan("unseen", 1, "warm")
        warm = {pq.read_table(q["path"]).to_pylist().__repr__() for q in plan["warmup"]}
        loop = {pq.read_table(i["query"]["path"]).to_pylist().__repr__() for i in plan["loop"]}
        self.assertFalse(warm & loop)


if __name__ == "__main__":
    unittest.main()
