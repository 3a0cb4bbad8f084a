"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
import build  # noqa: E402
import check  # noqa: E402
import metrics as M  # noqa: E402
import plan as P  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.supported_percentile(200), 95.0)
        self.assertEqual(M.supported_percentile(199), 90.0)
        self.assertEqual(M.supported_percentile(1000), 99.0)
        self.assertEqual(M.supported_percentile(10000), 99.9)
        self.assertEqual(M.supported_percentile(20), 50.0)
        self.assertIsNone(M.supported_percentile(19))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 95), 95)
        self.assertEqual(M.percentile([7.0], 95), 7.0)
        self.assertEqual(M.percentile([3, 1, 2], 50), 2)


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(M.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(M.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(M.union_length([]), 0)

    def test_idle_is_span_time_without_jobs(self):
        self.assertEqual(M.idle((0, 10), [(1, 3), (2, 4), (8, 12)]), 5)
        self.assertEqual(M.idle((0, 10), []), 10)
        self.assertEqual(M.idle((0, 10), [(-5, 15)]), 0)

    def test_cpu_util(self):
        self.assertAlmostEqual(M.cpu_util(8.0, 4.0, 4), 0.5)
        self.assertEqual(M.cpu_util(1.0, 0.0, 4), 0.0)


class LayerTest(unittest.TestCase):
    def test_jobs_attribute_by_group_then_by_time(self):
        spans = [
            {"id": "s1", "layer": "graph", "start": 0, "eager_end": 4, "end": 10},
            {"id": "s2", "layer": "lake", "start": 20, "eager_end": 20, "end": 30},
        ]
        jobs = [
            {"id": 0, "group": "s1", "start": 1, "end": 3, "stages": [0]},
            {"id": 1, "group": "", "start": 22, "end": 26, "stages": [1, 2]},
        ]
        # stage, launch, finish, cpu ns, gc ms, shuffle bytes, spill, failed, attempt
        tasks = [[0, 1, 3, 2e9, 100, 1e6, 0, False, 0],
                 [1, 22, 24, 1e9, 0, 0, 2e6, False, 0],
                 [2, 24, 26, 1e9, 0, 0, 0, True, 1]]
        out = M.layer_metrics(spans, jobs, tasks, cores=2)
        g, lk = out["graph"], out["lake"]
        self.assertEqual((g["calls"], g["jobs"], g["tasks"]), (1, 1, 1))
        self.assertAlmostEqual(g["wall_s"], 0.010)
        self.assertAlmostEqual(g["eager_s"], 0.004)
        self.assertAlmostEqual(g["idle_s"], 0.008)
        self.assertAlmostEqual(g["cpu_s"], 2.0)
        self.assertAlmostEqual(g["cpu_util"], 2.0 / (0.010 * 2))
        self.assertEqual((lk["jobs"], lk["tasks"], lk["task_failures"]), (1, 2, 1))
        self.assertAlmostEqual(lk["spill_mb"], 2.0)
        self.assertEqual(out["sim"]["calls"], 0)


class SeedTest(unittest.TestCase):
    def test_op_order_is_a_seeded_permutation(self):
        ops = P.WORKLOADS["batch_precompute"]["ops"]
        self.assertEqual(P.op_order(7, ops), P.op_order(7, ops))
        self.assertEqual(sorted(P.op_order(7, ops)), sorted(ops))
        self.assertTrue(any(P.op_order(s, ops) != P.op_order(7, ops) for s in range(8)))

    def test_request_stream_is_seeded(self):
        a, b = P.request_stream(3, 300), P.request_stream(3, 300)
        self.assertEqual(a, b)
        self.assertNotEqual(a, P.request_stream(4, 300))
        kinds = {p["kind"] for r in a for p in r["parts"]}
        self.assertEqual(kinds, {"search_counts", "search_page", "report", "topk", "enrich"})
        self.assertTrue(all(p["sql"].startswith("SELECT") for r in a for p in r["parts"]))

    def test_requests_follow_the_gui_actions(self):
        reqs = P.request_stream(5, 400)
        first = [r["parts"][0]["kind"] for r in reqs]
        for kind in ("search_counts", "report", "topk", "enrich"):
            self.assertEqual(first[:200].count(kind), 50)
        self.assertNotEqual(first, [r["parts"][0]["kind"] for r in P.request_stream(6, 400)])
        parts = [p for r in reqs for p in r["parts"]]
        self.assertTrue(all(p["k"] == P.DEFAULT_K for p in parts if "k" in p))
        self.assertTrue(all(p["page"] == 0 for p in parts if p["kind"] == "search_page"))

    def test_cache_sql_orders_then_limits(self):
        sql = P.cache_sql("degree_hist", "SELECT 1 AS outDegree")
        self.assertTrue(sql.endswith("ORDER BY outDegree ASC LIMIT 20"))
        self.assertNotIn("LIMIT", P.cache_sql("size_buckets", "SELECT 1"))

    def test_search_page_sql(self):
        sql = P.part_sql({"kind": "search_page", "status": "O", "min_price": 5.0,
                          "k": 20, "page": 3})
        self.assertIn("o_orderstatus = 'O' AND o_totalprice >= 5.0", sql)
        self.assertTrue(sql.endswith("LIMIT 20 OFFSET 60"))


class CheckTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(build.build_dir(), exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=build.build_dir())
        d = self.tmp.name
        import duckdb
        con = duckdb.connect()
        con.sql("CREATE TABLE orders AS SELECT range AS o_orderkey, "
                "range * 1.5 AS o_totalprice FROM range(10)")
        con.sql(f"COPY orders TO '{d}/orders.parquet' (FORMAT parquet)")
        os.makedirs(f"{d}/out/q")
        con.sql(f"COPY (SELECT * FROM orders WHERE o_orderkey < 4) "
                f"TO '{d}/out/q/part.parquet' (FORMAT parquet)")
        self.con = duckdb.connect()
        self.con.sql(f"CREATE VIEW orders AS SELECT * FROM '{d}/orders.parquet'")

    def tearDown(self):
        self.tmp.cleanup()

    def result(self, sql, hashes=("h", "h")):
        return {"records": [{"op": "q", "ok": True, "rows": 4, "hash": h} for h in hashes],
                "oracle_sql": {"q": sql}, "outputs": {"q": f"{self.tmp.name}/out/q"}}

    def test_matching_oracle_passes(self):
        sql = "SELECT * FROM orders WHERE o_orderkey < 4 ORDER BY o_orderkey DESC"
        self.assertEqual(check.check_ops(self.con, self.result(sql)), {"q": None})

    def test_wrong_expected_hash_fails(self):
        sql = "SELECT o_orderkey, o_totalprice + 1 AS o_totalprice FROM orders WHERE o_orderkey < 4"
        self.assertIsNotNone(check.check_ops(self.con, self.result(sql))["q"])

    def test_pass_to_pass_drift_fails(self):
        sql = "SELECT * FROM orders WHERE o_orderkey < 4"
        out = check.check_ops(self.con, self.result(sql, hashes=("a", "b")))
        self.assertEqual(out["q"], "output differs between passes")

    def test_wrong_table_fails(self):
        path = f"{self.tmp.name}/out/q"
        self.assertIsNone(check.check_table(
            self.con, path, "SELECT * FROM orders WHERE o_orderkey < 4"))
        self.assertIsNotNone(check.check_table(
            self.con, path, "SELECT * FROM orders WHERE o_orderkey < 5"))

    def test_request_check_is_ordered(self):
        req = {"parts": [{"kind": "topk", "sql": P.part_sql({"kind": "topk", "k": 2})
                          .replace("o_custkey, ", "").replace(", o_orderpriority", "")}]}
        good = [[[9, 13.5], [8, 12.0]]]
        self.assertIsNone(check.check_request(self.con, req, good, ""))
        self.assertIsNotNone(check.check_request(self.con, req, [good[0][::-1]], ""))


if __name__ == "__main__":
    unittest.main()
