"""Tests of the benchmark's own math and input generation (no Spark needed).

Run from the repository root: python3 perfbench/test_perfbench.py
"""
import decimal
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402

import metrics  # noqa: E402
import workloads  # noqa: E402

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


class PercentileRule(unittest.TestCase):
    def test_needs_ten_samples_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 0.9), 90)  # 10 beyond
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(xs, 0.95)  # only 5 beyond
        with self.assertRaises(metrics.TooFewSamples):
            metrics.percentile(list(range(19)), 0.5)  # 9 beyond
        self.assertEqual(metrics.percentile(list(range(20)), 0.5), 9)

    def test_highest_supported_percentile(self):
        self.assertIsNone(metrics.highest_percentile(19))
        self.assertEqual(metrics.highest_percentile(20), 0.5)
        self.assertEqual(metrics.highest_percentile(99), 0.75)
        self.assertEqual(metrics.highest_percentile(100), 0.9)
        self.assertEqual(metrics.highest_percentile(200), 0.95)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3), (10, 12)]), 12)
        self.assertEqual(metrics.union_length([(5, 5), (7, 6)]), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # a 100 ms query whose jobs overlap: 10-40 and 30-60 cover 50 ms
        ops = [{"id": "q#0", "kind": "a", "ok": True, "start": 0.0,
                "constructed": 5.0, "end": 100.0}]
        res = fake_result(ops, jobs=[(0, "q#0", "execute", 10, 40),
                                     (1, "q#0", "execute", 30, 60)])
        m = metrics.per_layer(res, 4, None, {})
        self.assertAlmostEqual(m["spark.driver_gap_s"], 0.050)
        self.assertEqual(m["spark.jobs"], 2)


class SelfTime(unittest.TestCase):
    def test_children_are_clipped_and_merged(self):
        self.assertEqual(metrics.self_time((0, 100), []), 100)
        self.assertEqual(metrics.self_time((0, 100), [(10, 30), (20, 40)]), 70)
        self.assertEqual(metrics.self_time((0, 100), [(-10, 10), (90, 120)]), 80)

    def test_span_tree_self_times(self):
        ops = [{"id": "q#0", "kind": "a", "ok": True, "start": 0.0,
                "constructed": 20.0, "end": 100.0}]
        res = fake_result(ops, jobs=[(0, "q#0", "execute", 40, 90)],
                          stages=[(0, 0, 45, 85)],
                          phases=[{"start": 25, "end": 35}])
        spans = metrics.spans(res)
        self.assertEqual([s["name"] for s in spans],
                         ["query", "construct", "plan", "execute", "job", "stage"])
        st = metrics.self_times(spans)
        self.assertEqual(st["query"], 5)      # 20-25 between construct and plan
        self.assertEqual(st["construct"], 20)
        self.assertEqual(st["plan"], 10)
        self.assertEqual(st["execute"], 15)   # 35-100 minus the 40-90 job
        self.assertEqual(st["job"], 10)
        self.assertEqual(st["stage"], 40)


class Fingerprint(unittest.TestCase):
    def test_order_and_float_noise_do_not_matter(self):
        rows = [{"a": 1, "b": 0.1 + 0.2, "c": "x"}, {"a": 2, "b": None, "c": "y"}]
        noisy = [{"c": "y", "b": None, "a": 2},
                 {"c": "x", "b": 0.3 * (1 + 1e-15), "a": 1}]
        self.assertEqual(metrics.fingerprint_rows(["a", "b", "c"], rows),
                         metrics.fingerprint_rows(["c", "b", "a"], noisy))

    def test_equal_values_across_types(self):
        f = metrics.fingerprint_rows
        self.assertEqual(f(["v"], [{"v": 5}]), f(["v"], [{"v": 5.0}]))
        self.assertEqual(f(["v"], [{"v": 0.0}]), f(["v"], [{"v": -0.0}]))
        self.assertEqual(f(["v"], [{"v": decimal.Decimal("1.50")}]),
                         f(["v"], [{"v": 1.5}]))
        self.assertEqual(f(["v"], [{"v": float("nan")}]), f(["v"], [{"v": None}]))

    def test_differences_are_seen(self):
        f = metrics.fingerprint_rows
        base = f(["a"], [{"a": 1}, {"a": 2}])
        self.assertNotEqual(base, f(["a"], [{"a": 1}, {"a": 3}]))
        self.assertNotEqual(base, f(["b"], [{"b": 1}, {"b": 2}]))
        self.assertNotEqual(base, f(["a"], [{"a": 1}, {"a": 2}, {"a": 2}]))
        self.assertNotEqual(f(["v"], [{"v": 0.1}]), f(["v"], [{"v": 0.1000001}]))

    def test_engine_representations_agree(self):
        """The same aggregate as DECIMAL and as DOUBLE, in two row orders,
        fingerprints identically (a small scale of the oracle comparison)."""
        con = duckdb.connect()
        li = f"read_parquet('{DATA}/lineitem.parquet')"
        q = ("SELECT l_returnflag AS f, CAST(SUM(l_quantity) AS {t}) AS q "
             f"FROM {li} GROUP BY 1 ORDER BY 1 {{o}}")
        a = con.sql(q.format(t="DECIMAL(18,2)", o="ASC")).arrow()
        b = con.sql(q.format(t="DOUBLE", o="DESC")).arrow()
        self.assertEqual(metrics.fingerprint_table(a), metrics.fingerprint_table(b))
        self.assertEqual(metrics.fingerprint_table(a)["rows"], 3)


class WarehouseInputs(unittest.TestCase):
    def test_seed_determines_inputs(self):
        self.assertEqual(workloads.warehouse_inputs(7), workloads.warehouse_inputs(7))
        self.assertNotEqual(workloads.warehouse_inputs(7)["writer"],
                            workloads.warehouse_inputs(8)["writer"])
        self.assertEqual(workloads.query_inputs(7), workloads.query_inputs(7))

    def test_blocks_hold_every_kind(self):
        w = workloads.warehouse_inputs(3)
        k = len(workloads.WRITER_BLOCK)
        for i in range(0, 5 * k, k):
            self.assertEqual(sorted(s["kind"] for s in w["writer"][i:i + k]),
                             sorted(workloads.WRITER_BLOCK))

    def test_merge_replay_is_an_upsert(self):
        con = duckdb.connect()
        con.execute(f"CREATE TABLE {workloads.TABLE} AS SELECT k AS l_orderkey, "
                    "ln AS l_linenumber, 10.0 AS l_quantity FROM range("
                    f"{workloads.ORDERKEYS}) r(k), (VALUES (1), (2)) v(ln)")
        for q in workloads.Statements(1).merge()["duck"]:
            con.execute(q)
        n, updated, untouched, inserted = con.execute(
            "SELECT COUNT(*), COUNT(*) FILTER (l_linenumber = 1 AND "
            "l_quantity > 10), COUNT(*) FILTER (l_linenumber = 2 AND "
            "l_quantity = 10), COUNT(*) FILTER (l_orderkey >= "
            f"{workloads.ORDERKEYS}) FROM {workloads.TABLE}").fetchone()
        self.assertEqual((n, updated, untouched, inserted),
                         (2 * workloads.ORDERKEYS + 1, 3, workloads.ORDERKEYS, 1))


def fake_result(ops, jobs=(), stages=(), phases=()):
    return {
        "timed_start_ms": 0.0, "timed_end_ms": 1000.0, "session_s": 1.0,
        "ops": ops,
        "counters": {"codegen_compiles": 0, "codegen_ms": 0.0,
                     "files_discovered": 0, "file_cache_hits": 0},
        "trace": {
            "jobs": [{"id": i, "op": op, "phase": ph, "start": s, "end": e}
                     for i, op, ph, s, e in jobs],
            "stages": [{"id": i, "job": j, "start": s, "end": e, "tasks": 1,
                        "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0,
                        "input": 0, "task_max_ms": 0, "task_median_ms": 0}
                       for i, j, s, e in stages],
            "phases": list(phases),
        },
    }


if __name__ == "__main__":
    unittest.main()
