"""Unit tests for the benchmark's metric rules.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        # n=40: p75 is rank 30 (10 beyond); p90 is rank 36 (4 beyond)
        p, v, n, beyond = metrics.tail(list(range(1, 41)))
        self.assertEqual((p, v, n, beyond), (75, 30, 40, 10))

    def test_hundred_samples_reach_p90(self):
        p, v, n, beyond = metrics.tail(list(range(100, 0, -1)))
        self.assertEqual((p, v, beyond), (90, 90, 10))

    def test_one_sample_short_stays_lower(self):
        # n=39: p75 is rank 30 with 9 beyond, so the median is the tail
        p, v, n, beyond = metrics.tail(list(range(1, 40)))
        self.assertEqual((p, v, beyond), (50, 20, 19))

    def test_too_few_samples_falls_back_to_median(self):
        p, v, n, beyond = metrics.tail([5.0, 1.0, 3.0])
        self.assertEqual((p, v, n, beyond), (50, 3.0, 3, 1))

    def test_median_rung_is_the_p50_figure(self):
        # an even count: nearest rank would give 16, below the median 16.5
        for xs in (list(range(1, 33)), [2.0, 1.0], [4.0, 1.0, 3.0, 2.0] * 3):
            p, v, n, beyond = metrics.tail(xs)
            self.assertEqual(p, 50)
            self.assertEqual(v, statistics.median(xs))

    def test_tail_never_below_median(self):
        for n in range(1, 120):
            xs = [(7 * i) % 101 + 0.5 * i for i in range(n)]
            self.assertGreaterEqual(metrics.tail(xs)[1], statistics.median(xs))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail([])


class ContentionFlag(unittest.TestCase):
    def test_quiet_run_is_not_flagged(self):
        self.assertFalse(metrics.contended(0.153, 0.075))

    def test_elevated_start_floor_is_flagged(self):
        # a run whose set-up took 1.8x the quiet figure: floors 0.26 s, 0.133 s
        self.assertTrue(metrics.contended(0.260, 0.133))
        self.assertTrue(metrics.contended(0.233, 0.104))

    def test_elevated_end_floor_alone_is_flagged(self):
        self.assertTrue(metrics.contended(0.15, 0.13))


class SelfTime(unittest.TestCase):
    def test_no_jobs_is_all_driver(self):
        self.assertEqual(metrics.self_time(0, 10, []), 10)

    def test_overlapping_jobs_counted_once(self):
        # jobs cover [2,5] and [4,8]: union 6, self 4
        self.assertEqual(metrics.self_time(0, 10, [(2, 5), (4, 8)]), 4)

    def test_jobs_clipped_to_the_call(self):
        # a job straddling the call end covers only [8,10]; one outside is ignored
        self.assertEqual(metrics.self_time(0, 10, [(8, 15), (20, 30)]), 8)

    def test_nested_and_disjoint(self):
        self.assertEqual(metrics.self_time(0, 10, [(1, 9), (2, 3), (9.5, 10)]), 1.5)


class FailedCounting(unittest.TestCase):
    calls = [
        {"kind": "setup", "name": "fact_layout"},
        {"kind": "read", "name": "a"},
        {"kind": "read", "name": "b", "cause": "java.lang.RuntimeException: boom"},
        {"kind": "read", "name": "c"},
        {"kind": "read", "name": "c"},
        {"kind": "ingest", "name": "dedupIngest"},
    ]

    def test_setup_calls_are_not_ops(self):
        attempted, failed, causes = metrics.failures(self.calls, {}, [])
        self.assertEqual((attempted, failed), (5, 1))
        self.assertEqual(causes, [("b", "java.lang.RuntimeException: boom")])

    def test_oracle_mismatch_marks_every_call_of_the_op(self):
        attempted, failed, causes = metrics.failures(
            self.calls, {"c": "oracle rows: spark=1 duck=2"}, [])
        self.assertEqual((attempted, failed), (5, 3))
        self.assertEqual([n for n, _ in causes], ["b", "c", "c"])

    def test_gate_violations_count_as_attempted_and_failed(self):
        attempted, failed, causes = metrics.failures(
            self.calls, {}, [("docs", "exact copies admitted: 7")])
        self.assertEqual((attempted, failed), (6, 2))
        self.assertIn(("docs", "exact copies admitted: 7"), causes)


class PerLayer(unittest.TestCase):
    def test_busy_setup_and_self_time(self):
        calls = [
            {"span": 0, "kind": "setup", "layer": "FactLayout", "name": "fact_layout",
             "t0": 0.0, "t1": 4000.0},
            {"span": 1, "kind": "read", "layer": "Relational", "name": "q6",
             "t0": 5000.0, "t1": 6000.0},
            {"span": 2, "kind": "read", "layer": "Relational", "name": "q6",
             "t0": 6000.0, "t1": 6500.0, "cause": "boom"},
        ]
        jobs = [(0, 1000, 3000), (1, 5200, 5700), (1, 5600, 5800)]
        counters = {"1": {"task_ms": 900, "scan_rows": 10, "shuffle_records": 3,
                          "failed_tasks": 1, "stage_retries": 0}}
        out = metrics.per_layer(calls, jobs, counters)
        self.assertEqual(out["FactLayout"]["setup_s"], 4.0)
        self.assertEqual(out["FactLayout"]["driver_s"], 2.0)
        self.assertEqual(out["FactLayout"]["jobs"], 1)
        r = out["Relational"]
        self.assertEqual(r["busy_s"], 1.5)
        self.assertAlmostEqual(r["driver_s"], 0.4 + 0.5)
        self.assertEqual((r["jobs"], r["task_s"], r["scan_rows"]), (2, 0.9, 10))
        self.assertEqual(r["failed"], 2)


if __name__ == "__main__":
    unittest.main()
