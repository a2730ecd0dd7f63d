"""Unit tests of the benchmark's metric rules (no JVM needed).

Run from the repository root: python3 -m unittest discover perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import metrics  # noqa: E402


class TailPercentileTest(unittest.TestCase):

    def test_fixed_sample_counts(self):
        # the percentile each workload's N gives
        for n, pct in [(11, 9), (30, 66), (72, 86), (108, 90), (1000, 99)]:
            self.assertEqual(metrics.tail_percentile(list(range(n)))[0], pct, n)

    def test_at_least_ten_beyond_and_highest(self):
        for n in range(11, 400):
            xs = [float(i) for i in range(n)]
            pct, value = metrics.tail_percentile(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10, n)
            if pct < 100:  # one percentile higher leaves fewer than ten
                above = metrics.nearest_rank(xs, pct + 1)
                self.assertLess(sum(1 for x in xs if x > above), 10, n)

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 6.0, 4.0, 0.0, 10.0, 11.0]
        self.assertEqual(metrics.tail_percentile(xs), metrics.tail_percentile(sorted(xs)))

    def test_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail_percentile([1.0] * 10)

    def test_nearest_rank_median(self):
        self.assertEqual(metrics.nearest_rank([3, 1, 2], 50), 2)
        self.assertEqual(metrics.nearest_rank([4, 1, 3, 2], 50), 2)


class FailureCountTest(unittest.TestCase):
    verified = {"q1": "aa:3", "q2": "bb:5"}

    def ex(self, q, h=None, err=None):
        return {"query": q, "hash": h, "error": err}

    def test_matching_hashes_do_not_fail(self):
        self.assertEqual(metrics.count_failures([self.ex("q1", "aa:3"), self.ex("q2", "bb:5")],
                                                self.verified), 0)

    def test_throw_and_hash_mismatch_fail(self):
        execs = [self.ex("q1", "aa:3"), self.ex("q1", "ab:3"),
                 self.ex("q2", None, "boom"), self.ex("q2", "bb:5")]
        self.assertEqual(metrics.count_failures(execs, self.verified), 2)

    def test_unverified_query_fails_every_execution(self):
        execs = [self.ex("q3", "cc:1"), self.ex("q3", "cc:1")]
        self.assertEqual(metrics.count_failures(execs, self.verified), 2)

    def test_end_to_end_fractions(self):
        by = {
            "run": [{"jvm_start_ms": 1000, "setup_end_ms": 3500, "vmhwm_kb": 2048, "cores": 4}],
            "pass": [{"pass": -1, "start_us": 0, "end_us": 9}, {"pass": 0, "start_us": 10, "end_us": 2_000_010}],
            "check": [{"query": "q1", "hash": "aa:3"}, {"query": "q2", "hash": "bb:5"}],
            "exec": [{"query": "q1" if i % 2 else "q2", "pass": 0, "start_us": 0,
                      "executed_us": (i + 1) * 1000, "hash": ("aa:3" if i % 2 else "bb:5"),
                      "error": "x" if i == 4 else None} for i in range(12)],
        }
        m, attempted, failed, pct = metrics.end_to_end(by, wrong=1)
        self.assertEqual((attempted, failed, pct), (12, 1, 16))
        self.assertAlmostEqual(m["ok_frac"][0], 11 / 12)
        self.assertAlmostEqual(m["oracle_match_frac"][0], 0.5)
        self.assertAlmostEqual(m["setup_s"][0], 2.5)
        self.assertAlmostEqual(m["pass_s"][0], 2.0)


class SelfTimeTest(unittest.TestCase):

    def test_union_length(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15), (20, 25)]), 20)
        self.assertEqual(metrics.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(metrics.union_length([(0, 10), (5, 15)], lo=3, hi=12), 9)
        self.assertEqual(metrics.union_length([(0, 2)], lo=5, hi=9), 0)

    def test_deepest_layer_wins_and_parts_add_up(self):
        # one query [0,100]: build [0,30], execute [30,90], release [90,100];
        # a job [35,80] with two parallel stages [40,60] and [50,70]
        layers = [("stage", [(40, 60), (50, 70)]), ("job", [(35, 80)]),
                  ("plan", [(30, 34)]), ("build", [(0, 30)]), ("execute", [(30, 90)]),
                  ("release", [(90, 100)]), ("query", [(0, 100)])]
        own = metrics.exclusive_times(layers, 0, 120)
        self.assertEqual(own, {"stage": 30, "job": 15, "plan": 4, "build": 30,
                               "execute": 11, "release": 10, "query": 0, "pass": 20})
        self.assertEqual(sum(own.values()), 120)

    def test_spans_outside_the_window_are_clipped(self):
        own = metrics.exclusive_times([("job", [(-50, 10), (90, 200)])], 0, 100)
        self.assertEqual(own, {"job": 20, "pass": 80})

    def test_pass_layers_attribute_jobs_to_the_enclosing_build(self):
        by = {
            "exec": [{"query": "q1", "pass": 1, "start_us": 1_000_000, "built_us": 1_500_000,
                      "executed_us": 2_500_000, "release_start_us": 2_500_000,
                      "end_us": 2_600_000, "cached_bytes": 1024 * 1024}],
            "job_start": [{"job": 0, "t_ms": 1100}, {"job": 1, "t_ms": 1600}, {"job": 2, "t_ms": 9000}],
            "job_end": [{"job": 0, "t_ms": 1300, "ok": True}, {"job": 1, "t_ms": 2400, "ok": True},
                        {"job": 2, "t_ms": 9100, "ok": True}],
            "stage": [],
            "plan": [],
        }
        p = {"pass": 1, "start_us": 1_000_000, "end_us": 3_000_000, "compiles": 0}
        m = metrics.pass_layers(by, p, cores=4)
        self.assertEqual(m["sched.jobs"], 2)          # job 2 lies outside the pass
        self.assertEqual(m["entry.build_jobs"], 1)    # job 0 started inside the build
        self.assertAlmostEqual(m["entry.build_s"], 0.5)
        self.assertAlmostEqual(m["sched.driver_only_s"], 1.0)
        self.assertAlmostEqual(m["self.job_s"], 1.0)
        self.assertAlmostEqual(m["self.build_s"], 0.3)
        self.assertAlmostEqual(m["self.pass_s"], 0.4)
        self.assertAlmostEqual(m["caches.peak_mb"], 1.0)
        total = sum(v for k, v in m.items() if k.startswith("self."))
        self.assertAlmostEqual(total, 2.0)


if __name__ == "__main__":
    unittest.main()
