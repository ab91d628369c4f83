"""Self-tests of the benchmark's arithmetic and input generation.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import json
import os
import tempfile
import unittest

import pyarrow.parquet as pq

import checks
import gen
import metrics


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        for n in (20, 25, 37, 100, 1000):
            xs = list(range(n))
            value, pct, count = metrics.tail(xs)
            self.assertEqual(count, n)
            self.assertGreaterEqual(sum(1 for x in xs if x > value), 10)
            # One percentile higher would leave fewer than ten beyond.
            higher = metrics.nearest_rank(sorted(xs), pct + 1)
            self.assertLess(sum(1 for x in xs if x > higher), 10)

    def test_known_values(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90, 90, 100))
        self.assertEqual(metrics.tail(list(range(1, 26))), (15, 60, 25))

    def test_few_samples_give_the_slowest(self):
        # Below twenty samples no percentile above the median has ten
        # beyond it; the tail is then the slowest sample, never one
        # below the median (the lower middle of an even count).
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100, 3))
        self.assertEqual(metrics.tail([5.0, 4.0]), (5.0, 100, 2))
        self.assertEqual(metrics.tail([4.0, 1.0, 3.0, 2.0]), (4.0, 100, 4))
        self.assertEqual(metrics.tail(list(range(19))), (18, 100, 19))
        for n in (2, 4, 19):
            xs = list(range(n))
            self.assertGreaterEqual(metrics.tail(xs)[0], metrics.median(xs))
        self.assertEqual(metrics.tail([]), (0.0, 100, 0))


class IntervalTest(unittest.TestCase):
    def test_union_and_minus(self):
        self.assertEqual(metrics.union([(5, 7), (0, 2), (1, 3)]), [[0, 3], [5, 7]])
        self.assertEqual(metrics.length([(0, 2), (1, 3), (5, 7)]), 5)
        # Jobs active 0-10; tasks run 1-4 and 3-6: idle 0-1 and 6-10.
        self.assertEqual(metrics.minus([(0, 10)], [(1, 4), (3, 6)]), 5)

    def test_dispatch_ignores_unfinished_jobs(self):
        spark = {"job_intervals": [[0, 1000], [2000, -1]], "task_intervals": [[100, 900]]}
        self.assertAlmostEqual(metrics.dispatch_s(spark), 0.2)


class SelfTimeTest(unittest.TestCase):
    SPANS = [
        {"id": 1, "parent": 0, "layer": "api", "name": "search", "t0": 0.0, "t1": 10.0},
        {"id": 2, "parent": 1, "layer": "plans", "name": "plan", "t0": 1.0, "t1": 2.0},
        {"id": 3, "parent": 1, "layer": "spark", "name": "collect", "t0": 2.0, "t1": 6.0},
        {"id": 4, "parent": 3, "layer": "spark", "name": "inner", "t0": 4.0, "t1": 5.0},
        {"id": 5, "parent": 0, "layer": "queries", "name": "build", "t0": 11.0, "t1": 12.0},
    ]

    def test_self_time_subtracts_children_once(self):
        st = metrics.self_times(self.SPANS)
        # Children of 1 cover 1-6; child 4 covers 4-5 of span 3.
        self.assertEqual(st, {1: 5.0, 2: 1.0, 3: 3.0, 4: 1.0, 5: 1.0})

    def test_layer_self_times_sum_to_covered_wall(self):
        per = metrics.layer_self_times(self.SPANS)
        self.assertEqual(per, {"api": 5.0, "plans": 1.0, "spark": 4.0, "queries": 1.0})
        self.assertEqual(sum(per.values()), 11.0)


class DedupReferenceTest(unittest.TestCase):
    def test_pairs_and_clusters(self):
        a = gen.shingles("w1 w2 w3 w4 w5 w6 w7 w8")
        b = gen.shingles("w1 w2 w3 w4 w5 w6 w7 w9")  # 5 of 7 shared
        c = gen.shingles("w1 w2 w3 x4 x5 x6 x7 x8")  # 1 shared with a
        d = gen.shingles("w1 w2 w3 w4 w5 w6 w7 w0")  # near-dup of a and b
        pairs, labels = checks.dedup_reference({1: a, 2: b, 3: c, 4: d}, cap=128)
        self.assertEqual(pairs, {(1, 2): 0.714286, (1, 4): 0.714286, (2, 4): 0.714286})
        self.assertEqual(checks._partition(labels), {frozenset({1, 2, 4})})

    def test_cap_drops_shared_shingles(self):
        # With cap 1 no shingle is rare enough to propose a candidate.
        pairs, _ = checks.dedup_reference({1: ["x y z"], 2: ["x y z"]}, cap=1)
        self.assertEqual(pairs, {})


class SeedTest(unittest.TestCase):
    def _inputs(self, workload, seed, root):
        out = os.path.join(root, f"{workload}-{seed}")
        plan = gen.generate(workload, seed, out)
        tables = {}
        for dirpath, _, files in os.walk(out):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(dirpath, f)
                    tables[os.path.relpath(p, out)] = pq.read_table(p)
        return json.dumps(plan, sort_keys=True), tables

    def test_same_seed_same_inputs_other_seed_other_inputs(self):
        with tempfile.TemporaryDirectory() as root:
            for w in sorted(gen.WORKLOADS):
                plan_a, tabs_a = self._inputs(w, 7, os.path.join(root, "a"))
                plan_b, tabs_b = self._inputs(w, 7, os.path.join(root, "b"))
                plan_c, tabs_c = self._inputs(w, 8, os.path.join(root, "c"))
                self.assertEqual(plan_a, plan_b, w)
                self.assertEqual(sorted(tabs_a), sorted(tabs_b), w)
                for k in tabs_a:
                    self.assertTrue(tabs_a[k].equals(tabs_b[k]), f"{w} {k}")
                differs = plan_a != plan_c or any(
                    not tabs_a[k].equals(tabs_c[k]) for k in tabs_a)
                self.assertTrue(differs, w)
                # Sizes do not depend on the seed.
                self.assertEqual({k: t.num_rows for k, t in tabs_a.items()},
                                 {k: t.num_rows for k, t in tabs_c.items()}, w)


if __name__ == "__main__":
    unittest.main()
