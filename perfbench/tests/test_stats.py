"""Self-tests of the benchmark's own arithmetic and determinism.

    python3 -m unittest discover -s perfbench/tests
"""
import filecmp
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(stats.quantile(xs, 50), 2.5)
        self.assertEqual(stats.quantile(xs, 75), 3.25)
        self.assertEqual(stats.quantile(xs, 0), 1.0)
        self.assertEqual(stats.quantile(xs, 100), 4.0)

    def test_agrees_with_the_standard_library(self):
        import statistics
        xs = [0.31, 0.12, 0.88, 0.45, 0.27, 0.66, 0.19]
        q = statistics.quantiles(xs, n=4, method="inclusive")
        self.assertAlmostEqual(stats.quantile(xs, 25), q[0])
        self.assertAlmostEqual(stats.quantile(xs, 75), q[2])

    def test_op_medians_are_one_figure_per_op(self):
        meds = stats.op_medians({"a": [1.0, 1.1, 9.0], "b": [2.0, 2.2, 2.1]})
        self.assertEqual(meds, [1.1, 2.1])


class DriverGap(unittest.TestCase):
    def test_overlapping_jobs_count_once(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)

    def test_jobs_are_clipped_to_the_window(self):
        self.assertEqual(stats.union_length([(-5, 2), (9, 20)], 0, 10), 3)

    def test_gap_is_wall_minus_union(self):
        # op runs 0..10; jobs cover 1..3 and 2..5 -> 4 busy, 6 idle
        self.assertEqual(stats.driver_gap(0, 10, [(1, 3), (2, 5)]), 6)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(stats.driver_gap(3, 7, []), 4)


class SelfTime(unittest.TestCase):
    def test_duration_minus_child_coverage(self):
        spans = [
            {"id": 0, "parent": -1, "start": 0, "end": 10},
            {"id": 1, "parent": 0, "start": 1, "end": 4},
            {"id": 2, "parent": 0, "start": 3, "end": 6},  # overlaps span 1
            {"id": 3, "parent": 1, "start": 1, "end": 2},
        ]
        st = stats.self_times(spans)
        self.assertEqual(st[0], 5)   # children cover 1..6
        self.assertEqual(st[1], 2)   # child covers 1..2
        self.assertEqual(st[2], 3)
        self.assertEqual(st[3], 1)


class FailedOps(unittest.TestCase):
    def test_thrown_and_mismatched_both_count(self):
        ops = [{"name": "a", "ok": True}, {"name": "b", "ok": False},
               {"name": "c", "ok": True}, {"name": "a", "ok": True}]
        checks = {"a": True, "b": True, "c": False}
        self.assertEqual(stats.failed_ops(ops, ["a", "b", "c"], checks), ["b", "c"])

    def test_a_throw_in_any_pass_counts_once(self):
        ops = [{"name": "a", "ok": True}, {"name": "a", "ok": False}]
        self.assertEqual(stats.failed_ops(ops, ["a"], {"a": True}), ["a"])

    def test_an_op_that_never_ran_fails(self):
        self.assertEqual(stats.failed_ops([], ["a"], {}), ["a"])


class Determinism(unittest.TestCase):
    MODULES = [("M1", ["a", "b", "c"]), ("M2", ["d", "e"]), ("M3", ["f"])]

    def test_same_seed_same_order(self):
        self.assertEqual(stats.pass_orders(self.MODULES, 7, 5, "w"),
                         stats.pass_orders(self.MODULES, 7, 5, "w"))

    def test_other_seed_other_order(self):
        self.assertNotEqual(stats.pass_orders(self.MODULES, 7, 5, "w"),
                            stats.pass_orders(self.MODULES, 8, 5, "w"))

    def test_every_pass_is_a_permutation_with_modules_contiguous(self):
        for order in stats.pass_orders(self.MODULES, 3, 10, "w"):
            self.assertEqual(sorted(order), list("abcdef"))
            mod = {op: m for m, ops in self.MODULES for op in ops}
            runs = [mod[order[0]]] + [mod[b] for a, b in zip(order, order[1:])
                                      if mod[a] != mod[b]]
            self.assertEqual(len(runs), len(set(runs)))

    def test_same_seed_same_corpus_bytes(self):
        with tempfile.TemporaryDirectory() as t:
            dirs = [os.path.join(t, n) for n in ("a", "b", "c")]
            for d, seed in zip(dirs, ("5", "5", "6")):
                subprocess.run([sys.executable, os.path.join(BENCH, "gen_books.py"), d, seed],
                               check=True, stdout=subprocess.DEVNULL)
            same = filecmp.dircmp(os.path.join(dirs[0], "books"), os.path.join(dirs[1], "books"))
            self.assertTrue(same.left_list)
            self.assertEqual(same.diff_files, [])
            self.assertEqual(same.left_only + same.right_only, [])
            _, mismatch, errors = filecmp.cmpfiles(
                os.path.join(dirs[0], "books"), os.path.join(dirs[1], "books"),
                same.left_list, shallow=False)
            self.assertEqual(mismatch + errors, [])
            _, mismatch, _ = filecmp.cmpfiles(
                os.path.join(dirs[0], "books"), os.path.join(dirs[2], "books"),
                same.left_list, shallow=False)
            self.assertTrue(mismatch)


if __name__ == "__main__":
    unittest.main()
