"""Tests for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import metrics as M  # noqa: E402


class TailRule(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(M.tail_percentile(1000), 99.0)   # 10 beyond p99
        self.assertEqual(M.tail_percentile(999), 95.0)    # only 9 beyond p99
        self.assertEqual(M.tail_percentile(200), 95.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(40), 75.0)
        self.assertEqual(M.tail_percentile(39), 50.0)
        self.assertEqual(M.tail_percentile(20), 50.0)

    def test_fewer_than_twenty_samples_fall_back_to_the_median(self):
        self.assertEqual(M.tail_percentile(5), 50.0)
        xs = [5, 1, 4, 2, 3]
        self.assertEqual(M.tail(xs), (3, 50.0))
        self.assertEqual(M.tail([4, 1, 3, 2]), (2.5, 50.0))

    def test_value_is_nearest_rank(self):
        xs = list(range(1, 101))       # 1..100
        self.assertEqual(M.tail(xs), (90, 90.0))
        self.assertEqual(M.percentile(xs, 50), 50)


class SeedDeterminism(unittest.TestCase):
    def _deliveries(self, seed, d):
        t, ev, ev_slices, li_slices = gen.deliveries(seed, 0.002, 4, 50, 3_600_000_000)
        paths = []
        for i in range(4):
            for name, table, idx in (("ev", ev, ev_slices[i]),
                                     ("li", t["lineitem"], li_slices[i])):
                p = os.path.join(d, f"{name}{i}.parquet")
                gen.write_delivery(p, table, idx)
                paths.append(p)
        return gen.digest(paths)

    def test_same_seed_same_bytes_and_order(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(self._deliveries(7, a), self._deliveries(7, b))
        names = ["q1", "q2", "q3", "q4"]
        self.assertEqual(M.op_order(7, names, 50), M.op_order(7, names, 50))

    def test_other_seed_other_bytes_and_order(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(self._deliveries(7, a), self._deliveries(8, b))
        names = ["q1", "q2", "q3", "q4", "q5", "q6"]
        self.assertNotEqual(M.op_order(7, names, 50), M.op_order(8, names, 50))

    def test_order_runs_whole_rounds(self):
        names = ["a", "b", "c"]
        o = M.op_order(3, names, 9)
        for k in range(3):
            self.assertEqual(sorted(o[3 * k:3 * k + 3]), names)

    def test_tables_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.write_tables(5, 0.002, a)
            gen.write_tables(5, 0.002, b)
            for n in os.listdir(a):
                self.assertEqual(gen.digest([os.path.join(a, n)]),
                                 gen.digest([os.path.join(b, n)]), n)

    def test_late_rows_stay_inside_the_slack(self):
        late = 3_600_000_000
        t, ev, ev_slices, _ = gen.deliveries(11, 0.002, 4, 50, late)
        ts = ev.column("ts").to_numpy().astype("int64")
        seen = -2**62
        for sl in ev_slices:
            for x in ts[sl]:
                self.assertGreaterEqual(x, seen - late)
            seen = max(seen, ts[sl].max())


class SpanTimes(unittest.TestCase):
    def test_self_time_subtracts_covered_children(self):
        self.assertEqual(M.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 10 - 4 - 2)

    def test_self_time_ignores_children_outside(self):
        self.assertEqual(M.self_time((0, 10), [(-5, -1), (11, 20)]), 10)

    def test_layers_sum_to_wall_with_residue(self):
        spans = [("construct", 0, 4, 1), ("catalyst", 1, 2, 2),
                 ("sink", 4, 9, 1), ("exec", 5, 8, 3), ("exec", 7, 8.5, 3)]
        part = M.layer_partition((0, 10), spans)
        self.assertAlmostEqual(sum(part.values()), 10)
        self.assertAlmostEqual(part["residue"], 1)          # 9..10 is uncovered
        self.assertAlmostEqual(part["catalyst"], 1)
        self.assertAlmostEqual(part["exec"], 3.5)           # union of 5..8.5
        self.assertAlmostEqual(part["construct"], 3)
        self.assertAlmostEqual(part["sink"], 1.5)

    def test_spans_outside_the_op_are_clipped(self):
        part = M.layer_partition((0, 2), [("exec", -1, 1, 3)])
        self.assertEqual(part, {"exec": 1, "residue": 1})


class Failures(unittest.TestCase):
    def test_a_mismatch_counts_in_failed_frac(self):
        ops = [{"name": "q1", "ok": True}, {"name": "q1", "ok": True},
               {"name": "q2", "ok": False}, {"name": "q3", "ok": True}]
        self.assertEqual(M.count_failures(ops, {}), 1)
        # q3's set-up result disagreed with its oracle: every run of it fails
        failed = M.count_failures(ops, {"q3": "mismatch"})
        self.assertEqual(failed, 2)
        self.assertEqual(M.failed_frac(len(ops), failed), 0.5)


if __name__ == "__main__":
    unittest.main()
