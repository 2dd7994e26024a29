"""Tests for the harness's own arithmetic. Stdlib only:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import unittest

import fingerprint as fp
import stats


class PercentileTest(unittest.TestCase):
    def test_nearest_rank_and_count(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), (50, 100))
        self.assertEqual(stats.percentile(xs, 90), (90, 100))
        self.assertEqual(stats.percentile(xs, 100), (100, 100))

    def test_order_and_small_samples(self):
        self.assertEqual(stats.percentile([3.0, 1.0, 2.0], 50), (2.0, 3))
        self.assertEqual(stats.percentile([7.5], 90), (7.5, 1))
        self.assertEqual(stats.percentile([1, 2, 3, 4], 90), (4, 4))

    def test_no_samples(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class UnionTest(unittest.TestCase):
    def test_overlapping_and_disjoint(self):
        self.assertEqual(stats.union_ms([(0, 10), (5, 15), (20, 30)], 0, 100), 25)

    def test_nested_and_touching(self):
        self.assertEqual(stats.union_ms([(0, 10), (2, 3), (10, 12)], 0, 100), 12)

    def test_clipped_to_window(self):
        self.assertEqual(stats.union_ms([(-5, 5), (8, 20)], 0, 10), 7)
        self.assertEqual(stats.union_ms([(50, 60)], 0, 10), 0)
        self.assertEqual(stats.union_ms([], 0, 10), 0)


def rec(**kw):
    base = {"wall_ms": 100.0, "build_ms": 20.0, "plan_ms": 30.0, "exec_ms": 50.0,
            "exec_window": [1000, 1050], "stage_intervals": [[1010, 1030], [1020, 1040]],
            "job_intervals": [[1005, 1042]],
            "phases": {"analysis": 5, "optimization": 10, "planning": 15},
            "codegen_exec_ms": 4.0}
    base.update(kw)
    return base


class SelfTimeTest(unittest.TestCase):
    def test_layers_partition_the_wall(self):
        st = stats.self_times(rec())
        self.assertEqual(st["build"], 15)
        self.assertEqual(st["plan_other"], 5)
        self.assertEqual(st["exec"], 30)  # union of the two stages
        self.assertEqual(st["sched"], 7)  # job open 37, stages 30
        self.assertEqual(st["driver"], 9)  # 50 - 37 in a job - 4 codegen
        self.assertAlmostEqual(st["unattributed"], 0.0)

    def test_no_jobs_leaves_the_action_to_the_driver(self):
        st = stats.self_times(rec(stage_intervals=[], job_intervals=[]))
        self.assertEqual((st["exec"], st["sched"], st["driver"]), (0, 0, 46))

    def test_codegen_outgrowing_driver_time_is_unattributed(self):
        # 20 ms of codegen, but only 13 ms of the action lie outside jobs
        st = stats.self_times(rec(codegen_exec_ms=20.0))
        self.assertEqual(st["driver"], 0.0)
        self.assertAlmostEqual(st["unattributed"], -7.0)

    def test_child_outgrowing_parent_is_unattributed(self):
        # optimization + planning (25) exceed the planning span (10)
        st = stats.self_times(rec(plan_ms=10.0, wall_ms=80.0))
        self.assertEqual(st["plan_other"], 0.0)
        self.assertAlmostEqual(st["unattributed"], -15.0)

    def test_parse_phase_counts_inside_build(self):
        st = stats.self_times(rec(phases={"parsing": 3, "analysis": 5,
                                          "optimization": 10, "planning": 15}))
        self.assertEqual(st["build"], 12)
        self.assertAlmostEqual(st["unattributed"], 0.0)


class FingerprintTest(unittest.TestCase):
    def test_doubles_round_half_even_on_the_binary_value(self):
        self.assertEqual(fp.canon_double(0.1), "0.100000000")
        self.assertEqual(fp.canon_double(-1e-12), "0.000000000")
        self.assertEqual(fp.canon_double(-0.0), "0.000000000")
        self.assertEqual(fp.canon_double(2.0000000005), "2.000000001")
        self.assertEqual(fp.canon_double(1e20), "100000000000000000000.000000000")
        self.assertEqual(fp.canon_double(float("nan")), "nan")

    def test_row_order_does_not_matter_but_duplicates_do(self):
        a = [{"x": 1, "y": "a"}, {"x": 2, "y": "b"}]
        self.assertEqual(fp.fingerprint(a), fp.fingerprint(list(reversed(a))))
        self.assertNotEqual(fp.fingerprint(a), fp.fingerprint(a + a[:1]))
        self.assertTrue(fp.fingerprint(a).startswith("2:"))

    def test_columns_in_name_order(self):
        self.assertEqual(fp.canon_row({"b": 1, "a": None}), "\\N\x1f1")

    def test_nested_values(self):
        self.assertEqual(fp.canon_value([1.5, None]), "[1.500000000,\\N]")
        self.assertEqual(fp.canon_value([("k2", 1), ("k1", 2)]), "{k1:2,k2:1}")
        self.assertEqual(fp.canon_value({"p": 1, "q": "z"}), "(1,z)")

    def test_float_noise_below_nine_places_is_ignored(self):
        self.assertEqual(fp.fingerprint([{"v": 0.1 + 0.2}]), fp.fingerprint([{"v": 0.3}]))


if __name__ == "__main__":
    unittest.main()
