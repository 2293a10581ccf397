"""The percentile rule, span self time and layer coverage arithmetic."""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import metrics, stats  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        v = list(range(1, 101))
        self.assertEqual(stats.percentile(v, 0.5), 50)
        self.assertEqual(stats.percentile(v, 0.9), 90)
        self.assertEqual(stats.percentile([3.0], 0.9), 3.0)

    def test_ten_samples_beyond(self):
        # p90 needs 100 samples for ten to lie beyond it
        self.assertEqual(stats.samples_beyond(100, 0.9), 10)
        self.assertEqual(stats.samples_beyond(99, 0.9), 9)
        self.assertIsNone(stats.tail_percentile(list(range(99)), 0.9))
        self.assertEqual(stats.tail_percentile(list(range(1, 101)), 0.9), 90)
        # the median of 20 has ten beyond it, of 19 only nine
        self.assertEqual(stats.samples_beyond(20, 0.5), 10)
        self.assertIsNone(stats.tail_percentile(list(range(19)), 0.5))

    def test_spread_is_iqr_over_median(self):
        v = [10, 10, 10, 10, 10, 10, 10, 10, 10, 10]
        self.assertEqual(stats.spread(v), 0.0)
        self.assertAlmostEqual(stats.spread([1, 2, 3, 4, 5, 6, 7]), (6 - 2) / 4)


class SelfTime(unittest.TestCase):
    def test_covered_merges_and_clips(self):
        self.assertEqual(stats.covered([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.covered([(0, 10), (5, 15)], lo=8, hi=12), 4)
        self.assertEqual(stats.covered([]), 0)

    def test_self_time_subtracts_child_cover(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "t0": 0, "t1": 100},
            {"id": 2, "parent": 1, "name": "build", "t0": 0, "t1": 30},
            {"id": 3, "parent": 1, "name": "execute", "t0": 40, "t1": 100},
            {"id": 4, "parent": 3, "name": "job", "t0": 50, "t1": 70},
            {"id": 5, "parent": 3, "name": "job", "t0": 60, "t1": 90},
            {"id": 6, "parent": 2, "name": "job", "t0": 10, "t1": 20},
        ]
        s = stats.self_times(spans)
        self.assertEqual(s["op"], 100 - 30 - 60)
        self.assertEqual(s["build"], 30 - 10)
        # the two overlapping jobs cover 50..90 of execute
        self.assertEqual(s["execute"], 60 - 40)
        # overlapping siblings each keep their own self time
        self.assertEqual(s["job"], 20 + 30 + 10)

    def test_child_outside_parent_is_clipped(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "t0": 0, "t1": 10},
            {"id": 2, "parent": 1, "name": "job", "t0": 5, "t1": 20},
        ]
        self.assertEqual(stats.self_times(spans)["op"], 5)


class Coverage(unittest.TestCase):
    def test_contiguous_spans_cover_the_op(self):
        c = stats.op_coverage((0, 100), (0, 20), (20, 30), (30, 100),
                              jobs=[(35, 60), (70, 95), (5, 15)])
        self.assertAlmostEqual(c, 1.0)

    def test_glue_and_job_overhang_show_as_misses(self):
        # 20 units between pin and execute belong to no part
        self.assertAlmostEqual(
            stats.op_coverage((0, 100), (0, 20), (20, 30), (50, 100), jobs=[]), 0.8)
        # a job stamped past the execute span's end counts in full
        self.assertAlmostEqual(
            stats.op_coverage((0, 100), (0, 20), (20, 30), (30, 100),
                              jobs=[(40, 120)]), 1.2)


class QuietPasses(unittest.TestCase):
    def test_stolen_passes_are_dropped(self):
        passes = [{"pass": 0, "steal_frac": 0.001}, {"pass": 1, "steal_frac": 0.15},
                  {"pass": 2, "steal_frac": 0.02}]
        self.assertEqual([p["pass"] for p in metrics.quiet_passes(passes)], [0, 2])

    def test_all_stolen_keeps_the_least_stolen(self):
        passes = [{"pass": 0, "steal_frac": 0.2}, {"pass": 1, "steal_frac": 0.05}]
        self.assertEqual([p["pass"] for p in metrics.quiet_passes(passes)], [1])

    def test_end_to_end_uses_only_quiet_passes(self):
        records = [{"k": "setup", "s": v} for v in (5.0, 0.5, 0.7)]
        records += [
            {"k": "pass", "window": "main", "pass": 0, "s": 2.0, "cpu_s": 1.0, "steal_frac": 0.0},
            {"k": "pass", "window": "main", "pass": 1, "s": 9.0, "cpu_s": 3.0, "steal_frac": 0.3},
        ]
        records += [{"k": "op", "window": "main", "pass": p, "ok": True, "s": s}
                    for p, s in ((0, 0.5), (0, 1.5), (1, 4.0), (1, 5.0))]
        e = metrics.end_to_end(records)
        self.assertEqual(e, {"setup_s": 0.7, "ops_per_s": 1.0, "op_p50_s": 1.0,
                             "cpu_s_per_op": 0.5})


if __name__ == "__main__":
    unittest.main()
