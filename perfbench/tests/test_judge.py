"""Spec of the benchmark's judgement logic (perfbench/judge.py).

    python3 -m unittest discover -s perfbench/tests
"""
import statistics
import sys
import unittest
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import judge  # noqa: E402

SPEC = [
    {"name": "wall_s", "unit": "s", "better": "lower", "bound": 0.1},
    {"name": "setup_s", "unit": "s", "better": "lower", "bound": 0.25},
]


def runs(walls, setups=None):
    setups = setups or [10.0] * len(walls)
    return [{"wall_s": w, "setup_s": s} for w, s in zip(walls, setups)]


BASE = [5.00, 5.02, 4.98, 5.01, 4.99, 5.03, 4.97, 5.00, 5.02, 4.98]


class QuartileTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [3.0, 1.0, 4.0, 1.5, 5.0, 9.0, 2.6, 5.3, 5.8, 9.7]
        q1, q2, q3 = judge.quartiles(xs)
        self.assertEqual([q1, q2, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(q2, statistics.median(xs))
        self.assertAlmostEqual(judge.spread(xs), (q3 - q1) / q2)

    def test_planted_outlier_moves_neither_median_nor_spread_much(self):
        clean = judge.spread(BASE)
        planted = BASE[:-1] + [50.0]  # one run ten times slower
        self.assertAlmostEqual(judge.median(planted), judge.median(BASE), delta=0.02)
        self.assertLess(judge.spread(planted), 0.02)
        self.assertLess(clean, 0.02)


class BoundTest(unittest.TestCase):
    def test_same_code_is_accepted(self):
        v = judge.judge(runs(BASE), runs(list(reversed(BASE))), SPEC)
        self.assertTrue(judge.accepted(v))
        self.assertFalse(v["wall_s"]["improved"])

    def test_doctored_run_set_past_the_bound_is_rejected(self):
        doctored = [w * 1.15 for w in BASE]  # 15% slower, bound is 10%
        v = judge.judge(runs(BASE), runs(doctored), SPEC)
        self.assertTrue(v["wall_s"]["regressed"])
        self.assertFalse(judge.accepted(v))

    def test_slowdown_inside_the_bound_is_accepted(self):
        v = judge.judge(runs(BASE), runs([w * 1.05 for w in BASE]), SPEC)
        self.assertFalse(v["wall_s"]["regressed"])
        self.assertTrue(judge.accepted(v))

    def test_unsteady_metric_is_rejected(self):
        noisy = [4.0, 6.0, 4.2, 5.8, 4.1, 5.9, 4.3, 5.7, 4.4, 5.6]
        v = judge.judge(runs(BASE), runs(noisy), SPEC)
        self.assertFalse(v["wall_s"]["steady"])
        self.assertFalse(judge.accepted(v))

    def test_setup_spread_is_not_checked_but_its_median_is(self):
        setups = [8.0, 12.0, 8.5, 11.5, 9.0, 11.0, 8.2, 11.8, 9.5, 10.5]
        v = judge.judge(runs(BASE), runs(BASE, setups), SPEC)
        self.assertTrue(v["setup_s"]["steady"])
        self.assertTrue(judge.accepted(v))
        v = judge.judge(runs(BASE), runs(BASE, [s * 1.3 for s in setups]), SPEC)
        self.assertTrue(v["setup_s"]["regressed"])

    def test_higher_is_better_metrics_flip_the_sign(self):
        self.assertAlmostEqual(judge.worse_by(1.0, 0.9, "higher"), 0.1)
        self.assertAlmostEqual(judge.worse_by(1.0, 0.9, "lower"), -0.1)


class WinRuleTest(unittest.TestCase):
    def test_nine_of_ten_pair_wins_is_a_win(self):
        new = [w * 0.9 for w in BASE]
        new[3] = BASE[3] * 1.01  # one lost pair
        v = judge.judge(runs(BASE), runs(new), SPEC)["wall_s"]
        self.assertEqual(v["wins"], 9)
        self.assertTrue(v["improved"])

    def test_eight_of_ten_is_not_a_win_even_with_a_better_median(self):
        new = [w * 0.9 for w in BASE]
        new[3], new[7] = BASE[3] * 1.01, BASE[7] * 1.01
        v = judge.judge(runs(BASE), runs(new), SPEC)["wall_s"]
        self.assertEqual(v["wins"], 8)
        self.assertLess(v["worse_by"], 0)
        self.assertFalse(v["improved"])


if __name__ == "__main__":
    unittest.main()
