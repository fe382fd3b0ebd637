"""Tests for the quartile helpers and the comparison rule.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import statistics
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import compare  # noqa: E402
import run  # noqa: E402
from stats import quartiles, relative_spread, verdict  # noqa: E402


class QuartileTest(unittest.TestCase):
    def test_quartiles_match_statistics_module(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0, 6.0, 8.0, 10.0]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertEqual(quartiles(xs), (q1, q2, q3))
        self.assertEqual(q2, 5.5)

    def test_relative_spread(self):
        xs = [10.0] * 5 + [11.0] * 5
        q1, med, q3 = quartiles(xs)
        self.assertAlmostEqual(relative_spread(xs), (q3 - q1) / med)
        self.assertEqual(relative_spread([3.0, 3.0, 3.0]), 0.0)

    def test_single_value(self):
        self.assertEqual(quartiles([2.5]), (2.5, 2.5, 2.5))


class VerdictTest(unittest.TestCase):
    parent = [100.0, 101.0, 99.0, 100.5, 100.2, 99.8, 100.1, 99.9, 100.3, 100.4]

    def test_clear_gain_is_improved(self):
        change = [x - 10 for x in self.parent]
        self.assertEqual(verdict(self.parent, change, "lower", 0.1), ("improved", 1.0))

    def test_clear_loss_is_worse(self):
        change = [x * 1.3 for x in self.parent]
        v, wins = verdict(self.parent, change, "lower", 0.1)
        self.assertEqual((v, wins), ("worse", 0.0))

    def test_higher_is_better_flips_the_sign(self):
        change = [x + 20 for x in self.parent]
        self.assertEqual(verdict(self.parent, change, "higher", 0.1)[0], "improved")
        self.assertEqual(verdict(self.parent, change, "lower", 0.1)[0], "worse")

    def test_same_runs_are_unchanged(self):
        self.assertEqual(verdict(self.parent, list(self.parent), "lower", 0.1), ("unchanged", 0.0))

    def test_eight_of_ten_wins_is_not_a_gain(self):
        change = [x - 5 for x in self.parent[:8]] + [x + 1 for x in self.parent[8:]]
        v, wins = verdict(self.parent, change, "lower", 0.1)
        self.assertEqual(wins, 0.8)
        self.assertEqual(v, "unchanged")

    def test_gain_within_parent_spread_is_not_a_gain(self):
        parent = [80.0, 90.0, 100.0, 110.0, 120.0] * 2
        change = [x - 1 for x in parent]
        self.assertEqual(verdict(parent, change, "lower")[0], "unchanged")

    def test_wide_parent_spread_is_unresolved(self):
        parent = [60.0, 80.0, 100.0, 120.0, 140.0] * 2
        change = [x + 5 for x in parent[:5]] + [x - 5 for x in parent[5:]]
        self.assertEqual(verdict(parent, change, "lower", 0.1)[0], "unresolved")

    def test_median_beyond_bound_is_worse(self):
        # loses only 6 pairs of 10, but the median moved past the 10% bound
        change = [x * 1.2 for x in self.parent[:6]] + [x * 0.999 for x in self.parent[6:]]
        self.assertEqual(verdict(self.parent, change, "lower", 0.1)[0], "worse")

    def test_consistent_shift_within_bound_is_unchanged(self):
        # serve_write, two sets of ten runs of the same code on one 4-core
        # host, the second set as the change: every pair lost, by more than
        # the parent's quartile distance, yet well inside the 0.25 bound
        setup_b = [2.2924, 2.535, 2.5863, 2.504, 2.2689, 2.3007, 2.3523, 2.2635, 2.3966, 2.2579]
        setup_a = [2.5284, 2.6616, 2.6182, 2.7989, 2.503, 2.6716, 2.7935, 2.896, 3.3348, 3.0368]
        p90_b = [55.9317, 55.9597, 52.0835, 55.9849, 55.8438, 52.3931, 55.9059, 54.8015, 52.0228, 60.0069]
        p90_a = [56.078, 56.0694, 55.9175, 61.306, 55.9545, 66.9808, 60.1412, 64.029, 67.7769, 60.2081]
        self.assertEqual(verdict(setup_b, setup_a, "lower", 0.25), ("unchanged", 0.0))
        self.assertEqual(verdict(p90_b, p90_a, "lower", 0.25), ("unchanged", 0.0))
        # a per-layer metric has no bound: the pair rule alone calls it worse
        self.assertEqual(verdict(setup_b, setup_a, "lower")[0], "worse")

    def test_per_layer_pair_rule_both_ways(self):
        self.assertEqual(verdict(self.parent, [x * 1.05 for x in self.parent], "lower")[0], "worse")
        self.assertEqual(verdict(self.parent, [x * 0.95 for x in self.parent], "lower")[0], "improved")
        self.assertEqual(verdict(self.parent, [x * 1.05 for x in self.parent], "higher")[0], "improved")

    def test_mismatched_runs_are_refused(self):
        with self.assertRaises(ValueError):
            verdict([1.0, 2.0], [1.0], "lower")


class CompareTest(unittest.TestCase):
    def test_rows_pair_runs_by_workload_and_seed(self):
        bench = {"end_to_end": [{"name": "latency_ms", "unit": "ms", "better": "lower", "bound": 0.1}],
                 "per_layer": []}
        with tempfile.TemporaryDirectory() as d:
            for side, scale in (("p", 1.0), ("c", 0.5)):
                Path(d, side).mkdir()
                for seed in range(1, 11):
                    line = {"metrics": {"latency_ms": {"value": scale * (100 + seed), "unit": "ms"}}}
                    Path(d, side, f"w.{seed}.json").write_text(json.dumps(line))
            out = list(compare.rows(compare.load(Path(d, "p")), compare.load(Path(d, "c")), bench))
        self.assertEqual(len(out), 1)
        workload, name, n, _, _, wins, v, e2e = out[0]
        self.assertEqual((workload, name, n, wins, v, e2e), ("w", "latency_ms", 10, 1.0, "improved", True))

    def test_only_seeds_both_sets_ran_are_paired(self):
        runs_p = {("w", "2"): 0, ("w", "10"): 0, ("w", "1"): 0, ("v", "3"): 0}
        runs_c = {("w", "10"): 0, ("w", "2"): 0, ("w", "11"): 0, ("v", "3"): 0}
        self.assertEqual(compare.seeds(runs_p, runs_c, "w"), ["2", "10"])
        self.assertEqual(compare.seeds(runs_p, {("w", "12"): 0}, "w"), [])


class ContractLineTest(unittest.TestCase):
    bench = {"end_to_end": [{"name": "a_ms", "unit": "ms", "better": "lower", "bound": 0.1}],
             "per_layer": [{"name": "x.jobs", "unit": "count", "better": "lower"}]}

    def test_every_listed_metric_with_its_unit(self):
        line = run.contract_line({"correct": True, "attempted": 3, "failed": 0,
                                  "values": {"a_ms": 1.5, "other": 2.0}}, self.bench, 0)
        self.assertEqual(line, {"correct": True, "attempted": 3, "failed": 0,
                                "metrics": {"a_ms": {"value": 1.5, "unit": "ms"}}})

    def test_unreached_layer_reads_zero(self):
        line = run.contract_line({"correct": True, "attempted": 1, "failed": 0, "values": {}}, self.bench, 1)
        self.assertEqual(line["metrics"], {"x.jobs": {"value": 0.0, "unit": "count"}})

    def test_missing_end_to_end_metric_is_an_error(self):
        with self.assertRaises(SystemExit):
            run.contract_line({"correct": True, "attempted": 1, "failed": 0, "values": {}}, self.bench, 0)


if __name__ == "__main__":
    unittest.main()
