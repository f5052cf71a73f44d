#!/usr/bin/env python3
"""Self-test of the benchmark.

  python3 perfbench/selftest.py            # unit checks, then smoke runs
  python3 perfbench/selftest.py --unit     # unit checks only

The unit checks cover the statistics (median, quartiles, the percentile
rank and the samples beyond it, the win rate with ties), the A/B verdict
rules and the output comparator. The smoke runs execute every workload at scale factor 0.001
with tracing off and on, and assert that each prints every metric
BENCHMARK.json names, with its unit, and that every query matched its
oracle.
"""
import json
import math
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

import ab  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

SMOKE_SF = 0.001


class StatsTest(unittest.TestCase):
    def test_median(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)
        with self.assertRaises(ValueError):
            stats.median([])

    def test_quartiles_match_statistics_quantiles(self):
        xs = [float(x) for x in range(1, 11)]
        # statistics.quantiles(range(1, 11), n=4) ("exclusive" method)
        self.assertEqual(stats.quartiles(xs), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread(xs), (8.25 - 2.75) / 5.5)
        self.assertEqual(stats.quartiles([7.0]), (7.0, 7.0, 7.0))

    def test_percentile_rank_and_tail(self):
        self.assertEqual(stats.rank(100, 0.9), 90)
        self.assertEqual(stats.rank(99, 0.9), 90)
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 0.9), 90)
        self.assertEqual(stats.percentile(xs, 0.5), 50)
        self.assertEqual(stats.percentile([5.0], 0.9), 5.0)
        # the highest percentile with ten samples beyond it: p90 needs 100
        self.assertEqual(stats.tail(xs), (0.9, 90))
        self.assertEqual(stats.tail(list(range(1, 41))), (0.75, 30))
        self.assertEqual(stats.tail(list(range(1, 100)))[1], 89)
        self.assertIsNone(stats.tail(list(range(10))))

    def test_win_rate_counts_ties_for_neither(self):
        parent = [10.0, 10.0, 10.0, 10.0]
        change = [9.0, 11.0, 10.0, 8.0]
        self.assertEqual(stats.win_rate(parent, change, "lower"),
                         (2, 1, 1, 0.5))
        self.assertEqual(stats.win_rate(parent, change, "higher"),
                         (1, 2, 1, 0.25))
        with self.assertRaises(ValueError):
            stats.win_rate([1.0], [1.0, 2.0])


class VerdictTest(unittest.TestCase):
    METRIC = {"bound": 0.25, "better": "lower"}
    PARENT = [4.0] * 5 + [4.1] * 5

    def verdict(self, parent, change):
        return ab.verdict(self.METRIC, parent, change)["verdict"]

    def test_rules(self):
        self.assertEqual(self.verdict(self.PARENT, [3.5] * 10), "gain")
        self.assertEqual(self.verdict(self.PARENT, [5.5] * 10), "regression")
        self.assertEqual(self.verdict(self.PARENT, [4.05] * 10), "no change")
        # too few pairs, or a parent spread wider than the bound
        self.assertEqual(self.verdict([4.0, 3.9], [3.5, 3.5]), "unresolved")
        wide = [2.0, 3.0, 4.0, 5.0, 6.0] * 2
        self.assertEqual(self.verdict(wide, [3.9] * 10), "unresolved")
        self.assertEqual(self.verdict(wide, [1.0] * 10), "gain")


class ComparatorTest(unittest.TestCase):
    def frame(self, rows):
        return pd.DataFrame(rows, columns=["b", "a", "t"])

    def test_order_insensitive(self):
        x = self.frame([[1.0, "x", None], [float("nan"), "y", "z"]])
        y = self.frame([[float("nan"), "y", "z"], [1.0, "x", None]])
        cx, cy = oracle.canon(x), oracle.canon(y)
        self.assertIsNone(oracle.mismatch(cx, cy))
        self.assertEqual(oracle.digest(cx), oracle.digest(cy))

    def test_value_dtype_and_row_differences(self):
        x = oracle.canon(self.frame([[1.0, "x", "p"]]))
        self.assertIn("VAL", oracle.mismatch(
            x, oracle.canon(self.frame([[2.0, "x", "p"]]))))
        self.assertNotEqual(oracle.digest(x), oracle.digest(
            oracle.canon(self.frame([[2.0, "x", "p"]]))))
        ints = oracle.canon(pd.DataFrame({"a": ["x"], "b": [1], "t": ["p"]}))
        self.assertIn("SCHEMA_DTYPE", oracle.mismatch(x, ints))
        self.assertIn("ROWS", oracle.mismatch(
            x, oracle.canon(self.frame([[1.0, "x", "p"], [1.0, "x", "p"]]))))

    def test_negative_zero_equals_zero(self):
        x = oracle.canon(pd.DataFrame({"v": np.array([0.0])}))
        y = oracle.canon(pd.DataFrame({"v": np.array([-0.0])}))
        self.assertIsNone(oracle.mismatch(x, y))
        self.assertEqual(oracle.digest(x), oracle.digest(y))


def smoke():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    for w in bench["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"),
                 "--workload", w["name"], "--seed", "1", "--seconds", "1",
                 "--trace", str(trace), "--sf", str(SMOKE_SF)],
                capture_output=True, text=True)
            label = f"{w['name']} trace={trace}"
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                failures.append(f"{label}: exit {p.returncode}\n{p.stderr[-2000:]}")
                continue
            result = json.loads(lines[-1])
            if not result["correct"] or result["failed"]:
                failures.append(f"{label}: not correct: {lines[-2000:]}")
            for m in bench[key]:
                got = result["metrics"].get(m["name"])
                if got is None:
                    failures.append(f"{label}: no metric {m['name']}")
                elif got["unit"] != m["unit"]:
                    failures.append(f"{label}: {m['name']} in {got['unit']},"
                                    f" expected {m['unit']}")
                elif not math.isfinite(got["value"]):
                    failures.append(f"{label}: {m['name']} = {got['value']}")
                printed = f"{m['name']} = "
                if not any(line.startswith(printed) for line in lines):
                    failures.append(f"{label}: {m['name']} not printed")
            print(f"smoke {label}: ok" if not failures else
                  f"smoke {label}: {len(failures)} problems so far", flush=True)
    for f in failures:
        print("FAIL " + f)
    return not failures


def main():
    unit_only = "--unit" in sys.argv[1:]
    suite = unittest.defaultTestLoader.loadTestsFromModule(
        sys.modules[__name__])
    ok = unittest.TextTestRunner(verbosity=1).run(suite).wasSuccessful()
    if ok and not unit_only:
        ok = smoke()
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
