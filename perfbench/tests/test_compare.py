"""Tests of the two-set compare tool.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402

BENCH = {"end_to_end": [{"name": "op_p50_ms", "unit": "ms", "better": "lower", "bound": 0.1}]}


def runs(values, workload="w"):
    return {(workload, seed): {"op_p50_ms": v} for seed, v in enumerate(values)}


class VerdictTest(unittest.TestCase):
    def verdict(self, base, change):
        return compare.compare(runs(base), runs(change), BENCH)["w"]["op_p50_ms"]

    def test_clear_gain_is_better(self):
        r = self.verdict([100, 101, 99, 100, 102, 98, 100, 101, 99, 100],
                         [80, 81, 79, 80, 82, 78, 80, 81, 79, 80])
        self.assertEqual(r["verdict"], "better")
        self.assertEqual(r["win_share"], 1.0)

    def test_regression_beyond_bound_is_worse(self):
        r = self.verdict([100, 101, 99, 100, 100, 100, 101, 99, 100, 100],
                         [120, 119, 121, 120, 122, 118, 120, 121, 119, 120])
        self.assertEqual(r["verdict"], "worse")

    def test_small_shift_is_same(self):
        r = self.verdict([100, 101, 99, 100, 102, 98, 100, 101, 99, 100],
                         [101, 100, 100, 101, 99, 102, 100, 100, 101, 99])
        self.assertEqual(r["verdict"], "same")

    def test_wide_spread_is_unresolved(self):
        r = self.verdict([60, 140, 80, 120, 100, 70, 130, 90, 110, 100],
                         [70, 150, 90, 125, 95, 80, 135, 85, 115, 105])
        self.assertEqual(r["verdict"], "unresolved")

    def test_wide_spread_but_disjoint_is_resolved(self):
        r = self.verdict([100, 130, 110, 125, 105, 115, 120, 112, 118, 108],
                         [50, 60, 55, 52, 58, 51, 59, 54, 56, 53])
        self.assertEqual(r["verdict"], "better")

    def test_higher_is_better_metrics(self):
        bench = {"end_to_end": [{"name": "op_p50_ms", "unit": "1/s", "better": "higher",
                                 "bound": 0.1}]}
        r = compare.compare(runs([100] * 10), runs([130] * 10), bench)["w"]["op_p50_ms"]
        self.assertEqual(r["verdict"], "better")

    def test_load_skips_traced_runs(self):
        with tempfile.NamedTemporaryFile("w", suffix=".jsonl", delete=False) as f:
            for trace in (0, 1):
                f.write(json.dumps({"workload": "w", "seed": 1, "trace": trace,
                                    "metrics": {"op_p50_ms": {"value": 5 + trace, "unit": "ms"}}}) + "\n")
        try:
            self.assertEqual(compare.load(f.name), {("w", 1): {"op_p50_ms": 5}})
        finally:
            os.remove(f.name)


if __name__ == "__main__":
    unittest.main()
