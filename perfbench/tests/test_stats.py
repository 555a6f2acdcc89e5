"""Tests of the runner's summary statistics and metric assembly.

    python3 -m unittest discover -s perfbench/tests
"""

import json
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import run  # noqa: E402
import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_tail_leaves_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, pct = stats.tail(xs)
        self.assertEqual(v, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_tail_follows_sample_count(self):
        xs = list(range(1, 41))  # 40 samples: rank 30 is the highest with 10 beyond
        v, pct = stats.tail(xs)
        self.assertEqual((v, pct), (30, 75.0))

    def test_tail_is_capped(self):
        xs = list(range(1, 2001))
        v, pct = stats.tail(xs)
        self.assertEqual(pct, 99.0)
        self.assertEqual(v, 1980)

    def test_too_few_samples_fall_back_to_median(self):
        for n in (1, 5, 12, 20):
            xs = list(range(n))
            self.assertEqual(stats.tail(xs), (stats.median(xs), 50.0))

    def test_order_does_not_matter(self):
        xs = [5.0, 1.0, 9.0, 3.0] * 10
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class OverheadTest(unittest.TestCase):
    def test_pairs_kinds_with_themselves(self):
        costs = {"a": {"traced": [110.0, 130.0], "untraced": [100.0]},
                 "b": {"traced": [22.0], "untraced": [20.0, 20.0, 30.0]}}
        # (120 + 22) / (100 + 20) - 1
        self.assertAlmostEqual(stats.overhead_pct(costs), 100.0 * (142.0 / 120.0 - 1.0))

    def test_kinds_seen_one_way_do_not_count(self):
        costs = {"a": {"traced": [110.0], "untraced": [100.0]},
                 "scan": {"traced": [5000.0], "untraced": []},
                 "other": {"traced": [], "untraced": [1.0]}}
        self.assertAlmostEqual(stats.overhead_pct(costs), 10.0)
        self.assertEqual(stats.overhead_pct({"scan": costs["scan"]}), 0.0)


class MetricsTest(unittest.TestCase):
    REF = run.CALIB_REF_MS

    def record(self, **kw):
        ref = self.REF
        r = {"workload": "snapshot_cdc", "session": [3000.0, 2000.0],
             "setup": [[20.0, 9000.0, ref], [5.0, 1000.0, ref], [6.0, 2000.0, ref]],
             "peak_rss_kb": 2048, "units": 30.0, "steps": 24, "steps_planned": 24,
             "jit_cpu_ms": 500.0, "gc_cpu_ms": 50.0,
             "work": [[10000.0, 400.0, ref], [5000.0, 200.0, ref]],
             "op": [[10.0, 1.0, ref], [20.0, 2.0, ref], [30.0, 3.0, ref]],
             "aux": [[40.0, 4.0, ref]], "extra": {}}
        r.update(kw)
        return r

    def test_setup_is_median_of_repetitions_in_cpu_seconds(self):
        m = run.metrics_of(self.record())
        self.assertEqual(m["setup_s"], 2.0)
        self.assertEqual(m["peak_rss_mb"], 2.0)
        self.assertEqual(m["op_cpu_ms"], 2.0)
        self.assertEqual(m["unit_cpu_ms"], 20.0)
        self.assertEqual(set(m), set(run.END_TO_END))

    def test_cpu_times_scale_by_their_own_calibration(self):
        # the same work, read on a host running at half and at full speed
        ref = self.REF
        m = run.metrics_of(self.record(
            op=[[10.0, 2.0, 2 * ref], [20.0, 2.0, 2 * ref], [30.0, 1.0, ref]],
            work=[[10000.0, 800.0, 2 * ref], [5000.0, 200.0, ref]]))
        self.assertEqual(m["op_cpu_ms"], 1.0)
        self.assertEqual(m["unit_cpu_ms"], 20.0)

    def test_detail_names_sample_counts(self):
        d = run.detail(self.record())
        self.assertEqual(d["busy_cpu_s"], 0.6)
        self.assertEqual(d["calib_ms"], self.REF)
        self.assertEqual(d["commit_samples"], 3)
        self.assertEqual(d["commit_p50_ms"], 20.0)
        self.assertEqual(d["read_where_samples"], 1)
        self.assertEqual(d["ops_per_s"], 2.0)
        self.assertEqual(d["setup_wall_s"], 0.006)
        self.assertEqual(d["session_cpu_s"], 2.0)

    def test_a_workload_without_aux_has_no_aux_line(self):
        d = run.detail(self.record(workload="corpus_build", aux=[]))
        self.assertEqual(d["build_samples"], 3)
        self.assertFalse(any(k.startswith("None") for k in d))

    def test_layers_a_workload_must_show_are_checked(self):
        layers = {"layout.expire_ms": 0.0, "layout.append_ms": 3.0, "analytics.self_ms": 0.0,
                  "shuffle.spill_bytes": 0.0, "trace.overhead_pct": 0.0, "trace.ops": 24.0}
        self.assertEqual(run.zero_layers("snapshot_cdc", layers), ["layout.expire_ms"])


class BenchmarkFileTest(unittest.TestCase):
    """BENCHMARK.json names what the runner prints, with the same units."""

    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_end_to_end_metrics_match_the_runner(self):
        self.assertEqual({m["name"]: m["unit"] for m in self.bench["end_to_end"]},
                         run.END_TO_END)
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))

    def test_per_layer_units_match_the_runner(self):
        for m in self.bench["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]), m["name"])

    def test_workloads_are_runnable(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)

    def test_every_per_layer_metric_is_shown_by_a_listed_workload(self):
        # a traced run fails its check when a metric of a layer its
        # workload must show reads 0, so each metric is non-zero somewhere
        listed = [w["name"] for w in self.bench["workloads"]]
        for m in self.bench["per_layer"]:
            name = m["name"]
            if name in run.MAY_BE_ZERO:
                continue
            shown = [w for w in listed if name.split(".")[0] in run.LAYERS[w]]
            self.assertTrue(shown, name)


if __name__ == "__main__":
    unittest.main()
