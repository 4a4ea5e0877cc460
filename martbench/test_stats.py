"""Tests of the benchmark's arithmetic:  python3 -m unittest discover martbench"""

import json
import os
import statistics
import sys
import unittest

import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class Percentiles(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [10, 20, 30, 40, 50]
        self.assertEqual(stats.percentile(xs, 50), 30)
        self.assertEqual(stats.percentile(xs, 75), 40)
        self.assertAlmostEqual(stats.percentile(xs, 90), 46)
        self.assertEqual(stats.percentile([7], 75), 7)
        self.assertEqual(stats.percentile([4, 1, 3, 2], 50), 2.5)

    def test_order_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2]
        self.assertEqual(stats.percentile(xs, 75), stats.percentile(sorted(xs), 75))

    def test_ten_samples_beyond_the_tail(self):
        # the loop's minimum op count puts at least 10 samples beyond the tail percentile
        self.assertEqual(stats.beyond(list(range(45)), stats.TAIL_PERCENTILE), 11)
        self.assertGreaterEqual(stats.beyond(list(range(45)), stats.TAIL_PERCENTILE), stats.TAIL_MIN_BEYOND)
        self.assertLess(stats.beyond(list(range(36)), stats.TAIL_PERCENTILE), stats.TAIL_MIN_BEYOND)
        # ties at the cut are not beyond it
        self.assertEqual(stats.beyond([1] * 20, 75), 0)

    def test_quartile_spread(self):
        xs = [8, 9, 10, 11, 12]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(stats.quartile_spread(xs), (q3 - q1) / q2)


class TypicalLatency(unittest.TestCase):
    def test_median_per_kind_then_geometric_mean(self):
        lat = [100, 400, 110, 90, 5000, 420, 380]
        kinds = ["a", "b", "a", "a", "b", "b", "b"]
        # a: median 100; b: median of 400, 5000, 420, 380 = 410; the 5 s outlier does not count
        self.assertAlmostEqual(stats.typical_latency(lat, kinds), (100 * 410) ** 0.5)

    def test_one_kind_is_the_median(self):
        self.assertEqual(stats.typical_latency([3.0, 1.0, 2.0], ["build"] * 3), 2.0)

    def test_each_kind_weighs_the_same_whatever_its_count(self):
        self.assertAlmostEqual(stats.typical_latency([10, 10, 10, 1000], ["a", "a", "a", "b"]), 100)


class SelfTime(unittest.TestCase):
    def test_union_of_overlapping_intervals(self):
        self.assertEqual(stats.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_overlapping_children_count_once(self):
        self.assertEqual(stats.self_time((0, 10), [(1, 4), (3, 6)]), 5)

    def test_children_are_clipped_to_the_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 2), (9, 20)]), 7)
        self.assertEqual(stats.self_time((0, 10), [(20, 30)]), 10)

    def test_span_stats_attribution(self):
        trace = {
            "spans": [
                {"id": 0, "name": "build", "parent": -1, "t0": 0, "t1": 100, "rows": 0},
                {"id": 1, "name": "synth", "parent": 0, "t0": 0, "t1": 40, "rows": 0},
                {"id": 2, "name": "dq", "parent": 0, "t0": 50, "t1": 90, "rows": 3},
            ],
            "jobs": [
                {"span": 1, "t0": 5, "t1": 35, "stages": 2, "stages_run": 2, "tasks": 4, "failed_tasks": 0,
                 "busy_ms": 80, "shuffle_write_bytes": 1 << 20, "spill_bytes": 0, "records_written": 10},
                {"span": 2, "t0": 60, "t1": 70, "stages": 3, "stages_run": 1, "tasks": 2, "failed_tasks": 1,
                 "busy_ms": 20, "shuffle_write_bytes": 0, "spill_bytes": 0, "records_written": 0},
            ],
            "execs": [{"t": 6, "plan_ms": 2.0, "exchanges": 1}, {"t": 55, "plan_ms": 3.0, "exchanges": 2}],
        }
        st = stats.span_stats(trace, cores=4)
        build, synth, dq = st[0], st[1], st[2]
        self.assertEqual(build["jobs"], 2)
        self.assertAlmostEqual(build["self_s"], 0.02)
        self.assertAlmostEqual(build["driver_gap_s"], 0.06)
        self.assertEqual(build["exchanges"], 3)
        self.assertEqual(build["rows_out"], 13)
        self.assertAlmostEqual(synth["core_util"], 80 / (40 * 4))
        self.assertEqual(synth["shuffle_write_mb"], 1)
        self.assertEqual(dq["plan_ms"], 3.0)
        self.assertEqual(dq["task_failures"], 1)
        self.assertEqual((build["stages"], build["stages_run"]), (5, 3))


class SweepFamilies(unittest.TestCase):
    def job(self, span, stages, run):
        return {"span": span, "t0": 0, "t1": 1, "stages": stages, "stages_run": run, "tasks": 1,
                "failed_tasks": 0, "busy_ms": 1, "shuffle_write_bytes": 0, "spill_bytes": 0,
                "records_written": 0}

    def test_family_figures_are_per_traced_pass(self):
        # two traced passes; ext.text runs two queries in each
        spans = [
            {"id": 0, "name": "sweep", "parent": -1, "t0": 0, "t1": 100, "rows": 0},
            {"id": 1, "name": "ext.text", "parent": 0, "t0": 0, "t1": 10, "rows": 5},
            {"id": 2, "name": "ext.text", "parent": 0, "t0": 10, "t1": 30, "rows": 5},
            {"id": 3, "name": "sweep", "parent": -1, "t0": 100, "t1": 200, "rows": 0},
            {"id": 4, "name": "ext.text", "parent": 3, "t0": 100, "t1": 130, "rows": 5},
        ]
        raw = {
            "latencies_ms": [100.0, 100.0], "traced": [True, True], "peak_rss_mb": 1.0,
            "host": {"cores": 4},
            "trace_record": {"spans": spans, "execs": [],
                             "jobs": [self.job(1, 4, 1), self.job(2, 2, 2), self.job(4, 2, 2)]},
        }
        layer = stats.per_layer(raw)
        self.assertAlmostEqual(layer["ext.text.wall_s"]["value"], (0.01 + 0.02 + 0.03) / 2)
        self.assertEqual(layer["ext.text.jobs"]["value"], 1.5)
        # 3 of the 8 stages were never submitted: their output was reused
        self.assertAlmostEqual(layer["ext.text.stage_reuse"]["value"], 3 / 8)
        self.assertEqual(layer["ext.graph.wall_s"]["value"], 0.0)


class ErrorRate(unittest.TestCase):
    def test_counts_failed_over_attempted(self):
        self.assertEqual(stats.error_rate(50, 0), 0)
        self.assertEqual(stats.error_rate(40, 2), 0.05)
        with self.assertRaises(ValueError):
            stats.error_rate(0, 0)


class Verdict(unittest.TestCase):
    parent = [100, 102, 98, 101, 99, 100, 103, 97, 100, 101]

    def test_needs_ten_pairs(self):
        self.assertEqual(stats.verdict(self.parent[:9], self.parent[:9], "lower", 0.1), "unresolved")

    def test_improved_needs_nine_in_ten_wins_beyond_the_spread(self):
        faster = [x * 0.8 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, faster, "lower", 0.1), "improved")
        # eight wins of ten is not enough
        mixed = faster[:8] + [110, 110]
        self.assertEqual(stats.verdict(self.parent, mixed, "lower", 0.5), "no worse")

    def test_worse_beyond_the_bound(self):
        slower = [x * 1.3 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, slower, "lower", 0.1), "worse")
        self.assertEqual(stats.verdict(self.parent, slower, "higher", 0.1), "improved")
        self.assertEqual(stats.verdict(self.parent, [x * 1.05 for x in self.parent], "lower", 0.1), "no worse")

    def test_more_failed_ops_is_worse_however_fast(self):
        faster = [x * 0.5 for x in self.parent]
        self.assertEqual(stats.verdict(self.parent, faster, "lower", 0.1, parent_failed=0, change_failed=1), "worse")
        self.assertEqual(stats.verdict(self.parent[:3], faster[:3], "lower", 0.1, 0, 2), "worse")
        # failures the parent shares do not decide the verdict
        self.assertEqual(stats.verdict(self.parent, faster, "lower", 0.1, 2, 2), "improved")

    def test_spread_wider_than_the_bound_is_unresolved(self):
        noisy = [60, 140, 70, 130, 80, 120, 90, 110, 100, 150]
        self.assertEqual(stats.verdict(self.parent, noisy, "lower", 0.1), "unresolved")


class Compare(unittest.TestCase):
    """compare.py end to end on two sets of run records."""

    def records(self, d, scale, failures):
        os.makedirs(d)
        for i in range(10):
            m = {n: {"value": scale * (100 + i % 3), "unit": u} for n, u in stats.END_TO_END}
            rec = {"workload": "mart_queries", "trace": 0, "started": i, "attempted": 50,
                   "failures": [{"op": "q#1", "error": "deadline"}] * failures[i], "metrics": m}
            with open(os.path.join(d, f"{i}.json"), "w") as fh:
                json.dump(rec, fh)

    def compare(self, change_scale, change_failures):
        import subprocess
        import tempfile
        with tempfile.TemporaryDirectory() as t:
            self.records(os.path.join(t, "p"), 1.0, [0] * 10)
            self.records(os.path.join(t, "c"), change_scale, change_failures)
            return subprocess.run([sys.executable, os.path.join(HERE, "compare.py"),
                                   os.path.join(t, "p"), os.path.join(t, "c")],
                                  capture_output=True, text=True)

    def test_a_change_that_fails_ops_is_worse(self):
        # lower latencies, but one run timed out an op: never reported as improved
        r = self.compare(0.5, [0] * 9 + [1])
        self.assertEqual(r.returncode, 1)
        self.assertIn("0/500, 1/500", r.stdout)
        self.assertNotIn("improved", r.stdout)

    def test_same_failures_compare_by_metric(self):
        r = self.compare(1.0, [0] * 10)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr)
        self.assertIn("no worse", r.stdout)


class MetricLists(unittest.TestCase):
    def test_benchmark_json_lists_what_run_py_reports(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            bench = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], stats.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], stats.PER_LAYER)

    def test_end_to_end_and_per_layer_reductions(self):
        raw = {
            "setup_s": 25.0, "latencies_ms": [100.0, 300.0, 200.0, 400.0],
            "rows": [10, 10, 10, 10], "traced": [True, False, True, False], "peak_rss_mb": 900.0,
            "kinds": ["a", "a", "b", "b"],
            "host": {"cores": 4},
            "trace_record": {"spans": [], "jobs": [], "execs": []},
        }
        e2e = stats.end_to_end(raw)
        self.assertEqual(e2e["setup_s"]["value"], 25.0)
        self.assertAlmostEqual(e2e["op_geomean_ms"]["value"], (200.0 * 300.0) ** 0.5)
        self.assertEqual(e2e["ops_per_s"]["value"], 4.0)
        self.assertEqual(e2e["rows_per_s"]["value"], 40.0)
        layer = stats.per_layer(raw)
        self.assertEqual(set(layer), {n for n, _ in stats.PER_LAYER})
        self.assertAlmostEqual(layer["trace_overhead"]["value"], 150 / 350 - 1)


if __name__ == "__main__":
    unittest.main()
