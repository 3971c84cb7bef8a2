"""Tests of the benchmark itself.

Usage: python3 -m unittest discover -s perfbench -p 'test_*.py'
Set PERFBENCH_SKIP_SMOKE=1 to skip the two smoke runs (about three minutes).
"""
import contextlib
import io
import json
import os
import unittest

import metrics
import run

BENCH = os.path.join(run.ROOT, "BENCHMARK.json")


class PercentileRule(unittest.TestCase):
    def test_ninety_needs_a_hundred_samples(self):
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 90.0)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertAlmostEqual(metrics.tail_percentile(50), 80.0)
        self.assertAlmostEqual(metrics.tail_percentile(40), 75.0)
        for n in (21, 30, 57, 99):
            p = metrics.tail_percentile(n)
            self.assertGreaterEqual(n * (1 - p / 100) + 1e-9, 10)

    def test_few_samples_fall_back_to_the_median(self):
        for n in (1, 5, 10, 20):
            self.assertEqual(metrics.tail_percentile(n), 50.0)
        with self.assertRaises(ValueError):
            metrics.tail_percentile(0)

    def test_nearest_rank_percentile(self):
        xs = [4.0, 1.0, 3.0, 2.0]
        self.assertEqual(metrics.percentile(xs, 50), 2.0)
        self.assertEqual(metrics.percentile(xs, 0), 1.0)
        self.assertEqual(metrics.percentile(xs, 100), 4.0)
        self.assertEqual(metrics.percentile([7.0], 90), 7.0)
        self.assertEqual(metrics.percentile(range(1, 101), 90), 90)
        with self.assertRaises(ValueError):
            metrics.percentile([], 50)

    def test_tail_percentile_leaves_ten_samples_beyond(self):
        for n in (21, 30, 36, 57, 99, 100, 250):
            xs = list(range(n))
            v = metrics.percentile(xs, metrics.tail_percentile(n))
            beyond = sum(x > v for x in xs)
            self.assertGreaterEqual(beyond, 10)
            if n <= 100:
                self.assertEqual(beyond, 10)


class IntervalUnion(unittest.TestCase):
    def test_union(self):
        self.assertEqual(metrics.union_length([]), 0)
        self.assertEqual(metrics.union_length([(0, 2), (5, 6)]), 3)
        self.assertEqual(metrics.union_length([(0, 4), (1, 2), (3, 6)]), 6)
        self.assertEqual(metrics.union_length([(3, 6), (0, 4)]), 6)
        self.assertEqual(metrics.union_length([(1, 1), (2, 3)]), 1)
        self.assertEqual(metrics.union_length([(0, 2), (2, 3)]), 3)

    def test_self_time_clips_children_to_the_span(self):
        self.assertEqual(metrics.self_time((10, 20), []), 10)
        self.assertEqual(metrics.self_time((10, 20), [(12, 14), (13, 15)]), 7)
        self.assertEqual(metrics.self_time((10, 20), [(5, 12), (18, 30)]), 6)
        self.assertEqual(metrics.self_time((10, 20), [(0, 5), (25, 30)]), 10)

    def test_layer_self_times(self):
        spans = [
            {"kind": "query", "group": "a#1", "start_ms": 0, "end_ms": 1000},
            {"kind": "run", "group": "a#1", "start_ms": 0, "end_ms": 400},
            {"kind": "write", "group": "a#1", "start_ms": 400, "end_ms": 1000},
            {"kind": "job", "group": "a#1", "start_ms": 100, "end_ms": 300},
            {"kind": "job", "group": "a#1", "start_ms": 500, "end_ms": 900},
            {"kind": "job", "group": "a#1", "start_ms": 600, "end_ms": 700},
        ]
        self.assertEqual(metrics.layer_self_times(spans),
                         {"query": 0.0, "run": 0.2, "write": 0.2, "job": 0.6})


class SeedOrder(unittest.TestCase):
    names = [f"q{i:02d}" for i in range(40)]

    def test_same_seed_same_order(self):
        a = metrics.pass_order(self.names, 7, 3)
        self.assertEqual(a, metrics.pass_order(list(reversed(self.names)), 7, 3))
        self.assertEqual(sorted(a), self.names)

    def test_seed_and_pass_change_the_order(self):
        a = metrics.pass_order(self.names, 7, 3)
        self.assertNotEqual(a, metrics.pass_order(self.names, 8, 3))
        self.assertNotEqual(a, metrics.pass_order(self.names, 7, 4))

    def test_known_order(self):
        # pins the rule the Scala harness mirrors: sha256("seed:pass:name")
        self.assertEqual(metrics.pass_order(["a", "b", "c", "d"], 1, 0),
                         ["a", "d", "b", "c"])


@unittest.skipIf(os.environ.get("PERFBENCH_SKIP_SMOKE"), "smoke runs skipped")
class Smoke(unittest.TestCase):
    """One shortest run of the graph workload per mode, which also checks
    every graph query's output digest."""

    def run_bench(self, trace):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            run.main(["--workload", "graph", "--seed", "5", "--seconds", "0",
                      "--trace", str(trace)])
        return json.loads(buf.getvalue().strip().splitlines()[-1])

    def test_untraced_and_traced(self):
        with open(BENCH) as fh:
            spec = json.load(fh)
        with open(os.path.join(run.HERE, "workloads.json")) as fh:
            queries = json.load(fh)["graph"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            out = self.run_bench(trace)
            self.assertTrue(out["correct"], out)
            self.assertEqual(out["failed"], 0)
            # one warm-up and three timed passes
            self.assertEqual(out["attempted"], 4 * len(queries))
            self.assertEqual(sorted(out["metrics"]), sorted(m["name"] for m in spec[key]))
            for m in spec[key]:
                self.assertEqual(out["metrics"][m["name"]]["unit"], m["unit"])
        self.assertGreater(out["metrics"]["sched.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
