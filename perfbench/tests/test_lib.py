"""The benchmark's own tests: python3 -m unittest discover -s perfbench/tests"""
import json
import os
import sys
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import compare  # noqa: E402
import lib  # noqa: E402


class PercentileTest(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond_it(self):
        self.assertIsNone(lib.percentile(range(1, 100), 0.9))
        self.assertEqual(lib.percentile(range(1, 101), 0.9), 90)
        self.assertIsNone(lib.percentile([1.0] * 50, 0.9))

    def test_median_needs_ten_beyond_too(self):
        self.assertIsNone(lib.percentile(range(19), 0.5))
        self.assertEqual(lib.percentile(range(1, 21), 0.5), 10)

    def test_empty(self):
        self.assertIsNone(lib.percentile([], 0.5))


class SelfTimeTest(unittest.TestCase):
    def test_no_children(self):
        self.assertEqual(lib.self_time((0, 100), []), 100)

    def test_children_subtracted(self):
        self.assertEqual(lib.self_time((0, 100), [(10, 20), (40, 70)]), 60)

    def test_overlapping_children_count_once(self):
        self.assertEqual(lib.self_time((0, 100), [(10, 30), (20, 40), (20, 25)]), 70)

    def test_children_clipped_to_span(self):
        self.assertEqual(lib.self_time((0, 100), [(-10, 10), (90, 200), (150, 160)]), 80)

    def test_compose_driver_time(self):
        spans = [
            [0, -1, "op q1", 0, 100], [1, 0, "compose", 0, 60], [2, 1, "job 1", 10, 30],
            [3, 0, "exec", 60, 100], [4, 3, "job 2", 60, 90],
            [5, -1, "op q2", 100, 200], [6, 5, "compose", 100, 150],
            # a probe after the measured spans does not count
            [7, -1, "op probe", 200, 300], [8, 7, "compose", 200, 300],
        ]
        # (60 - 20) + 50 ns over 2 units
        self.assertAlmostEqual(lib.compose_driver_s(spans, 7, 2), 45e-9)


class DeclaredMetricsTest(unittest.TestCase):
    units = {"a": "s", "b": "count"}

    def test_exact_set_prints(self):
        line = json.loads(lib.result_line(True, 3, 0, {"a": 1.5, "b": 2}, self.units))
        self.assertEqual(set(line["metrics"]), {"a", "b"})
        self.assertEqual(line["metrics"]["a"], {"value": 1.5, "unit": "s"})
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})

    def test_missing_metric_refused(self):
        with self.assertRaises(ValueError):
            lib.result_line(True, 1, 0, {"a": 1.0}, self.units)

    def test_undeclared_metric_refused(self):
        with self.assertRaises(ValueError):
            lib.result_line(True, 1, 0, {"a": 1.0, "b": 2.0, "c": 3.0}, self.units)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(lib.ROOT, "BENCHMARK.json")) as fh:
            self.b = json.load(fh)

    def test_contract_shape(self):
        b = self.b
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads",
                                  "end_to_end", "per_layer"})
        names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + \
            [w["name"] for w in b["workloads"]]
        self.assertEqual(len(names), len(set(names)))
        self.assertTrue(all(m["bound"] <= 0.25 for m in b["end_to_end"]))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup[0]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in b["end_to_end"]), setup[0]["bound"])

    def test_declared_workloads_are_the_runnable_ones(self):
        import run
        self.assertEqual({w["name"] for w in self.b["workloads"]}, set(run.WORKLOADS))


class EngineConfTest(unittest.TestCase):
    def test_bench_conf_block(self):
        master, conf = lib.bench_conf(4)
        self.assertEqual(master, "local[4]")
        self.assertEqual(conf["spark.sql.shuffle.partitions"], "4")
        self.assertEqual(conf["spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"], "true")
        self.assertEqual(conf["spark.cleaner.referenceTracking.cleanCheckpoints"], "true")


class CompareTest(unittest.TestCase):
    def test_protocol_mismatch_refused_seed_ignored(self):
        a = {"workload": "jobchain", "cpus": 4, "seed": 1, "git_commit": "x", "sql_conf": {"k": "1"}}
        self.assertEqual(compare.protocol_diff(a, dict(a, seed=2, git_commit="y")), [])
        self.assertEqual(compare.protocol_diff(a, dict(a, cpus=8)), ["cpus"])
        self.assertEqual(compare.protocol_diff(a, dict(a, sql_conf={"k": "2"})), ["sql_conf"])


if __name__ == "__main__":
    unittest.main()
