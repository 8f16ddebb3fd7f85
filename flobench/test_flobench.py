"""Tests of the benchmark's own code: statistics, name rules, BENCHMARK.json.

Run from the root of a checkout: python3 -m unittest discover -s flobench
"""
import json
import os
import tempfile
import unittest

import gen
import run
import stats

HERE = os.path.dirname(os.path.abspath(__file__))


class MedianTest(unittest.TestCase):
    def test_odd_count_is_the_middle_value(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)

    def test_even_count_averages_the_two_middle_values(self):
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)

    def test_needs_ten_samples_beyond(self):
        # p90 of 100 samples leaves exactly 10 beyond it; of 99, only 9
        self.assertIsNotNone(stats.percentile(list(range(100)), 90))
        self.assertIsNone(stats.percentile(list(range(99)), 90))
        self.assertIsNone(stats.percentile(list(range(15)), 50))
        self.assertEqual(stats.percentile(list(range(1, 21)), 50), 10)

    def test_order_of_samples_does_not_matter(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0] * 10
        self.assertEqual(stats.percentile(xs, 50), stats.percentile(sorted(xs), 50))

    def test_percentile_outside_range_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([1.0] * 50, 100)


class NameRuleTest(unittest.TestCase):
    def test_names(self):
        for ok in ("pass_s", "setup_s", "engine.ack_read_ms", "query.q1-x.build_s", "9lives"):
            self.assertTrue(stats.is_name(ok), ok)
        for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65, None):
            self.assertFalse(stats.is_name(bad), bad)

    def test_units(self):
        for ok in ("ms", "s", "1/s", "ev/s", "count", "%", "bytes"):
            self.assertTrue(stats.is_unit(ok), ok)
        for bad in ("", "meters per second", "x" * 17, "µs"):
            self.assertFalse(stats.is_unit(bad), bad)

    def test_every_metric_the_runner_reports_is_well_named(self):
        for name, unit, better in run.END_TO_END + run.PER_LAYER:
            self.assertTrue(stats.is_name(name), name)
            self.assertTrue(stats.is_unit(unit), unit)
            self.assertIn(better, ("lower", "higher"))


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.doc = json.load(fh)

    def test_shape(self):
        self.assertEqual(stats.benchmark_problems(self.doc), [])

    def test_lists_what_the_runner_reports(self):
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.doc["end_to_end"]],
                         run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in self.doc["per_layer"]],
                         run.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in self.doc["workloads"]), sorted(run.INPUTS))

    def test_command_and_paths_stay_inside_the_benchmark(self):
        self.assertEqual(self.doc["paths"], ["flobench"])
        self.assertEqual(self.doc["command"], ["python3", "flobench/run.py"])

    def test_problems_are_reported(self):
        bad = dict(self.doc, run_seconds=0)
        self.assertTrue(stats.benchmark_problems(bad))
        bad = dict(self.doc, end_to_end=[dict(m, bound=0.3) for m in self.doc["end_to_end"]])
        self.assertTrue(stats.benchmark_problems(bad))
        bad = dict(self.doc, end_to_end=[m for m in self.doc["end_to_end"]
                                         if m["name"] != "setup_s"])
        self.assertTrue(stats.benchmark_problems(bad))
        bad = dict(self.doc, paths=["../elsewhere"])
        self.assertTrue(stats.benchmark_problems(bad))
        self.assertTrue(stats.benchmark_problems(dict(self.doc, extra=1)))


class InputsTest(unittest.TestCase):
    def test_same_seed_same_tables_and_another_seed_other_tables(self):
        import pyarrow.parquet as pq
        sizes = {"events": 300, "lineitem": 200, "documents": 40}
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.write(a, 7, sizes)
            gen.write(b, 7, sizes)
            gen.write(c, 8, sizes)
            for t, n in sizes.items():
                ta = pq.read_table(f"{a}/{t}.parquet")
                self.assertEqual(ta.num_rows, n)
                self.assertTrue(ta.equals(pq.read_table(f"{b}/{t}.parquet")), t)
                self.assertFalse(ta.equals(pq.read_table(f"{c}/{t}.parquet")), t)


if __name__ == "__main__":
    unittest.main()
