"""Unit tests of the benchmark's arithmetic. Run from the repository root:

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import json
import os
import statistics
import unittest

import metrics
import stats


def span(i, name, start, end, parent=-1, trace=0):
    return {"id": i, "name": name, "start": start, "end": end, "parent": parent, "trace": trace}


class PercentileTest(unittest.TestCase):
    def test_matches_linear_interpolation(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0]
        self.assertEqual(stats.percentile(xs, 50), 3.0)
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 5.0)
        self.assertAlmostEqual(stats.percentile(xs, 90), 4.6)
        self.assertAlmostEqual(stats.percentile([1.0, 2.0], 25), 1.25)

    def test_single_value_and_empty(self):
        self.assertEqual(stats.percentile([7.0], 90), 7.0)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_median_agrees_with_statistics(self):
        for xs in ([3.0, 1.0, 2.0], [4.0, 1.0, 3.0, 2.0], [0.5] * 6 + [9.0]):
            self.assertAlmostEqual(stats.median(xs), statistics.median(xs))


class SelfTimeTest(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_subtracts_children(self):
        spans = [span(0, "batch", 0, 100), span(1, "write", 10, 60, 0),
                 span(2, "commit", 60, 90, 0), span(3, "job", 20, 30, 1)]
        st = stats.self_times(spans)
        self.assertEqual(st, {0: 20, 1: 40, 2: 30, 3: 10})
        # self times of a tree add up to the root's wall time
        self.assertEqual(sum(st.values()), 100)

    def test_overlapping_children_count_once_and_are_clipped(self):
        spans = [span(0, "root", 0, 50), span(1, "a", 10, 30, 0),
                 span(2, "b", 20, 40, 0), span(3, "c", 45, 70, 0)]
        self.assertEqual(stats.self_times(spans)[0], 50 - 30 - 5)

    def test_path_cover(self):
        spans = [span(0, "batch", 0, 100), span(1, "write", 0, 90, 0),
                 span(2, "batch", 100, 200, trace=1), span(3, "write", 100, 200, 2, trace=1),
                 span(4, "scan", 300, 400)]
        self.assertAlmostEqual(stats.path_cover(spans, "batch"), 190 / 200)
        self.assertEqual(stats.path_cover(spans, "missing"), 0.0)


class JobSplitTest(unittest.TestCase):
    def test_plan_jobs_footer(self):
        spans = [span(0, "lake.write", 100, 200, trace=3), span(1, "lake.write", 300, 350, trace=4)]
        jobs = [{"span": "lake.write", "trace": 3, "start": 120, "end": 150},
                {"span": "lake.write", "trace": 3, "start": 140, "end": 180},
                {"span": "lake.read", "trace": 3, "start": 100, "end": 200}]
        self.assertEqual(stats.job_split(spans, jobs, "lake.write"), ([20], [60], [20]))

    def test_overhead_sign(self):
        self.assertAlmostEqual(stats.overhead(100, 110, "lower"), 0.1)
        self.assertAlmostEqual(stats.overhead(100, 80, "higher"), 0.25)
        self.assertEqual(stats.overhead(0, 5, "lower"), 0.0)


class ContractTest(unittest.TestCase):
    def test_benchmark_json_matches_code(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as fh:
            bench = json.load(fh)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(metrics.WORKLOADS))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in bench["end_to_end"]],
                         [(m["name"], m["unit"], m["better"]) for m in metrics.END_TO_END])
        self.assertEqual(bench["per_layer"], metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
