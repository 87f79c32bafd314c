"""Tests of the benchmark's arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import math
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import stats  # noqa: E402

MS = 1_000_000


class Percentile(unittest.TestCase):
    def test_interpolates_between_order_statistics(self):
        xs = list(range(1, 102))
        self.assertEqual(stats.percentile(xs, 0.5), (51, 50))
        self.assertEqual(stats.percentile(list(reversed(xs)), 0.9), (91, 10))
        self.assertAlmostEqual(stats.percentile([1, 2, 3, 4], 0.5)[0], 2.5)
        self.assertAlmostEqual(stats.percentile([0, 10], 0.7)[0], 7)
        self.assertEqual(stats.percentile([5], 0.7), (5, 0))

    def test_samples_beyond(self):
        # 21 samples leave ten above the median, 20 leave ten, 19 leave nine
        self.assertEqual(stats.percentile(range(21), 0.5)[1], 10)
        self.assertEqual(stats.percentile(range(20), 0.5)[1], 10)
        self.assertEqual(stats.percentile(range(19), 0.5)[1], 9)
        # ties at the percentile are not beyond it
        self.assertEqual(stats.percentile([1] * 40, 0.5)[1], 0)

    def test_end_to_end_refuses_an_unsupported_percentile(self):
        run = {"executions": [{"t0": 0, "t1": (i + 1) * MS} for i in range(19)],
               "setup_s": 1.0}
        with self.assertRaises(ValueError):
            stats.end_to_end(run, [True] * 19)
        run["executions"] += [{"t0": 0, "t1": (i + 1) * MS} for i in range(19, 24)]
        m = stats.end_to_end(run, [True] * 23 + [False])
        self.assertAlmostEqual(m["latency_p50_s"][0], 0.0125)
        self.assertAlmostEqual(m["ok_frac"][0], 23 / 24)
        self.assertAlmostEqual(m["qps"][0], 23 / (sum(range(1, 25)) / 1e3))


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 8, 4]), 4)
        self.assertAlmostEqual(stats.geomean([0.5] * 7), 0.5)

    def test_every_query_counts_equally(self):
        # halving one short query moves the geomean as much as halving a long one
        a = stats.geomean([0.1, 10])
        self.assertAlmostEqual(stats.geomean([0.05, 10]) / a, stats.geomean([0.1, 5]) / a)
        self.assertAlmostEqual(stats.geomean([0.05, 10]) / a, 1 / math.sqrt(2))

    def test_rejects_nonpositive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])


class SpanArithmetic(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(stats.union_length([(0, 10), (5, 15)], 8, 12), 4)
        self.assertEqual(stats.union_length([(0, 10), (10, 20)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 100), []), 100)
        self.assertEqual(stats.self_time((0, 100), [(10, 30), (20, 40)]), 70)
        # child time outside the span does not count against it
        self.assertEqual(stats.self_time((0, 100), [(90, 150), (-5, 5)]), 85)


def execution(jobs, analysis=None):
    x = {"t0": 0, "tb": 40 * MS, "to": 45 * MS, "tp": 50 * MS, "t1": 100 * MS,
         "jobs": [[i, s * MS, e * MS] for i, (s, e) in enumerate(jobs)]}
    if analysis:
        x["analysis"] = [analysis[0] * MS, analysis[1] * MS]
    return x


class LayerSum(unittest.TestCase):
    def test_layers_sum_to_wall(self):
        # two build-phase jobs, two overlapping execute-phase jobs
        b = stats.layer_breakdown(execution([(5, 15), (20, 30), (55, 80), (60, 90)], (32, 38)))
        self.assertEqual(b["wall"], 100 * MS)
        self.assertEqual(b["job"], 55 * MS)
        self.assertEqual(b["self"]["analysis"], 6 * MS)
        self.assertEqual(b["self"]["optimize"], 5 * MS)
        self.assertEqual(b["self"]["plan"], 5 * MS)
        # build 40 - jobs 20 - analysis 6, plus execute 50 - jobs 35
        self.assertEqual(b["gap"], 29 * MS)
        self.assertEqual(b["sum"], b["wall"])
        self.assertEqual(b["build_jobs"], 2)
        self.assertEqual(b["collect_tail"], 10 * MS)
        self.assertTrue(stats.sum_ok(b))

    def test_job_in_analysis_counts_once(self):
        b = stats.layer_breakdown(execution([(33, 36)], (32, 38)))
        self.assertEqual(b["self"]["analysis"], 3 * MS)
        self.assertEqual(b["sum"], b["wall"])

    def test_job_started_before_the_query_hangs_under_build(self):
        # listener times are whole milliseconds: a start may round below t0
        b = stats.layer_breakdown(execution([(-1, 10)]))
        self.assertEqual(b["build_jobs"], 1)
        self.assertEqual(b["sum"], b["wall"])

    def test_tolerance_flags_double_counted_time(self):
        # a build-phase job that runs on into the analysis span is counted
        # as job time and as analysis time
        b = stats.layer_breakdown(execution([(30, 35)], (32, 38)))
        self.assertEqual(b["sum"] - b["wall"], 3 * MS)
        self.assertTrue(stats.sum_ok(b))
        b = stats.layer_breakdown(execution([(20, 37)], (32, 38)))
        self.assertEqual(b["sum"] - b["wall"], 5 * MS)
        self.assertFalse(stats.sum_ok(b))


if __name__ == "__main__":
    unittest.main()
