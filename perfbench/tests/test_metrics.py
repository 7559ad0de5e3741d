"""Tests for the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import metrics  # noqa: E402


def span(i, start, end, parent=0, name="s", op="", build_end=None, **attrs):
    return {"id": i, "parent": parent, "name": name, "op": op,
            "start_ms": start, "end_ms": end, "build_end_ms": build_end,
            "attrs": attrs}


class TailPercentile(unittest.TestCase):
    def test_keeps_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples
        v, p, n = metrics.tail_percentile(xs)
        self.assertEqual((v, p, n), (90, 90, 100))
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_highest_qualifying_percentile_on_odd_count(self):
        v, p, n = metrics.tail_percentile(list(range(1, 31)))
        # p66 ranks ceil(19.8) = 20 with 10 beyond; p67 would leave 9
        self.assertEqual((v, p, n), (20, 66, 30))

    def test_too_few_samples_reports_maximum(self):
        self.assertEqual(metrics.tail_percentile([3.0, 1.0, 2.0]), (3.0, 100, 3))

    def test_order_does_not_matter(self):
        xs = [5, 1, 9, 3, 7] * 6
        self.assertEqual(metrics.tail_percentile(xs),
                         metrics.tail_percentile(sorted(xs)))


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(0, 4), (2, 6), (8, 10), (9, 12)]
        self.assertEqual(metrics.union_length(iv), 10)
        self.assertEqual(metrics.union_length(iv, 3, 9), 4)

    def test_self_time_subtracts_covered_part_once(self):
        parent = span(1, 0, 100)
        kids = [span(2, 10, 40, 1), span(3, 30, 50, 1), span(4, 90, 130, 1)]
        # children cover 10..50 and 90..100 of the parent
        self.assertEqual(metrics.self_time(parent, kids), 50)

    def test_driver_gap_is_span_minus_job_union(self):
        s = span(1, 0, 100)
        jobs = [{"start_ms": -5, "end_ms": 20}, {"start_ms": 10, "end_ms": 30},
                {"start_ms": 60, "end_ms": 70}]
        # jobs cover 0..30 (clipped at the span start) and 60..70
        self.assertEqual(metrics.driver_gap(s, jobs), 60)

    def test_driver_gap_without_jobs_is_whole_span(self):
        self.assertEqual(metrics.driver_gap(span(1, 5, 25), []), 20)


class Ratios(unittest.TestCase):
    def test_files_read_frac(self):
        self.assertEqual(metrics.files_read_frac(3, 12), 0.25)
        self.assertEqual(metrics.files_read_frac(0, 0), 0.0)

    def test_growth_ratio_skips_first_batch(self):
        self.assertEqual(metrics.growth_ratio([9.0, 1.0, 1.0, 2.0, 2.0]), 2.0)
        self.assertEqual(metrics.growth_ratio([5.0]), 1.0)

    def test_spread_matches_statistics_quantiles(self):
        xs = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(metrics.spread(xs), (q3 - q1) / q2)


class PerLayer(unittest.TestCase):
    def record(self):
        spans = [span(1, 0, 1000, name="curate_batch.pass"),
                 span(2, 100, 400, 1, "operators.DedupQueries",
                      "q84_cluster_survivor", build_end=250),
                 span(3, 500, 900, 1, "sinks.ManifestTable.read", "read",
                      files_read=2, files_total=8)]
        jobs = [{"start_ms": 150, "end_ms": 200, "cpu_s": 0.5,
                 "shuffle_write_bytes": 10},
                {"start_ms": 300, "end_ms": 350, "cpu_s": 0.25,
                 "shuffle_write_bytes": 5}]
        qes = [{"end_ms": 390, "analysis_s": 0.01, "optimization_s": 0.02,
                "planning_s": 0.03, "files_written": 1, "bytes_written": 64}]
        return {"workload": "curate_batch",
                "passes": [{"traced": False, "wall_s": 2.0, "jobs": 7, "ops": []},
                           {"traced": True, "wall_s": 2.5, "jobs": 7, "ops": []}],
                "trace": {"spans": spans, "jobs": jobs, "query_executions": qes,
                          "stream_progress": []}}

    def test_span_attribution(self):
        names = ["operators.DedupQueries.wall_s", "operators.DedupQueries.build_s",
                 "operators.DedupQueries.jobs", "operators.DedupQueries.driver_gap_s",
                 "operators.DedupQueries.task_cpu_s",
                 "operators.q84_cluster_survivor.jobs",
                 "sinks.ManifestTable.read.files_read_frac", "plans.planning_s",
                 "shuffle_bytes", "tracing_overhead", "jobs_per_pass",
                 "operators.CurationQueries.wall_s"]
        got = metrics.per_layer(self.record(), names)
        self.assertAlmostEqual(got["operators.DedupQueries.wall_s"], 0.3)
        self.assertAlmostEqual(got["operators.DedupQueries.build_s"], 0.15)
        self.assertEqual(got["operators.DedupQueries.jobs"], 2)
        self.assertAlmostEqual(got["operators.DedupQueries.driver_gap_s"], 0.2)
        self.assertAlmostEqual(got["operators.DedupQueries.task_cpu_s"], 0.75)
        self.assertEqual(got["operators.q84_cluster_survivor.jobs"], 2)
        self.assertEqual(got["sinks.ManifestTable.read.files_read_frac"], 0.25)
        self.assertAlmostEqual(got["plans.planning_s"], 0.03)
        self.assertEqual(got["shuffle_bytes"], 15)
        self.assertEqual(got["tracing_overhead"], 1.25)
        self.assertEqual(got["jobs_per_pass"], 7)
        # a layer the workload never calls reads 0
        self.assertEqual(got["operators.CurationQueries.wall_s"], 0.0)

    def test_unknown_name_is_an_error(self):
        with self.assertRaises(KeyError):
            metrics.per_layer(self.record(), ["no.such.metric"])


if __name__ == "__main__":
    unittest.main()
