"""Tests of the benchmark's statistics helpers.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import stats
import stream_metrics
import tracefile


class PercentileTest(unittest.TestCase):
    def test_interpolates_between_ranks(self):
        xs = [1.0, 2.0, 3.0, 4.0]
        self.assertEqual(stats.percentile(xs, 0), 1.0)
        self.assertEqual(stats.percentile(xs, 100), 4.0)
        self.assertAlmostEqual(stats.percentile(xs, 50), 2.5)
        self.assertAlmostEqual(stats.percentile(xs, 25), 1.75)

    def test_order_does_not_matter(self):
        self.assertEqual(stats.median([5.0, 1.0, 3.0]), 3.0)

    def test_single_sample(self):
        self.assertEqual(stats.percentile([7.0], 99), 7.0)

    def test_empty_sample_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.percentile([], 50)


class TailTest(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50.0)
        self.assertEqual(stats.tail_percentile(40), 75.0)
        self.assertEqual(stats.tail_percentile(100), 90.0)
        self.assertEqual(stats.tail_percentile(199), 90.0)
        self.assertEqual(stats.tail_percentile(200), 95.0)
        self.assertEqual(stats.tail_percentile(1000), 99.0)
        self.assertEqual(stats.tail_percentile(10000), 99.9)

    def test_tail_of_a_small_sample_is_its_maximum(self):
        self.assertEqual(stats.tail([3.0, 1.0, 2.0]), (100.0, 3.0))

    def test_tail_value(self):
        p, v = stats.tail([float(i) for i in range(100)])
        self.assertEqual(p, 90.0)
        self.assertAlmostEqual(v, 89.1)


class FreshnessTest(unittest.TestCase):
    def write_log(self, d, name, version, entries):
        with open(os.path.join(d, name), "w") as f:
            f.write(f"v{version}\n")
            for path, batch in entries:
                f.write(json.dumps({"path": f"file:///in/{path}", "timestamp": 1,
                                    "batchId": batch}) + "\n")

    def test_source_log_maps_files_to_batches(self):
        with tempfile.TemporaryDirectory() as d:
            self.write_log(d, "0", 1, [("a.json", 0), ("b.json", 0)])
            self.write_log(d, "1", 1, [("c.json", 1)])
            open(os.path.join(d, ".1.crc"), "w").close()
            self.assertEqual(stats.read_source_log(d),
                             {"a.json": 0, "b.json": 0, "c.json": 1})

    def test_compacted_log_keeps_each_entrys_batch(self):
        with tempfile.TemporaryDirectory() as d:
            self.write_log(d, "9.compact", 1, [("a.json", 3), ("b.json", 9)])
            self.write_log(d, "10", 1, [("c.json", 10)])
            self.assertEqual(stats.read_source_log(d),
                             {"a.json": 3, "b.json": 9, "c.json": 10})

    def test_missing_log_is_empty(self):
        self.assertEqual(stats.read_source_log("/nonexistent/sources/0"), {})

    def test_freshness_is_commit_minus_due(self):
        values, missing = stats.freshness(
            {"a": 1000, "b": 1500, "c": 2000},
            {"a": 0, "b": 1},
            {0: 3000, 1: 4000})
        self.assertEqual(values, [2.0, 2.5])
        self.assertEqual(missing, 1)

    def test_uncommitted_batch_counts_as_missing(self):
        values, missing = stats.freshness({"a": 0}, {"a": 5}, {0: 10})
        self.assertEqual((values, missing), ([], 1))

    def test_stream_metrics_from_a_run(self):
        with tempfile.TemporaryDirectory() as d:
            self.write_log(d, "0", 1, [("f0", 0), ("f1", 0)])
            self.write_log(d, "1", 1, [("f2", 1), ("f3", 1)])
            batches = [{"batch": 0, "start_ms": 1000, "end_ms": 1500},
                       {"batch": 1, "start_ms": 3000, "end_ms": 4000}]
            raw = {"stream": {
                "phase_b_start_ms": 2000, "gold_source_log": d, "silver_source_log": d,
                "silver_batches": batches,
                "files": [
                    {"name": "f0", "due_ms": 0, "written_ms": 0, "lines": 10},
                    {"name": "f1", "due_ms": 1000, "written_ms": 1000, "lines": 10},
                    {"name": "f2", "due_ms": 2000, "written_ms": 2000, "lines": 100},
                    {"name": "f3", "due_ms": 2500, "written_ms": 2500, "lines": 100}],
                "gold_batches": batches}}
            m = stream_metrics.compute(raw)
            self.assertEqual(m["freshness"], [1.5, 0.5])
            self.assertEqual(m["capacity_eps"], 100.0)
            self.assertEqual(m["rows_per_batch"], [20, 200])
            # f2 and f3 land at 2.0 s and 2.5 s; batch 1 commits at 4.0 s
            self.assertEqual(m["backlog"], [1, 2])
            self.assertEqual(m["failed"], 0)
            self.assertEqual(m["silver"]["capacity_eps"], 100.0)


class BacklogTest(unittest.TestCase):
    def test_growing_backlog(self):
        self.assertTrue(stats.backlog_growing([(0, 1), (1, 3), (2, 6), (3, 9), (4, 12), (5, 15)]))

    def test_steady_backlog(self):
        self.assertFalse(stats.backlog_growing([(0, 2), (1, 3), (2, 2), (3, 3), (4, 2), (5, 3)]))

    def test_draining_backlog(self):
        self.assertFalse(stats.backlog_growing([(0, 9), (1, 7), (2, 5), (3, 3), (4, 1), (5, 0)]))

    def test_too_few_points(self):
        self.assertFalse(stats.backlog_growing([(0, 1), (1, 50)]))

    def test_noise_below_the_growth_threshold(self):
        self.assertFalse(stats.backlog_growing([(0, 1), (1, 1), (2, 2), (3, 2), (4, 2), (5, 2)]))


class TraceTest(unittest.TestCase):
    def test_self_time_subtracts_the_union_of_children(self):
        spans = [
            {"id": 0, "name": "run#0", "parent": -1, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "name": "ingest", "parent": 0, "start_s": 1.0, "end_s": 4.0},
            {"id": 2, "name": "fact", "parent": 0, "start_s": 3.0, "end_s": 6.0},
            {"id": 3, "name": "score", "parent": 0, "start_s": 8.0, "end_s": 9.0},
        ]
        s = tracefile.self_times(spans)
        self.assertAlmostEqual(s[0], 4.0)
        self.assertAlmostEqual(s[1], 3.0)
        self.assertAlmostEqual(sum(s.values()), 11.0)

    def test_coverage_of_a_written_trace(self):
        spans = [
            {"id": 0, "name": "run#0", "parent": -1, "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "name": "ingest", "parent": 0, "start_s": 1.0, "end_s": 4.0},
        ]
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "trace.json")
            self.assertAlmostEqual(tracefile.write({"trace": spans}, "w", path), 1.0)
            with open(path) as f:
                self.assertAlmostEqual(json.load(f)["self_s_by_layer"]["run"], 7.0)


if __name__ == "__main__":
    unittest.main()
