"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s kgbench/tests
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_none_below_twenty_samples(self):
        # the lowest candidate, the median, needs ten samples beyond it
        self.assertIsNone(stats.tail(range(1, 20)))
        self.assertEqual(stats.tail(range(1, 21)), (50, 10))

    def test_highest_percentile_with_ten_beyond(self):
        # 100 samples: p90 leaves exactly ten above it, p95 only five
        self.assertEqual(stats.tail(range(1, 101)), (90, 90))
        # 1000 samples: p99 leaves ten above it
        self.assertEqual(stats.tail(range(1, 1001)), (99, 990))
        # 40 samples: p75 leaves ten, p90 only four
        self.assertEqual(stats.tail(range(1, 41)), (75, 30))

    def test_order_of_samples_does_not_matter(self):
        xs = [5, 3, 9, 1, 7, 2, 8, 6, 4, 10, 11, 12]
        self.assertEqual(stats.tail(xs), stats.tail(sorted(xs)))


class CoverageTest(unittest.TestCase):
    def test_idle_is_span_time_not_covered_by_any_task(self):
        # span 0..10; tasks 1..3 and 2..4 overlap (union 1..4), 6..7, and
        # one task sticking out past the end (9..12 counts 9..10)
        tasks = [(1, 3), (2, 4), (6, 7), (9, 12)]
        self.assertAlmostEqual(stats.idle_time(0, 10, tasks), 10 - 3 - 1 - 1)

    def test_idle_without_tasks_is_the_whole_span(self):
        self.assertEqual(stats.idle_time(5, 8, []), 3)

    def test_tasks_outside_the_span_do_not_count(self):
        self.assertEqual(stats.idle_time(5, 8, [(0, 4), (9, 10)]), 3)

    def test_self_time_is_span_minus_child_coverage(self):
        children = [(2, 5), (4, 6), (8, 9)]
        self.assertAlmostEqual(stats.self_time(0, 10, children), 10 - 4 - 1)

    def test_leaf_self_time_is_its_wall_time(self):
        self.assertEqual(stats.self_time(3, 7.5, []), 4.5)


class LayerMetricsTest(unittest.TestCase):
    def test_tasks_and_jobs_go_to_the_innermost_span(self):
        trace = {
            "spans": [
                {"id": 0, "name": "op", "parent": -1, "op": 0, "start": 0,
                 "end": 10000, "rows": 0},
                {"id": 1, "name": "chunk", "parent": 0, "op": 0, "start": 1000,
                 "end": 4000, "rows": 7},
                {"id": 2, "name": "cc", "parent": 0, "op": 0, "start": 5000,
                 "end": 9000, "rows": 3},
            ],
            # launch, finish, run_ms, shuffle bytes, spill bytes, failed
            "tasks": [[1500, 2500, 900, 2**20, 0, 0],
                      [2000, 3000, 800, 0, 0, 0],
                      [6000, 7000, 1000, 0, 0, 0],
                      [200, 300, 100, 0, 0, 0]],
            "jobs": [1100, 5100, 5200, 100],
        }
        m = stats.layer_metrics(trace, traced_ops=1)
        self.assertAlmostEqual(m["chunk.wall_s"], 3.0)
        self.assertAlmostEqual(m["chunk.task_s"], 1.7)
        self.assertAlmostEqual(m["chunk.idle_s"], 3.0 - 1.5)
        self.assertEqual(m["chunk.jobs"], 1)
        self.assertEqual(m["chunk.rows_out"], 7)
        self.assertAlmostEqual(m["chunk.shuffle_mb"], 1.0)
        self.assertAlmostEqual(m["cc.idle_s"], 3.0)
        self.assertEqual(m["cc.jobs"], 2)
        self.assertEqual(m["read.wall_s"], 0.0)

    def test_values_are_per_traced_operation(self):
        span = {"name": "ner", "parent": -1, "rows": 10}
        trace = {"spans": [dict(span, id=0, op=0, start=0, end=2000),
                           dict(span, id=1, op=1, start=3000, end=7000)],
                 "tasks": [], "jobs": []}
        m = stats.layer_metrics(trace, traced_ops=2)
        self.assertAlmostEqual(m["ner.wall_s"], 3.0)
        self.assertEqual(m["ner.rows_out"], 10)


if __name__ == "__main__":
    unittest.main()
