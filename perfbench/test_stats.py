"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402
import stats  # noqa: E402


class TailRule(unittest.TestCase):
    def test_needs_eleven_samples(self):
        self.assertIsNone(stats.tail(list(range(10))))
        self.assertEqual(stats.tail(list(range(11))), (0, 100.0 / 11, 11))

    def test_ten_samples_beyond(self):
        values = list(range(100, 0, -1))  # order must not matter
        value, pct, n = stats.tail(values)
        self.assertEqual((value, pct, n), (90, 90.0, 100))
        self.assertEqual(sum(1 for v in values if v > value), 10)

    def test_highest_such_percentile(self):
        value, pct, n = stats.tail([float(i) for i in range(1, 41)])
        self.assertEqual((value, pct, n), (30.0, 75.0, 40))


class SelfTime(unittest.TestCase):
    def span(self, i, parent, name, start, end):
        return dict(id=i, parent=parent, name=name, op=0, start=start, end=end)

    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (20, 25), (21, 22)]), 20)
        self.assertEqual(stats.union_length([]), 0)

    def test_self_is_duration_minus_children(self):
        spans = [self.span(0, -1, "bench.op", 0, 100),
                 self.span(1, 0, "sources.extract", 10, 40),
                 self.span(2, 0, "etl.transform", 40, 90),
                 self.span(3, 2, "etl.watermark", 50, 60)]
        selfs = stats.self_times(spans)
        self.assertEqual(selfs, {0: 20, 1: 30, 2: 40, 3: 10})
        # self times partition the root's wall time
        self.assertEqual(sum(selfs.values()), 100)

    def test_children_clipped_to_parent(self):
        spans = [self.span(0, -1, "a", 0, 10), self.span(1, 0, "b", 5, 20)]
        self.assertEqual(stats.self_times(spans)[0], 5)

    def test_jobs_attributed_to_group_then_innermost_open_span(self):
        spans = [self.span(0, -1, "bench.op", 0, 100), self.span(1, 0, "vtable.read", 10, 50)]
        jobs = [dict(group="pb-1", start=60, end=70),   # group wins over time
                dict(group="", start=20, end=30),       # innermost open span
                dict(group="", start=200, end=210)]     # no span open
        by = stats.attribute_jobs(spans, jobs)
        self.assertEqual([j["start"] for j in by[1]], [60, 20])
        self.assertEqual([j["start"] for j in by[None]], [200])

    def test_driver_gap_is_wall_minus_job_cover(self):
        spans = [self.span(0, -1, "bench.op", 0, 100), self.span(1, 0, "vtable.commit", 0, 80)]
        jobs = [dict(group="pb-1", start=10, end=30), dict(group="pb-1", start=20, end=40),
                dict(group="pb-0", start=90, end=120)]
        acc = stats.op_accounting(spans, stats.attribute_jobs(spans, jobs), 0)
        self.assertEqual(acc["wall"], 100)
        self.assertEqual(acc["jobs_covered"], 30 + 10)
        self.assertEqual(acc["driver_gap"], 60)
        self.assertEqual(acc["self_by_name"], {"bench.op": 20, "vtable.commit": 80})


class Compare(unittest.TestCase):
    def test_regression_beyond_bound(self):
        rows = stats.compare({"t": [1.0, 1.0, 1.0]}, {"t": [1.3, 1.3, 1.3]},
                             {"t": 0.25}, {"t": "lower"})
        self.assertEqual(rows[0]["verdict"], "regression")

    def test_moved_host_leaves_regression_unresolved(self):
        args = ({"t": [1.0, 1.0, 1.0]}, {"t": [1.3, 1.3, 1.3]}, {"t": 0.25}, {})
        self.assertEqual(stats.compare(*args, host_shift=0.3)[0]["verdict"], "unresolved")
        self.assertEqual(stats.compare(*args, host_shift=0.1)[0]["verdict"], "regression")

    def test_direction_higher(self):
        rows = stats.compare({"r": [10.0, 10.0, 10.0]}, {"r": [7.0, 7.0, 7.0]},
                             {"r": 0.25}, {"r": "higher"})
        self.assertAlmostEqual(rows[0]["worse_by"], 0.3)
        self.assertEqual(rows[0]["verdict"], "regression")

    def test_gain_needs_nine_tenths_of_pairs(self):
        base = [1.0, 1.01, 0.99, 1.0]
        rows = stats.compare({"t": base}, {"t": [0.8, 0.81, 0.79, 0.8]}, {"t": 0.25}, {})
        self.assertEqual(rows[0]["verdict"], "gain")
        rows = stats.compare({"t": base}, {"t": [0.8, 1.2, 0.79, 0.8]}, {"t": 0.25}, {})
        self.assertEqual(rows[0]["verdict"], "ok")

    def test_rank_changes_largest_first(self):
        out = stats.rank_changes({"a": [1.0], "b": [1.0], "c": [0.0]},
                                 {"a": [1.1], "b": [3.0], "c": [0.0]})
        self.assertEqual([r["metric"] for r in out], ["b", "a"])


class Record(unittest.TestCase):
    """The metric functions over a hand-made run record."""

    def record(self):
        ms = 1000000
        ops = [dict(i=i, kind="batch", cls="write", rows=100, traced=i % 2 == 1,
                    t0_ns=i * 10 * ms, t1_ns=(i * 10 + 4 + (i % 2)) * ms) for i in range(4)]
        spans = [[0, -1, "bench.op", 1, 10 * ms, 15 * ms],
                 [1, 0, "sources.extract", 1, 10 * ms, 12 * ms],
                 [2, 0, "warehouse.load", 1, 12 * ms, 15 * ms],
                 [3, -1, "bench.op", 3, 30 * ms, 35 * ms],
                 [4, 3, "sources.extract", 3, 30 * ms, 33 * ms]]
        # job times are wall-clock ms; spans use nanoTime = wall ns + offset
        jobs = [[0, "pb-1", 10, 12, 1, 4, 0, 8, 7 * ms, 1, 0, 100, 100, 0, 50, 0],
                [1, "pb-2", 13, 14, 2, 2, 1, 2, 2 * ms, 0, 1, 0, 0, 0, 0, 70]]
        return dict(ops=ops, spans=spans, jobs=jobs, nano_minus_wall_ns=0, cycle=1,
                    session_s=2.0, setup_repeats_s=[5.0, 1.0, 1.5], warm_up_s=3.0,
                    peak_rss_mb=900.0, failed=0, attempted=4, end_state={},
                    counters={"sources.pages_fetched": 4, "sources.requests": 6,
                              "etl.rows_in": 200, "etl.rows_kept": 150},
                    kernels_rows_per_s={})

    def test_end_to_end(self):
        m, detail = run.end_to_end(self.record())
        self.assertEqual(m["setup_s"], 2.0 + 1.5 + 3.0)
        self.assertAlmostEqual(m["ops_per_s"], 4 / 0.018)
        self.assertAlmostEqual(m["rows_per_s"], 400 / 0.018)
        self.assertAlmostEqual(m["op_p50_s"], 0.0045)
        self.assertIsNone(detail["op_tail_s"])  # four samples: no tail
        self.assertEqual(set(m), set(run.END_TO_END))

    def test_per_layer(self):
        m, detail = run.per_layer(self.record())
        self.assertEqual(set(m), set(run.PER_LAYER))
        self.assertAlmostEqual(m["sources.self_s"], (0.002 + 0.003) / 2)
        self.assertAlmostEqual(m["warehouse.self_s"], 0.003 / 2)
        self.assertAlmostEqual(m["bench.self_s"], 0.002 / 2)
        self.assertEqual(m["trace.accounting_residual_s"], 0.0)
        self.assertAlmostEqual(m["spark.jobs"], 1.0)
        self.assertAlmostEqual(m["spark.executor_cpu_s"], 0.009 / 2)
        # op 1 is covered by jobs for 2 + 1 ms of its 5; op 3 by none
        self.assertAlmostEqual(m["spark.driver_gap_s"], (0.002 + 0.005) / 2)
        self.assertEqual(m["etl.rows_kept_ratio"], 0.75)
        self.assertEqual(m["sources.requests"], 3.0)
        # traced ops take 5 ms, their untraced neighbours 4 ms
        self.assertAlmostEqual(m["trace.overhead_ratio"], 1.25)
        self.assertEqual(detail["traced_ops"], 2)


if __name__ == "__main__":
    unittest.main()
