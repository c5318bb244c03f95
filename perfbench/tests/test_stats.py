import os
import statistics
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import layers  # noqa: E402
import stats  # noqa: E402


class OrderStatsTest(unittest.TestCase):
    def test_quartiles_match_statistics_quantiles(self):
        xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
        q1, med, q3 = stats.quartiles(xs)
        self.assertEqual([q1, med, q3], statistics.quantiles(xs, n=4))
        self.assertEqual(med, statistics.median(xs))
        self.assertEqual(stats.quartiles([2.5]), (2.5, 2.5, 2.5))

    def test_tail_pct_leaves_ten_samples_beyond(self):
        self.assertEqual(stats.tail_pct(100), 90)
        self.assertEqual(stats.tail_pct(28), 64)
        self.assertEqual(stats.tail_pct(5), 50)
        for n in range(20, 200):
            p = stats.tail_pct(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, p))
            self.assertGreaterEqual(beyond, 10, n)
            self.assertLess(n - stats.percentile(xs, p + 1) - 1, 10, n)

    def test_percentile_is_nearest_rank(self):
        xs = [10, 20, 30, 40]
        self.assertEqual(stats.percentile(xs, 50), 20)
        self.assertEqual(stats.percentile(xs, 51), 30)
        self.assertEqual(stats.percentile(xs, 100), 40)


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_part_and_shares_overlaps(self):
        spans = [dict(id=0, kind="op", start=0, end=10, parent=None),
                 dict(id=1, kind="job", start=2, end=6, parent=0),
                 dict(id=2, kind="job", start=4, end=8, parent=0),
                 dict(id=3, kind="stage", start=3, end=5, parent=1)]
        own = stats.self_times(spans)
        self.assertEqual(own, {0: 4, 1: 1.5, 2: 3, 3: 1.5})
        self.assertEqual(sum(own.values()), 10)

    def test_children_are_clipped_to_their_parent(self):
        spans = [dict(id=0, kind="op", start=0, end=10, parent=None),
                 dict(id=1, kind="job", start=8, end=14, parent=0),
                 dict(id=2, kind="stage", start=12, end=13, parent=1)]
        stats.clip_to_parents(spans)
        self.assertEqual([(s["start"], s["end"]) for s in spans], [(0, 10), (8, 10), (10, 10)])
        self.assertEqual(stats.self_times(spans), {0: 8, 1: 2, 2: 0})

    def test_parents_are_innermost_containing_outer_span(self):
        spans = [dict(id=0, kind="construct", start=0, end=10, parent=None),
                 dict(id=1, kind="batch", start=1, end=6, parent=None),
                 dict(id=2, kind="query", start=2, end=5, parent=None),
                 dict(id=3, kind="job", start=3, end=4, parent=None),
                 dict(id=4, kind="job", start=7, end=8, parent=None)]
        stats.assign_parents(spans, layers.DEPTH)
        self.assertEqual([s["parent"] for s in spans], [None, 0, 1, 2, 0])

    def test_layer_self_times_cover_the_op(self):
        op = dict(id=1, kind="op", start=0, end=100, parent=None, compile_ms=10)
        spans = [op,
                 dict(id=2, kind="construct", start=0, end=30, parent=1),
                 dict(id=3, kind="execute", start=30, end=100, parent=1),
                 dict(id=4, kind="planning", start=30, end=40, parent=3),
                 dict(id=5, kind="query", start=40, end=100, parent=3),
                 dict(id=6, kind="job", start=50, end=90, parent=5),
                 dict(id=7, kind="stage", start=50, end=90, parent=6,
                      m=dict(task_ms=100, run_ms=80, shuffle_write_ns=10e6, fetch_wait_ms=0))]
        got = layers.layer_self(spans)
        self.assertAlmostEqual(got["queries"], 0.030)
        self.assertAlmostEqual(got["plans"], 0.010)
        self.assertAlmostEqual(got["codegen"], 0.010)
        self.assertAlmostEqual(got["shuffle"], 0.004)
        self.assertAlmostEqual(got["exec"], 0.028)
        self.assertAlmostEqual(got["sched"], 0.018)
        self.assertAlmostEqual(sum(got[k] for k in layers.LAYERS), 0.100)


if __name__ == "__main__":
    unittest.main()
