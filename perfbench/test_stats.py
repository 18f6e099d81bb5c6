"""Tests of the benchmark's own statistics.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import math
import unittest

import stats


class TailPercentile(unittest.TestCase):
    def test_p90_needs_a_hundred_samples(self):
        self.assertEqual(stats.tail_q(100), 0.9)
        self.assertEqual(stats.tail_q(1000), 0.9)

    def test_fewer_samples_lower_the_percentile(self):
        self.assertAlmostEqual(stats.tail_q(50), 0.8)
        self.assertAlmostEqual(stats.tail_q(25), 0.6)

    def test_never_below_the_median(self):
        self.assertEqual(stats.tail_q(15), 0.5)
        self.assertEqual(stats.tail_q(0), 0.5)

    def test_leaves_exactly_ten_samples_beyond(self):
        for n in (25, 50, 99, 100, 250):
            xs = list(range(1, n + 1))
            v = stats.percentile(xs, stats.tail_q(n))
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)

    def test_tail_is_never_below_the_median(self):
        r = stats.summary([1.0, 2.0, 3.0, 4.0], planned=4)
        self.assertEqual(r["tail_q"], 0.5)
        self.assertAlmostEqual(r["p50"], 2.5)
        self.assertAlmostEqual(r["tail"], 2.5)

    def test_nearest_rank(self):
        self.assertEqual(stats.percentile([3, 1, 2, 4], 0.5), 2)
        self.assertEqual(stats.percentile([5], 0.9), 5)
        self.assertTrue(math.isnan(stats.percentile([], 0.5)))


class OpenLoop(unittest.TestCase):
    @staticmethod
    def sample(due, submit, end, error=None):
        return {"due": due, "submit": submit, "end": end, "error": error}

    def test_latency_runs_from_the_due_time(self):
        # Request 0 stalls for 3 s; 1 and 2 were due during the stall and
        # are charged the wait even though each ran for only 0.5 s.
        s = [self.sample(0.0, 0.0, 3.0), self.sample(1.0, 1.0, 3.5),
             self.sample(2.0, 2.0, 4.0)]
        r = stats.open_loop(s, planned=3)
        self.assertAlmostEqual(r["p50"], 2.5)

    def test_generator_lateness_is_submit_minus_due(self):
        s = [self.sample(0.0, 0.25, 1.0), self.sample(1.0, 1.0, 2.0),
             self.sample(2.0, 1.9, 3.0)]
        r = stats.open_loop(s, planned=3)
        self.assertAlmostEqual(r["lateness_tail"], 0.0)
        s[2]["submit"] = 2.5
        self.assertAlmostEqual(stats.open_loop(s, planned=3)["lateness_tail"], 0.25)

    def test_failed_and_missing_requests_count_as_infinitely_slow(self):
        s = [self.sample(0.0, 0.0, 1.0), self.sample(1.0, 1.0, 1.5, error="boom")]
        r = stats.open_loop(s, planned=4)
        self.assertEqual(r["n"], 4)
        self.assertEqual(r["p50"], math.inf)
        ok = stats.open_loop(s[:1] * 3 + s[1:], planned=4)
        self.assertAlmostEqual(ok["p50"], 1.0)


class SelfTime(unittest.TestCase):
    @staticmethod
    def span(i, parent, name, start, end):
        return {"id": i, "parent": parent, "req": 7, "name": name, "start": start, "end": end}

    def test_self_time_subtracts_the_union_of_children(self):
        spans = [self.span(1, 0, "op", 0.0, 10.0),
                 self.span(2, 1, "queries.build", 1.0, 3.0),
                 self.span(3, 1, "exec", 2.0, 5.0),      # overlaps its sibling
                 self.span(4, 1, "driver.collect", 7.0, 8.0),
                 self.span(5, 3, "sources.write", 4.0, 4.5)]
        own = stats.self_times(spans)
        self.assertAlmostEqual(own[1], 10.0 - 5.0)      # covered: [1,5] and [7,8]
        self.assertAlmostEqual(own[3], 3.0 - 0.5)
        self.assertAlmostEqual(own[4], 1.0)

    def test_children_outside_the_parent_are_clipped(self):
        spans = [self.span(1, 0, "op", 0.0, 2.0), self.span(2, 1, "exec", 1.5, 3.0)]
        self.assertAlmostEqual(stats.self_times(spans)[1], 1.5)

    def test_layer_self_times_add_up_to_the_wall_time(self):
        spans = [self.span(1, 0, "op", 0.0, 10.0),
                 self.span(2, 1, "queries.build", 1.0, 3.0),
                 self.span(3, 1, "exec", 3.0, 9.0),
                 self.span(4, 3, "sources.write", 4.0, 6.0)]
        (row,) = stats.layer_table(spans)
        self.assertEqual(row["name"], "op")
        self.assertAlmostEqual(row["wall"], 10.0)
        self.assertAlmostEqual(sum(row["self"].values()), row["wall"])
        self.assertAlmostEqual(row["self"]["exec"], 4.0)

    def test_concurrent_operations_are_rows_of_their_own(self):
        spans = [self.span(1, 0, "rollup", 0.0, 5.0),
                 self.span(2, 1, "op", 0.0, 4.0), self.span(3, 2, "exec", 1.0, 4.0),
                 self.span(4, 1, "op", 0.5, 5.0), self.span(5, 4, "exec", 0.5, 3.0)]
        rows = stats.layer_table(spans)
        self.assertEqual(sorted(r["wall"] for r in rows), [4.0, 4.5])
        for r in rows:
            self.assertAlmostEqual(sum(r["self"].values()), r["wall"])


if __name__ == "__main__":
    unittest.main()
