"""Percentile, median and request-summary math of the benchmark.

Run from the repository root: python3 -m unittest discover -s perfbench/tests -t perfbench
"""
import unittest

from bench import stats


class MedianTest(unittest.TestCase):
    def test_odd_count_is_the_middle_value(self):
        self.assertEqual(stats.median([3.0, 1.0, 2.0]), 2.0)

    def test_even_count_averages_the_two_middle_values(self):
        # the same rule as graft.Bench.median
        self.assertEqual(stats.median([4.0, 1.0, 3.0, 2.0]), 2.5)

    def test_no_samples_is_an_error(self):
        with self.assertRaises(ValueError):
            stats.median([])


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.percentile(xs, 50), 50)
        self.assertEqual(stats.percentile(xs, 90), 90)
        self.assertEqual(stats.percentile(xs, 100), 100)
        self.assertEqual(stats.percentile([5.0, 1.0, 3.0], 0), 1.0)

    def test_tail_leaves_ten_samples_beyond(self):
        for n in range(20, 400):
            q = stats.tail_percentile(n)
            xs = list(range(n))
            beyond = sum(1 for x in xs if x > stats.percentile(xs, q))
            self.assertGreaterEqual(beyond, 10, n)
            # ... and is the highest whole percentile that does
            if q < 100:
                above = sum(1 for x in xs if x > stats.percentile(xs, q + 1))
                self.assertLess(above, 10, n)

    def test_tail_choice_examples(self):
        self.assertEqual(stats.tail_percentile(20), 50)
        self.assertEqual(stats.tail_percentile(30), 66)
        self.assertEqual(stats.tail_percentile(100), 90)
        self.assertEqual(stats.tail_percentile(1000), 99)

    def test_fewer_than_twenty_samples_use_the_maximum(self):
        for n in (1, 10, 11, 19):
            self.assertEqual(stats.tail_percentile(n), 100)


def req(key, seconds, ok=True):
    return {"key": key, "seconds": seconds, "ok": ok}


class SummarizeTest(unittest.TestCase):
    def test_a_failed_request_counts_as_failed_and_adds_no_sample(self):
        reqs = [req("a", 1.0), req("b", 2.0), req("c", 0.001, ok=False), req("d", 3.0)]
        s = stats.summarize(reqs)
        self.assertEqual(s["attempted"], 4)
        self.assertEqual(s["failed"], 1)
        self.assertEqual(s["samples"], 3)
        # the failure's 1 ms would otherwise pull the median down to 1.5
        self.assertEqual(s["latency_p50_s"], 2.0)

    def test_all_failed_has_no_latency(self):
        s = stats.summarize([req("a", 1.0, ok=False)])
        self.assertEqual((s["attempted"], s["failed"], s["samples"]), (1, 1, 0))
        self.assertNotIn("latency_p50_s", s)


if __name__ == "__main__":
    unittest.main()
