"""Span parents and self time."""
import unittest

from bench import spans


def sp(name, start, end, request=0):
    return {"name": name, "request": request, "start_ms": start, "end_ms": end}


class SelfTimeTest(unittest.TestCase):
    def test_self_time_subtracts_covered_child_time(self):
        s = [sp("request", 0, 1000), sp("registry.build", 0, 200),
             sp("sink.write", 200, 1000), sp("exec.job", 300, 700), sp("exec.job", 500, 900)]
        t = spans.self_times(s)
        self.assertAlmostEqual(t["request"], 0.0)
        self.assertAlmostEqual(t["registry.build"], 0.2)
        self.assertAlmostEqual(t["sink.write"], 0.2)  # 800 ms minus the 600 ms union of jobs
        self.assertAlmostEqual(t["exec.job"], 0.8)

    def test_parent_is_the_innermost_span_of_the_same_request(self):
        s = [sp("request", 0, 100), sp("sink.write", 10, 90), sp("exec.job", 20, 30),
             sp("request", 0, 100, request=1)]
        self.assertEqual(spans.assign_parents(s), [None, 0, 1, None])

    def test_equal_intervals_nest_in_listing_order(self):
        s = [sp("request", 0, 10), sp("sink.write", 0, 10), sp("exec.job", 0, 10)]
        self.assertEqual(spans.assign_parents(s), [None, 0, 1])

    def test_union_of_overlapping_intervals(self):
        self.assertEqual(spans.covered([(0, 10), (5, 15), (20, 30)]), 25)


if __name__ == "__main__":
    unittest.main()
