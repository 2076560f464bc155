"""Tests for the benchmark's arithmetic. Run: python3 perfbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertIsNone(stats.tail(range(19)))

    def test_twenty_samples_reach_the_median_only(self):
        # p50 of 20 is rank 10, leaving exactly 10 beyond; p75 leaves 5
        self.assertEqual(stats.tail(range(1, 21)), (50.0, 10))

    def test_rung_needs_ten_beyond(self):
        # 40 samples: p75 is rank 30 with 10 beyond; p90 would leave 4
        self.assertEqual(stats.tail(range(1, 41)), (75.0, 30))
        # 100 samples: p90 is rank 90 with 10 beyond; p95 leaves 5
        self.assertEqual(stats.tail(range(1, 101)), (90.0, 90))

    def test_large_counts_climb_the_ladder(self):
        self.assertEqual(stats.tail(range(1, 1001)), (99.0, 990))
        self.assertEqual(stats.tail(range(1, 10001)), (99.9, 9990))

    def test_order_does_not_matter(self):
        xs = list(range(1, 41))
        self.assertEqual(stats.tail(reversed(xs)), stats.tail(xs))

    def test_beyond_counts(self):
        self.assertEqual(stats.beyond(20, 50), 10)
        self.assertEqual(stats.beyond(21, 50), 10)
        self.assertEqual(stats.beyond(19, 50), 9)


class UnionTest(unittest.TestCase):
    def test_disjoint(self):
        self.assertEqual(stats.union_length([(0, 1), (2, 4)]), 3)

    def test_overlapping_counted_once(self):
        self.assertEqual(stats.union_length([(0, 3), (1, 2), (2, 5)]), 5)

    def test_touching_and_unsorted(self):
        self.assertEqual(stats.union_length([(4, 6), (0, 2), (2, 4)]), 6)

    def test_empty_and_degenerate(self):
        self.assertEqual(stats.union_length([]), 0)
        self.assertEqual(stats.union_length([(3, 3), (5, 4)]), 0)

    def test_concurrent_jobs_as_job_time(self):
        # three jobs run side by side the way parallel commit jobs do,
        # then one alone: job time is 4 + 2, not 4 + 4 + 3 + 2
        jobs = [(10, 14), (10, 13), (11, 14), (16, 18)]
        self.assertEqual(stats.union_length(jobs), 6)


class SelfTimeTest(unittest.TestCase):
    def span(self, i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_sequential_children(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 1, 3), self.span(3, 1, 5, 9)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 4, 2: 2, 3: 4})
        self.assertEqual(sum(st.values()), 10)

    def test_overlapping_children_counted_once(self):
        # two concurrent jobs under one call: the call's self time is
        # what neither job covers, and the overlap is split between them
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 2, 7), self.span(3, 1, 4, 8)]
        st = stats.self_times(spans)
        self.assertEqual(st, {1: 4, 2: 3.5, 3: 2.5})
        self.assertEqual(sum(st.values()), 10)

    def test_parallel_jobs_with_stages_account_for_the_call(self):
        # three inParallel commit jobs, each with one stage, under one
        # call, then a serial job: self times still sum to the call's wall
        spans = [self.span(1, 0, 0, 12),
                 self.span(2, 1, 1, 5), self.span(3, 1, 1, 4), self.span(4, 1, 2, 5),
                 self.span(5, 2, 1, 5), self.span(6, 3, 1, 4), self.span(7, 4, 2, 5),
                 self.span(8, 1, 6, 10), self.span(9, 8, 7, 9)]
        st = stats.self_times(spans)
        self.assertEqual(st[1], 4)  # [0, 1), [5, 6) and [10, 12)
        self.assertEqual(st[8], 2)  # its stage covers [7, 9)
        self.assertAlmostEqual(sum(st.values()), 12)

    def test_children_clipped_to_parent(self):
        spans = [self.span(1, 0, 0, 10), self.span(2, 1, 8, 12)]
        self.assertEqual(stats.self_times(spans), {1: 8, 2: 2})

    def test_nested_tree_accounts_for_root(self):
        spans = [self.span(1, 0, 0, 20), self.span(2, 1, 0, 10), self.span(3, 1, 10, 20),
                 self.span(4, 2, 1, 4), self.span(5, 2, 3, 6), self.span(6, 4, 2, 3)]
        st = stats.self_times(spans)
        self.assertEqual(st[2], 5)  # 10 minus the union [1, 6)
        self.assertEqual(st[4], 1.5)  # shares [3, 4) with its sibling 5
        self.assertEqual(sum(st.values()), 20)

    def test_orphans_are_roots(self):
        spans = [self.span(1, 99, 0, 3), self.span(2, 1, 1, 2)]
        self.assertEqual(stats.self_times(spans), {1: 2, 2: 1})


class FailRatioTest(unittest.TestCase):
    def test_ratio(self):
        self.assertEqual(stats.fail_ratio(40, 0), 0)
        self.assertEqual(stats.fail_ratio(40, 10), 0.25)

    def test_nothing_attempted_is_a_total_failure(self):
        self.assertEqual(stats.fail_ratio(0, 0), 1.0)


class GeomeanTest(unittest.TestCase):
    def test_geomean(self):
        self.assertAlmostEqual(stats.geomean([1, 4, 16]), 4)


if __name__ == "__main__":
    unittest.main()
