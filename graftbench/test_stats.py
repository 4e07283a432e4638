#!/usr/bin/env python3
"""Self-tests of the benchmark's statistics: python3 graftbench/test_stats.py"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import stats  # noqa: E402
import run  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        self.assertEqual(stats.percentile([1, 2, 3, 4, 5], 0.5), 3)
        self.assertAlmostEqual(stats.percentile([0, 10], 0.9), 9.0)
        self.assertEqual(stats.percentile([7], 0.9), 7)

    def test_tail_needs_ten_beyond(self):
        self.assertIsNone(stats.tail_percentile(list(range(90))))  # 81..89 lie beyond 80.1
        p = stats.tail_percentile(list(range(101)))
        self.assertAlmostEqual(p, 90.0)  # 91..100 are 10 beyond

    def test_tail_counts_strictly_beyond(self):
        # ties at the percentile do not count as beyond it
        self.assertIsNone(stats.tail_percentile([1.0] * 200))

    def test_spread_matches_statistics_quantiles(self):
        v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, q2, q3 = 11.75, 14.5, 17.25  # the default 'exclusive' method
        self.assertAlmostEqual(stats.spread(v), (q3 - q1) / q2)


class Geomean(unittest.TestCase):
    def test_values(self):
        self.assertAlmostEqual(stats.geomean([1, 100]), 10)
        self.assertAlmostEqual(stats.geomean([2, 2, 2]), 2)

    def test_rejects_nonpositive(self):
        with self.assertRaises(ValueError):
            stats.geomean([1, 0])
        with self.assertRaises(ValueError):
            stats.geomean([])


class Spans(unittest.TestCase):
    def test_union_merges_overlaps(self):
        self.assertEqual(stats.union([(5, 7), (0, 2), (1, 3), (7, 8)]), [(0, 3), (5, 8)])
        self.assertEqual(stats.length([(0, 2), (1, 3), (10, 10)]), 3)

    def test_self_time_with_overlapping_children(self):
        # two concurrent children over [2, 6] and [4, 8] cover [2, 8] once
        self.assertEqual(stats.self_time((0, 10), [(2, 6), (4, 8)]), 4)

    def test_self_time_clips_children_to_span(self):
        self.assertEqual(stats.self_time((0, 10), [(-5, 1), (9, 20)]), 8)

    def test_layer_split_adds_up(self):
        root = (0.0, 10.0)
        layers = [("exec", [(3, 5), (4, 7)]), ("plans", [(2, 4)]), ("queries", [(0, 3)])]
        shares, un = stats.layer_split(root, layers)
        self.assertEqual(shares, {"exec": 4, "plans": 1, "queries": 2})
        self.assertEqual(un, 3)
        self.assertAlmostEqual(sum(shares.values()) + un, 10)

    def test_layer_split_ignores_time_outside_root(self):
        shares, un = stats.layer_split((0, 4), [("exec", [(-3, 1), (3, 9)])])
        self.assertEqual(shares, {"exec": 2})
        self.assertEqual(un, 2)


class OpenLoop(unittest.TestCase):
    def test_lateness(self):
        due = [0.0, 1.0, 2.0]
        landed = [0.5, 0.9, 2.25]
        self.assertEqual(stats.lateness(due, landed), [0.5, 0.0, 0.25])

    def test_freshness_counts_from_due_time(self):
        # a file due at t=1 that landed late at t=3 and was committed at t=4
        # is 3 s stale, not 1 s: the stall is charged to the request
        record = {
            "mv_writes": [{"batch": 0, "start": 3500.0, "end": 4000.0}],
            "file_batches": {"f_00000": 0},
            "landed": [{"file": "f_00000", "due": 1000.0, "landed": 3000.0}],
            "reads": [{"start": 0.0, "end": 100.0}],
            "check": {"view_rows": 1, "view_fingerprint": "a", "want_rows": 1, "want_fingerprint": "a"},
            "drains": [{"start": 0.0, "end": 2000.0, "rows": 1000}],
            "rows_per_file": 100, "dup_percent": 0, "live_from_batch": 0,
            "batches": [{"batch": 0, "rows": 100, "start": 3000.0, "triggerExecution_ms": 1500}],
        }
        m, attempted, failures = run.ingest_metrics(record)
        self.assertEqual(m["latency_p50_s"], 3.0)
        self.assertEqual(m["drain_rows_per_s"], 500.0)
        self.assertEqual(m["mv_read_p50_s"], 0.1)
        self.assertEqual(failures, [])
        self.assertEqual(attempted, 4)
        # 100 rows offered over the 2 s from due to landing, against 500 rows/s
        self.assertAlmostEqual(m["offered_share"], 0.1)
        self.assertEqual(m["busy_share"], 0.0)  # the batch starts as the window ends
        self.assertEqual(m["files_per_batch"], 1)


class TraceCheck(unittest.TestCase):
    roots = [{"query": "a", "start": 0.0, "end": 100.0}, {"query": "b", "start": 100.0, "end": 200.0}]

    def test_jobs_and_phases_inside_their_query_are_matched(self):
        t = {"jobs": [{"query": "a", "start": 10.0, "end": 50.0}, {"query": "b", "start": 150.0, "end": 200.5}],
             "phases": [{"phase": "planning", "start": 5.0, "end": 9.0},
                        {"phase": "plan_shape", "start": 300.0, "end": 300.0}]}
        self.assertEqual(run.unmatched_share(t, self.roots), 0.0)

    def test_job_of_another_query_or_untagged_is_not(self):
        t = {"jobs": [{"query": "b", "start": 10.0, "end": 50.0}, {"query": "", "start": 150.0, "end": 160.0}],
             "phases": []}
        self.assertEqual(run.unmatched_share(t, self.roots), 1.0)

    def test_time_past_the_query_end_is_not(self):
        # listener times are whole milliseconds: 1 ms past the end is slack
        t = {"jobs": [{"query": "b", "start": 180.0, "end": 221.0}], "phases": []}
        self.assertAlmostEqual(run.unmatched_share(t, self.roots), 20 / 41)


class Sampling(unittest.TestCase):
    def expected(self, n):
        return {"queries": {f"q{i:04d}": {"cost_s": 0.01 * (i + 1)} for i in range(n)}}

    def test_one_query_per_stratum(self):
        width = 10
        e = self.expected(width * run.INVENTORY_SAMPLE)
        s = run.inventory_sample(e, seed=3)
        self.assertEqual(len(s), run.INVENTORY_SAMPLE)
        strata = sorted(int(n[1:]) // width for n in s)
        self.assertEqual(strata, list(range(run.INVENTORY_SAMPLE)))

    def test_seed_decides(self):
        e = self.expected(160)
        self.assertEqual(run.inventory_sample(e, 5), run.inventory_sample(e, 5))
        self.assertNotEqual(run.inventory_sample(e, 5), run.inventory_sample(e, 6))

    def test_over_budget_is_listed_not_sampled(self):
        e = self.expected(40)
        e["queries"]["slow"] = {"cost_s": run.QUERY_BUDGET_S + 1}
        self.assertEqual(run.over_budget(e), ["slow"])
        for seed in range(20):
            self.assertNotIn("slow", run.inventory_sample(e, seed))


if __name__ == "__main__":
    unittest.main()
