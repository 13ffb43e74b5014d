"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import math
import unittest

import stats


class PercentileRule(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(1, 11))
        self.assertEqual(stats.percentile(xs, 50), 5)
        self.assertEqual(stats.percentile(xs, 90), 9)
        self.assertEqual(stats.percentile(xs, 100), 10)
        self.assertEqual(stats.percentile(reversed(xs), 10), 1)
        self.assertEqual(stats.percentile([7.5], 95), 7.5)
        with self.assertRaises(ValueError):
            stats.percentile([], 50)

    def test_samples_beyond(self):
        self.assertEqual(stats.beyond(20, 50), 10)
        self.assertEqual(stats.beyond(19, 50), 9)
        self.assertEqual(stats.beyond(200, 95), 10)
        self.assertEqual(stats.beyond(199, 95), 9)

    def test_highest_percentile_with_ten_beyond(self):
        self.assertIsNone(stats.highest_supported(0))
        self.assertIsNone(stats.highest_supported(19))
        self.assertEqual(stats.highest_supported(20), 50)
        self.assertEqual(stats.highest_supported(39), 50)
        self.assertEqual(stats.highest_supported(40), 75)
        self.assertEqual(stats.highest_supported(100), 90)
        self.assertEqual(stats.highest_supported(199), 90)
        self.assertEqual(stats.highest_supported(200), 95)
        self.assertEqual(stats.highest_supported(1000), 99)


class SelfTime(unittest.TestCase):
    def test_union_merges_overlaps_and_nesting(self):
        self.assertEqual(stats.union_length([(0, 10), (5, 15), (6, 7)], 0, 100), 15)
        self.assertEqual(stats.union_length([(20, 30), (0, 10)], 0, 100), 20)
        self.assertEqual(stats.union_length([(0, 10), (10, 20)], 0, 100), 20)

    def test_union_clips_to_the_parent_span(self):
        self.assertEqual(stats.union_length([(-5, 5), (95, 120)], 0, 100), 10)
        self.assertEqual(stats.union_length([(100, 120), (-10, 0)], 0, 100), 0)

    def test_union_of_nothing(self):
        self.assertEqual(stats.union_length([], 0, 100), 0)
        self.assertEqual(stats.union_length([(5, 5)], 0, 100), 0)

    def test_self_time_is_wall_minus_covered(self):
        self.assertEqual(stats.self_time(100, 200, []), 100)
        self.assertEqual(stats.self_time(100, 200, [(110, 150), (140, 160), (190, 250)]), 40)
        self.assertEqual(stats.self_time(100, 200, [(50, 300)]), 0)


def record(ops, jobs=(), groups=None, queries=(), units=(1.0,)):
    return {"header": {"workload": "maintain"}, "setup_s": [1.0], "units_s": list(units),
            "ops": ops, "notes": {"rss_peak_mb": 100.0, "heap_mb": 64.0, "store_mb": 1.0},
            "trace": {"jobs": list(jobs), "groups": groups or {}, "queries": list(queries)}}


def op(seq, kind, start, end, failure=None, fs=0, extra=None):
    return {"seq": seq, "kind": kind, "start_ms": start,
            "end_ms": end, "wall_s": (end - start) / 1e3, "fs_meta_ops": fs,
            "extra": extra or {}, "failure": failure}


class LayerMetrics(unittest.TestCase):
    def test_spans_are_attributed_to_their_op(self):
        rec = record(
            [op(1, "commit", 1000, 1100, fs=7), op(2, "commit", 2000, 2300, fs=3)],
            jobs=[{"id": 0, "group": "op-1", "start_ms": 1010, "end_ms": 1050},
                  {"id": 1, "group": "op-1", "start_ms": 1040, "end_ms": 1060},
                  {"id": 2, "group": "op-2", "start_ms": 2000, "end_ms": 2100},
                  {"id": 3, "group": "", "start_ms": 1000, "end_ms": 2300}],
            groups={"op-1": {"tasks": 4, "task_ms": 2000, "output_bytes": 2e6},
                    "op-2": {"tasks": 2, "task_ms": 1000, "output_bytes": 0}},
            queries=[{"start_ms": 1005, "exchanges": 2,
                      "phases": [{"phase": "analysis", "start_ms": 1005, "end_ms": 1007},
                                 {"phase": "planning", "start_ms": 1007, "end_ms": 1010}]},
                     {"start_ms": 5000, "exchanges": 9, "phases": []}])
        m = stats.op_breakdown(rec)
        self.assertAlmostEqual(m["sources.commit.wall_ms"], 200)
        # op 1: 100 - 50 covered; op 2: 300 - 100 covered
        self.assertAlmostEqual(m["sources.commit.self_ms"], (50 + 200) / 2)
        self.assertAlmostEqual(m["sources.commit.planning_ms"], 5 / 2)
        self.assertAlmostEqual(m["sources.commit.jobs"], 1.5)
        self.assertAlmostEqual(m["sources.commit.tasks"], 3)
        self.assertAlmostEqual(m["sources.commit.task_s"], 1.5)
        self.assertAlmostEqual(m["sources.commit.exchanges"], 1)
        self.assertAlmostEqual(m["sources.commit.fs_meta_ops"], 5)
        self.assertAlmostEqual(m["sources.commit.output_mb"], 1)
        self.assertNotIn("transform.build.wall_ms", m)
        self.assertNotIn("sources.upsert.write_amp", m)
        self.assertLessEqual(set(m), set(stats.breakdown_units()))
        # layer totals: summed over both ops, per unit of work (2 units)
        rec["units_s"] = [1.0, 3.0]
        t = stats.per_layer(rec)
        self.assertEqual(set(t), {n for n, _ in stats.layer_metric_names()})
        self.assertAlmostEqual(t["spark.jobs"], 3 / 2)
        self.assertAlmostEqual(t["driver.self_ms"], 250 / 2)
        self.assertAlmostEqual(t["plans.planning_ms"], 5 / 2)
        self.assertAlmostEqual(t["sources.fs_meta_ops"], 10 / 2)
        self.assertAlmostEqual(t["trace.op_s_p50"], 2.0)

    def test_write_amp_is_upsert_over_commit_output(self):
        rec = record([op(1, "upsert", 0, 10), op(2, "commit", 10, 20)],
                     groups={"op-1": {"output_bytes": 6e6}, "op-2": {"output_bytes": 1e6}})
        self.assertAlmostEqual(stats.op_breakdown(rec)["sources.upsert.write_amp"], 6)

    def test_end_to_end_counts_failures(self):
        rec = record([op(1, "lookup", 0, 10), op(2, "lookup", 10, 30,
                                                 failure={"phase": "check", "cause": "x"})],
                     units=(3.0, 1.0, 2.0))
        e = stats.end_to_end(rec)
        self.assertEqual(e["ops_ok_frac"], 0.5)
        self.assertEqual(e["op_s_p50"], 2.0)
        self.assertEqual(e["offheap_peak_mb"], 36.0)
        d = stats.detail(rec)
        self.assertEqual(d["ops_failed_frac"][0], 0.5)
        self.assertAlmostEqual(d["lookup_ms_p50"][0], 10)
        self.assertIsNone(d["fold_s"][0])


class Verdicts(unittest.TestCase):
    parent = [10.0, 10.2, 9.9, 10.1, 10.0, 9.8, 10.3, 10.1, 9.9, 10.0]

    def pairs(self, change):
        return list(zip(self.parent, change))

    def test_insufficient_below_ten_pairs(self):
        self.assertEqual(stats.verdict(self.pairs(self.parent)[:9], "lower", 0.1),
                         "insufficient")

    def test_gain_when_nine_of_ten_win_by_more_than_the_iqr(self):
        change = [p - 1.0 for p in self.parent]
        change[3] = 12.0  # one loss
        self.assertEqual(stats.verdict(self.pairs(change), "lower", 0.2), "gain")

    def test_no_gain_with_eight_wins(self):
        change = [p - 1.0 for p in self.parent]
        change[3] = change[7] = 12.0
        self.assertNotEqual(stats.verdict(self.pairs(change), "lower", 0.2), "gain")

    def test_ties_count_for_neither_side(self):
        change = [p - 1.0 for p in self.parent]
        change[0] = self.parent[0]
        change[1] = self.parent[1]
        self.assertNotEqual(stats.verdict(self.pairs(change), "lower", 0.2), "gain")

    def test_no_gain_within_the_parent_iqr(self):
        change = [p - 0.01 for p in self.parent]
        self.assertEqual(stats.verdict(self.pairs(change), "lower", 0.2), "unchanged")

    def test_higher_is_better(self):
        change = [p + 1.0 for p in self.parent]
        self.assertEqual(stats.verdict(self.pairs(change), "higher", 0.2), "gain")
        self.assertEqual(stats.verdict(self.pairs(change), "lower", 0.05), "regression")

    def test_regression_beyond_the_bound(self):
        change = [p * 1.3 for p in self.parent]
        self.assertEqual(stats.verdict(self.pairs(change), "lower", 0.2), "regression")
        self.assertEqual(stats.verdict(self.pairs(change), "lower", 0.35), "unchanged")

    def test_unresolved_when_spread_exceeds_the_bound(self):
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 8.0, 12.0, 10.0]
        self.assertGreater(stats.spread(noisy), 0.1)
        self.assertEqual(stats.verdict(list(zip(noisy, noisy)), "lower", 0.1), "unresolved")

    def test_wide_spread_gain_still_needs_more_than_the_parent_iqr(self):
        noisy = [5.0, 15.0, 7.0, 13.0, 10.0, 6.0, 14.0, 8.0, 12.0, 10.0]
        change = [x / 10 for x in noisy]
        self.assertEqual(stats.verdict(list(zip(noisy, change)), "lower", 0.1), "gain")

    def test_wide_spread_every_run_better_within_the_iqr_is_not_worse(self):
        # parent IQR 20, medians 10 and 9: every change run is better,
        # but the medians differ by less than the parent's IQR
        parent = [10.0] * 7 + [30.0] * 3
        change = [9.0] * 10
        self.assertGreater(stats.spread(parent), 0.1)
        self.assertEqual(stats.verdict(list(zip(parent, change)), "lower", 0.1),
                         "not-worse")
        change[0] = 11.0
        self.assertEqual(stats.verdict(list(zip(parent, change)), "lower", 0.1),
                         "unresolved")

    def test_spread_uses_python_quartiles(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual((q1, q2, q3), (2.75, 5.5, 8.25))
        self.assertAlmostEqual(stats.spread(xs), 1.0)
        self.assertEqual(stats.spread([0.0] * 4), 0.0)
        self.assertEqual(stats.spread([-1.0, 0.0, 0.0, 1.0]), math.inf)


class LayerDiff(unittest.TestCase):
    def test_names_the_metrics_that_moved(self):
        parent = {"a.x.jobs": 10.0, "a.x.wall_ms": 100.0, "b.y.jobs": 0.0, "c.z.task_s": 2.0}
        change = {"a.x.jobs": 5.0, "a.x.wall_ms": 95.0, "b.y.jobs": 1.0, "c.z.task_s": 2.0}
        moved = stats.layer_diff(parent, change)
        self.assertEqual([m[0] for m in moved], ["b.y.jobs", "a.x.jobs"])
        self.assertAlmostEqual(moved[1][3], -0.5)


if __name__ == "__main__":
    unittest.main()
