"""Tests of the benchmark's own arithmetic. Run from the repository root:

    python3 -m unittest discover -s filterbench -p 'test_*.py'
"""
import json
import os
import unittest

import metrics as M
import report
import run


class TailTest(unittest.TestCase):
    def test_tail_has_exactly_ten_samples_beyond(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        v, pct, n = M.tail(xs)
        self.assertEqual(n, 100)
        self.assertEqual(v, 90)
        self.assertEqual(sum(1 for x in xs if x > v), 10)
        self.assertAlmostEqual(pct, 90.0)

    def test_tail_percentile_follows_sample_count(self):
        v, pct, n = M.tail(list(range(30)))
        self.assertEqual((v, n), (19, 30))
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)

    def test_tail_with_too_few_samples_is_the_maximum(self):
        self.assertEqual(M.tail([5, 1, 3]), (5, 100.0, 3))
        self.assertEqual(M.tail(list(range(10))), (9, 100.0, 10))
        self.assertEqual(M.tail(list(range(11)))[0], 0)

    def test_tail_rejects_no_samples(self):
        with self.assertRaises(ValueError):
            M.tail([])


class AttributionTest(unittest.TestCase):
    def test_one_file_per_trigger(self):
        self.assertEqual(M.attribute_files([100, 100, 100], 0, 100, 3), [0, 1, 2])

    def test_warm_rows_are_skipped(self):
        # two warm-up triggers of 100 rows each precede the measured files
        self.assertEqual(M.attribute_files([100, 100, 100, 100], 200, 100, 2), [2, 3])

    def test_trigger_taking_two_files(self):
        self.assertEqual(M.attribute_files([100, 200, 100], 0, 100, 4), [0, 1, 1, 2])

    def test_file_split_across_triggers_belongs_to_the_last(self):
        self.assertEqual(M.attribute_files([150, 50], 0, 100, 2), [0, 1])
        self.assertEqual(M.attribute_files([50, 150], 0, 100, 2), [1, 1])

    def test_unfinished_file(self):
        self.assertEqual(M.attribute_files([100], 0, 100, 2), [0, None])


class BacklogTest(unittest.TestCase):
    def test_each_file_done_before_the_next_is_due(self):
        due = [0, 1000, 2000]
        self.assertEqual(M.backlog(due, [600, 1700, 2650]), [1, 1, 1])

    def test_slow_trigger_makes_a_backlog_of_two(self):
        due = [0, 1000, 2000]
        self.assertEqual(M.backlog(due, [1200, 1900, 2600]), [1, 2, 1])

    def test_finish_at_the_due_time_is_not_backlog(self):
        self.assertEqual(M.backlog([0, 1000], [1000, 1500]), [1, 1])

    def test_unfinished_files_stay_in_the_backlog(self):
        self.assertEqual(M.backlog([0, 1000, 2000], [None, 1500, None]), [1, 2, 2])

    def test_rule_fails_a_run_above_one_file(self):
        self.assertTrue(max(M.backlog([0, 1000], [1200, 1900])) > 1)


class SelfTimeTest(unittest.TestCase):
    @staticmethod
    def span(i, parent, start, end):
        return {"id": i, "parent": parent, "start": start, "end": end}

    def test_leaf_self_time_is_its_duration(self):
        self.assertEqual(M.self_times([self.span("a", "", 0, 10)]), {"a": 10})

    def test_children_are_subtracted(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 10, 30), self.span("c", "a", 50, 60)]
        self.assertEqual(M.self_times(spans)["a"], 70)

    def test_overlapping_children_count_once(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 10, 50), self.span("c", "a", 30, 70)]
        self.assertEqual(M.self_times(spans)["a"], 40)

    def test_children_are_clipped_to_the_parent(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 90, 150), self.span("c", "a", -20, 5)]
        self.assertEqual(M.self_times(spans)["a"], 85)

    def test_grandchildren_do_not_count_against_the_root(self):
        spans = [self.span("a", "", 0, 100), self.span("b", "a", 0, 50), self.span("c", "b", 0, 40)]
        self.assertEqual(M.self_times(spans), {"a": 50, "b": 10, "c": 40})


class StealTest(unittest.TestCase):
    def test_steal_share_of_all_cpu_time(self):
        # user nice system idle iowait irq softirq steal
        a = "cpu  100 0 50 800 10 0 0 40 0 0"
        b = "cpu  200 0 100 1600 20 0 0 80 0 0"
        self.assertAlmostEqual(M.steal_pct(a, b), 100.0 * 40 / 1000)

    def test_guest_time_is_not_counted_twice(self):
        a = "cpu  0 0 0 0 0 0 0 0 0 0"
        b = "cpu  90 0 0 0 0 0 0 10 500 500"
        self.assertAlmostEqual(M.steal_pct(a, b), 10.0)

    def test_no_elapsed_time(self):
        line = "cpu  1 2 3 4 5 6 7 8 0 0"
        self.assertEqual(M.steal_pct(line, line), 0.0)


class MemTest(unittest.TestCase):
    def test_median_of_window_peaks(self):
        gc = [{"t_ms": t, "used_after": u * 2**20} for t, u in
              [(5, 100), (8, 120), (15, 200), (25, 90), (26, 95)]]
        windows = [{"start_ms": 0, "end_ms": 10}, {"start_ms": 10, "end_ms": 20},
                   {"start_ms": 20, "end_ms": 30}, {"start_ms": 30, "end_ms": 40}]
        self.assertEqual(M.mem_peak_mb(gc, windows), 120)


class BenchmarkJsonTest(unittest.TestCase):
    def test_declared_metrics_are_the_printed_ones(self):
        path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "BENCHMARK.json")
        with open(path) as f:
            bench = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["end_to_end"]], report.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in bench["per_layer"]], report.PER_LAYER)
        for m in bench["per_layer"]:
            want = "higher" if m["name"] in report.HIGHER_IS_BETTER else "lower"
            self.assertEqual(m["better"], want, m["name"])
        self.assertTrue({w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
