"""Unit tests of the ledger's statistics. Run from the repo root:

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import ledger  # noqa: E402


class TailTest(unittest.TestCase):
    def test_exactly_ten_samples_lie_beyond_the_tail(self):
        xs = list(range(100, 0, -1))          # 1..100, unsorted
        value, pct, beyond = ledger.tail(xs)
        self.assertEqual(value, 90)
        self.assertEqual(pct, 90.0)
        self.assertEqual(beyond, 10)
        self.assertEqual(sum(x > value for x in xs), 10)

    def test_twenty_samples_give_the_median_as_tail(self):
        value, pct, beyond = ledger.tail([float(i) for i in range(1, 21)])
        self.assertEqual((value, pct, beyond), (10.0, 50.0, 10))

    def test_eleven_samples_is_the_smallest_sample_with_a_tail(self):
        value, pct, beyond = ledger.tail(range(11))
        self.assertEqual((value, beyond), (0, 10))
        self.assertAlmostEqual(pct, 100.0 / 11)

    def test_no_tail_without_more_than_ten_samples(self):
        self.assertEqual(ledger.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 0))
        self.assertEqual(ledger.tail([]), (0.0, 0.0, 0))

    def test_ties_count_as_beyond_only_when_strictly_above(self):
        xs = [1.0] * 5 + [2.0] * 10
        value, _, beyond = ledger.tail(xs)
        self.assertEqual((value, beyond), (1.0, 10))


class IntervalTest(unittest.TestCase):
    def test_union_merges_overlapping_nested_and_touching(self):
        self.assertEqual(ledger.union_length([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(ledger.union_length([(0, 100), (10, 20), (30, 40)]), 100)
        self.assertEqual(ledger.union_length([(0, 5), (5, 10)]), 10)
        self.assertEqual(ledger.union_length([(20, 30), (0, 10)]), 20)

    def test_union_ignores_empty_and_inverted_intervals(self):
        self.assertEqual(ledger.union_length([]), 0)
        self.assertEqual(ledger.union_length([(5, 5), (9, 3), (0, 1)]), 1)

    def test_driver_gap_is_wall_minus_the_union_of_jobs(self):
        jobs = [(10, 30), (20, 40), (60, 70)]
        self.assertEqual(ledger.driver_gap((0, 100), jobs), 100 - 40)

    def test_jobs_outside_the_window_do_not_count(self):
        jobs = [(-10, 5), (95, 120), (200, 300)]
        self.assertEqual(ledger.driver_gap((0, 100), jobs), 100 - 10)

    def test_self_time_subtracts_only_covered_child_time(self):
        children = [(10, 20), (15, 25), (90, 150)]
        self.assertEqual(ledger.self_time((0, 100), children), 100 - 15 - 10)
        self.assertEqual(ledger.self_time((0, 100), []), 100)
        self.assertEqual(ledger.self_time((0, 100), [(-5, 200)]), 0)


def _trace():
    span_a, span_b = "1|runBatch:b00|Pipeline.runBatch|Pipeline", "2|compactHist|Pipeline.compactHist|Pipeline"
    return {
        "end_ms": 1000.0,
        "ops": [{"span": span_a, "fn": "Pipeline.runBatch", "ok": True,
                 "start_ms": 0.0, "end_ms": 500.0},
                {"span": span_b, "fn": "Pipeline.compactHist", "ok": True,
                 "start_ms": 600.0, "end_ms": 1000.0}],
        "jobs": [
            {"id": 0, "start_ms": 100, "end_ms": 200, "span": span_a, "module": "sources"},
            {"id": 1, "start_ms": 150, "end_ms": 300, "span": span_a, "module": "operators"},
            {"id": 2, "start_ms": 700, "end_ms": 800, "span": span_b, "module": None},
            {"id": 3, "start_ms": 900, "end_ms": 950, "span": "", "module": None},
        ],
        "stages": [
            {"id": 0, "job": 0, "tasks": 4, "run_ms": 400, "cpu_ns": 3e8, "gc_ms": 10,
             "shuffle_write_bytes": 100, "shuffle_write_ns": 1e6, "shuffle_read_bytes": 0,
             "shuffle_fetch_wait_ms": 0, "input_bytes": 1000, "output_bytes": 0},
            {"id": 1, "job": 2, "tasks": 2, "run_ms": 100, "cpu_ns": 5e7, "gc_ms": 0,
             "shuffle_write_bytes": 0, "shuffle_write_ns": 0, "shuffle_read_bytes": 50,
             "shuffle_fetch_wait_ms": 3, "input_bytes": 0, "output_bytes": 700},
        ],
        "plans": [{"start_ms": 20, "end_ms": 60, "analysis_ms": 10, "optimization_ms": 10,
                   "planning_ms": 20},
                  {"start_ms": 280, "end_ms": 320, "analysis_ms": 5, "optimization_ms": 5,
                   "planning_ms": 30}],
    }


class LedgerTest(unittest.TestCase):
    def test_every_span_is_accounted_for(self):
        rows = ledger.span_ledger(_trace())
        a, b = rows
        self.assertAlmostEqual(a["wall_s"], 0.5)
        self.assertAlmostEqual(a["job_s"], 0.2)          # union of 100-200 and 150-300
        self.assertAlmostEqual(a["planning_s"], 0.06)    # 20-60 and the 300-320 part outside jobs
        self.assertAlmostEqual(a["other_driver_s"], 0.24)
        for r in rows:
            self.assertAlmostEqual(r["job_s"] + r["planning_s"] + r["other_driver_s"], r["wall_s"])
        self.assertAlmostEqual(b["job_s"], 0.1)
        self.assertAlmostEqual(b["other_driver_s"], 0.3)

    def test_jobs_go_to_the_call_site_module_then_the_enclosing_call(self):
        owner = ledger.attribute(_trace())
        self.assertEqual(owner[0], ("sources", "call_site"))
        self.assertEqual(owner[2], ("Pipeline", "enclosing_call"))
        self.assertEqual(owner[3], (None, "none"))

    def test_layer_metrics_sum_per_module(self):
        m, _ = ledger.layer_metrics(_trace())
        self.assertEqual(m["sources.jobs"], 1)
        self.assertEqual(m["operators.jobs"], 1)
        self.assertEqual(m["Pipeline.jobs"], 1)
        self.assertEqual(m["sources.tasks"], 4)
        self.assertAlmostEqual(m["sources.task_cpu_s"], 0.3)
        self.assertEqual(m["Pipeline.output_bytes"], 700)
        self.assertAlmostEqual(m["Pipeline.shuffle_fetch_wait_s"], 0.003)
        self.assertAlmostEqual(m["spark.unattributed_job_s"], 0.05)
        self.assertAlmostEqual(m["spark.enclosing_call_job_s"], 0.1)
        self.assertAlmostEqual(m["spark.planning_s"], 0.08)
        self.assertAlmostEqual(m["spark.driver_gap_s"], (0.5 - 0.2) + (0.4 - 0.1))


if __name__ == "__main__":
    unittest.main()
