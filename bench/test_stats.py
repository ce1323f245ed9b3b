"""Self-tests for the benchmark's arithmetic, on hand-built inputs.

    python3 -m unittest discover -s bench -p 'test_*.py'
"""
import json
import os
import unittest
from types import SimpleNamespace

import run
import stats
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))


class UnionAndGap(unittest.TestCase):
    def test_disjoint_overlapping_and_nested(self):
        self.assertEqual(stats.union_length([(0, 2), (5, 7)]), 4)
        self.assertEqual(stats.union_length([(0, 5), (3, 8)]), 8)
        self.assertEqual(stats.union_length([(0, 10), (2, 3), (4, 6)]), 10)
        self.assertEqual(stats.union_length([]), 0)

    def test_clipped_to_the_parent(self):
        self.assertEqual(stats.union_length([(-5, 2), (8, 20)], 0, 10), 4)
        self.assertEqual(stats.union_length([(11, 12)], 0, 10), 0)

    def test_driver_gap_is_wall_minus_job_union(self):
        # op 0..100; jobs 10..30 and 20..50 overlap (union 40), 70..80
        gap = stats.driver_gap((0, 100), [(10, 30), (20, 50), (70, 80)])
        self.assertEqual(gap, 50)
        # a job that ran on past the op's end counts only inside it
        self.assertEqual(stats.driver_gap((0, 10), [(5, 15)]), 5)
        self.assertEqual(stats.driver_gap((0, 10), []), 10)


class SelfTime(unittest.TestCase):
    def test_self_time(self):
        self.assertEqual(stats.self_time((0, 100), [(0, 40), (30, 60)]), 40)
        self.assertEqual(stats.self_time((0, 100), []), 100)

    def test_rollup_accounts_for_each_operation(self):
        spans = [
            {"id": 1, "parent": 0, "name": "op", "op": 1,
             "t0": 0, "t1": 10_000_000_000},
            {"id": 2, "parent": 1, "name": "ops.construct", "op": 1,
             "t0": 0, "t1": 2_000_000_000},
            {"id": 3, "parent": 1, "name": "ops.materialize", "op": 1,
             "t0": 2_000_000_000, "t1": 9_000_000_000},
            {"id": 4, "parent": 3, "name": "spark.job", "op": 1,
             "t0": 3_000_000_000, "t1": 8_000_000_000},
        ]
        r = stats.rollup(spans)
        op = r["ops"][1]
        self.assertAlmostEqual(op["self_s"], 1.0)
        self.assertAlmostEqual(op["covered_s"], 9.0)
        self.assertAlmostEqual(op["self_s"] + op["covered_s"], op["wall_s"])
        self.assertAlmostEqual(r["self"]["ops.materialize"], 2.0)
        self.assertAlmostEqual(r["total"]["spark.job"], 5.0)


class TailPercentile(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 1..100
        v, pct, beyond = stats.tail(xs)
        self.assertEqual((v, beyond), (90, 10))
        self.assertAlmostEqual(pct, 90.0)
        v, pct, beyond = stats.tail(list(range(80, 0, -1)))
        self.assertEqual((v, beyond), (70, 10))
        self.assertAlmostEqual(pct, 87.5)

    def test_too_few_samples(self):
        self.assertEqual(stats.tail([3, 1, 2]), (1, 100.0 / 3, 2))
        self.assertEqual(stats.tail([]), (0.0, 0.0, 0))
        v, pct, beyond = stats.tail(list(range(11)))
        self.assertEqual((v, beyond), (0, 10))


class HarrellDavisMedian(unittest.TestCase):
    def test_symmetric_constant_and_small(self):
        self.assertAlmostEqual(stats.hd_median([1.0, 2.0, 3.0, 4.0, 5.0]),
                               3.0, places=6)
        self.assertAlmostEqual(stats.hd_median([2.5] * 7), 2.5, places=6)
        self.assertEqual(stats.hd_median([4.0]), 4.0)
        self.assertEqual(stats.hd_median([]), 0.0)

    def test_steadier_than_the_middle_order_statistic(self):
        # two clusters with the middle rank on their boundary: swapping
        # one sample across the gap moves the plain median by the whole
        # gap, the Harrell-Davis estimate by a fraction of it
        lo = [0.3, 0.5, 0.8, 1.0, 1.1, 1.2, 1.2]
        hi = [2.0, 2.6, 2.8, 3.4, 3.7, 4.0, 12.0]
        a, b = lo + [1.3] + hi, lo + [2.1] + hi
        plain = abs(stats.median(b) - stats.median(a))
        hd = abs(stats.hd_median(b) - stats.hd_median(a))
        self.assertAlmostEqual(plain, 0.7)
        self.assertLess(hd, plain / 2)


    def test_quantile(self):
        xs = [float(x) for x in range(1, 61)]
        self.assertAlmostEqual(stats.hd_quantile(xs, 0.5),
                               stats.hd_median(xs))
        # op_tail_s of 60 samples: between the tail rule's sample (the
        # 50th) and the first beyond it, and rising with q
        q = stats.hd_quantile(xs, 50 / 60)
        self.assertTrue(50.0 < q < 51.0)
        self.assertLess(q, stats.hd_quantile(xs, 55 / 60))
        self.assertAlmostEqual(stats.hd_quantile([2.5] * 9, 0.8), 2.5,
                               places=6)


class Ratios(unittest.TestCase):
    def record(self):
        return {
            "churn_plan": {
                "docs": {"live_bytes": 600, "ingested_bytes": 1000},
                "embs": {"live_bytes": 400, "ingested_bytes": 1000}},
            "churn": {"ingest": [{"batch_ms": 100.0}, {"batch_ms": 300.0}],
                      "maintain_s": [2.0],
                      "stored_bytes": [2500], "stored_files": [9],
                      "written_bytes": [5000]},
            "ops": [{"kind": "serve", "ok": True, "t0": 0,
                     "t1": 500_000_000}]}

    def test_bytes_per_input_byte(self):
        m = workloads._churn_e2e(self.record())
        self.assertAlmostEqual(m["stored_bytes_per_input_byte"], 2.5)
        self.assertAlmostEqual(m["written_bytes_per_input_byte"], 2.5)
        self.assertAlmostEqual(m["ingest_p50_s"], 0.2)
        self.assertAlmostEqual(m["serve_p50_s"], 0.5)

    def test_zero_base(self):
        self.assertEqual(stats.ratio(5, 0), 0.0)

    def test_spread(self):
        xs = [1.0, 2.0, 3.0, 4.0, 5.0]
        q1, q2, q3 = stats.quartiles(xs)
        self.assertEqual(q2, 3.0)
        self.assertAlmostEqual(stats.spread(xs), (q3 - q1) / 3.0)


class Report(unittest.TestCase):
    def test_wrong_result_is_a_failure_not_a_fast_success(self):
        rec = {"ops": [
            {"op": "q1", "kind": "query", "pass": 0, "ok": True, "t0": 0,
             "t1": 1_000_000},
            {"op": "q2", "kind": "query", "pass": 0, "ok": True, "t0": 0,
             "t1": 2_000_000_000}],
            "passes": [2.0], "heap_peak_mb": 100.0, "ready_ms": 5000.0,
            "setup_clock_start_ms": 1000.0}
        a = SimpleNamespace(workload="curate_batch", seed=1, trace=0)
        out = workloads.report(a, rec, {"q1": (False, "values differ"),
                                        "q2": (True, "3 rows")}, [], HERE)
        f = out["final"]
        self.assertFalse(f["correct"])
        self.assertEqual((f["attempted"], f["failed"]), (2, 1))
        self.assertAlmostEqual(f["metrics"]["op_p50_s"]["value"], 2.0)
        self.assertAlmostEqual(f["metrics"]["setup_s"]["value"], 4.0)

    def test_a_wrong_row_count_in_any_pass_is_a_failure(self):
        rec = {"ops": [
            {"op": "q1", "kind": "query", "pass": p, "ok": True, "t0": 0,
             "t1": (p + 1) * 1_000_000_000} for p in (0, 1)],
            "passes": [1.0, 2.0], "heap_peak_mb": 100.0, "ready_ms": 5000.0,
            "setup_clock_start_ms": 1000.0,
            # timed pass 1 and warm-up pass -1 returned 3 rows, not 4
            "pass_rows": [{"op": "q1", "pass": p, "rows": n}
                          for p, n in ((-1, 3), (0, 4), (1, 3))],
            "untimed_failures": [{"op": "q1", "pass": 2, "err": "boom"}]}
        rec["row_errors"] = run.row_errors(rec, {"q1": 4})
        a = SimpleNamespace(workload="curate_batch", seed=1, trace=0)
        out = workloads.report(a, rec, {"q1": (True, "4 rows")}, [], HERE)
        f = out["final"]
        self.assertFalse(f["correct"])
        # two timed executions, plus the two untimed failures
        self.assertEqual((f["attempted"], f["failed"]), (4, 3))
        # only the correct timed execution is timed
        self.assertAlmostEqual(f["metrics"]["op_p50_s"]["value"], 1.0)

    def test_a_run_that_stopped_reports_a_failure(self):
        rec = {"fatal": "pass: index_churn: vector.build failed",
               "ops": [], "passes": [], "heap_peak_mb": 0.0,
               "main_start_ms": 3000.0, "setup_clock_start_ms": 1000.0}
        a = SimpleNamespace(workload="index_churn", seed=1, trace=1)
        f = workloads.report(a, rec, {}, [], HERE)["final"]
        self.assertFalse(f["correct"])
        self.assertEqual((f["attempted"], f["failed"]), (1, 1))
        self.assertEqual(sorted(f["metrics"]),
                         sorted(k for k, _ in workloads.PER_LAYER))


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_the_reported_metrics(self):
        with open(os.path.join(os.path.dirname(HERE),
                               "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]],
                         workloads.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]],
                         workloads.PER_LAYER)
        self.assertEqual(sorted(w["name"] for w in b["workloads"]),
                         sorted(workloads.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
