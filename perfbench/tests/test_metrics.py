"""Tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""

import math
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import metrics as M  # noqa: E402
import run  # noqa: E402


class TailPercentile(unittest.TestCase):
    def beyond(self, n, p):
        return n - math.ceil(p * n / 100)

    def test_too_few_samples(self):
        for n in range(0, 11):
            self.assertIsNone(M.tail_percentile(n))
            self.assertEqual(M.tail([1.0] * n), (None, None))

    def test_known_counts(self):
        self.assertEqual(M.tail_percentile(11), 9)
        self.assertEqual(M.tail_percentile(20), 50)
        self.assertEqual(M.tail_percentile(100), 90)
        self.assertEqual(M.tail_percentile(1000), 99)

    def test_highest_with_ten_beyond(self):
        for n in range(11, 600):
            p = M.tail_percentile(n)
            self.assertGreaterEqual(self.beyond(n, p), 10, n)
            if p < 100:
                self.assertLess(self.beyond(n, p + 1), 10, n)

    def test_value_is_nearest_rank(self):
        xs = list(range(100, 0, -1))  # 1..100, unsorted
        self.assertEqual(M.tail(xs), (90, 90))
        self.assertEqual(M.percentile(xs, 50), 50)


class SelfTime(unittest.TestCase):
    def span(self, i, start, end, parent=-1):
        return {"id": i, "name": f"s{i}", "start": start, "end": end, "parent": parent, "op": 0}

    def test_overlapping_and_overhanging_children(self):
        spans = [self.span(0, 0, 10), self.span(1, 1, 3, 0), self.span(2, 2, 5, 0),
                 self.span(3, 8, 12, 0), self.span(4, 1, 2, 1)]
        st = M.self_times(spans)
        # children of 0 cover [1,5] and [8,10] inside it
        self.assertAlmostEqual(st[0], 10 - 4 - 2)
        self.assertAlmostEqual(st[1], 2 - 1)
        self.assertAlmostEqual(st[4], 1)
        self.assertAlmostEqual(st[3], 4)

    def test_union_length_clips(self):
        self.assertEqual(M.union_length([(0, 4), (2, 6), (10, 12)], 1, 11), 5 + 1)
        self.assertEqual(M.union_length([]), 0)
        self.assertEqual(M.union_length([(5, 3)]), 0)

    def test_innermost_span(self):
        spans = [self.span(0, 0, 10), self.span(1, 2, 6, 0), self.span(2, 3, 4, 1)]
        self.assertEqual(M.innermost_span(spans, 3.5)["id"], 2)
        self.assertEqual(M.innermost_span(spans, 7)["id"], 0)
        self.assertIsNone(M.innermost_span(spans, 11))


class Attribution(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        src = os.path.join(self.tmp.name, "src")
        bench = os.path.join(self.tmp.name, "bench")
        for rel in ["graft/warehouse/Scd.scala", "graft/ibrd/IbrdWarehouse.scala",
                    "graft/functions/MinHashExpr.scala", "graft/sources/TableSink.scala",
                    "graft/semantic/Layout.scala", "graft/SparkEntry.scala",
                    "org/apache/spark/sql/graft/Bridge.scala"]:
            os.makedirs(os.path.dirname(os.path.join(src, rel)), exist_ok=True)
            open(os.path.join(src, rel), "w").close()
        os.makedirs(os.path.join(bench, "perfbench"))
        open(os.path.join(bench, "perfbench", "Workloads.scala"), "w").close()
        self.layers = M.file_layers(src, bench)

    def tearDown(self):
        self.tmp.cleanup()

    def test_file_to_layer(self):
        self.assertEqual(self.layers["Scd.scala"], "warehouse")
        self.assertEqual(self.layers["MinHashExpr.scala"], "operators")
        self.assertEqual(self.layers["SparkEntry.scala"], "entry")
        self.assertEqual(self.layers["Bridge.scala"], "spark")
        self.assertEqual(self.layers["Workloads.scala"], "bench")

    def test_callsite_to_layer(self):
        self.assertEqual(M.parse_callsite("count at IbrdWarehouse.scala:137"),
                         ("count", "IbrdWarehouse.scala"))
        self.assertEqual(M.layer_of_callsite("count at Scd.scala:12", self.layers), "warehouse")
        self.assertEqual(M.layer_of_callsite("run at ThreadPoolExecutor.java:1", self.layers),
                         "spark")
        self.assertEqual(M.layer_of_callsite(None, self.layers), "spark")

    def test_pool_thread_job_takes_execution_callsite(self):
        execs = {7: {"callsite": "parquet at TableSink.scala:35", "write": ""}}
        job = {"callsite": "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
               "exec": 7}
        self.assertEqual(M.resolve_callsite(job, execs, self.layers),
                         "parquet at TableSink.scala:35")
        direct = {"callsite": "count at Scd.scala:3", "exec": 7}
        self.assertEqual(M.resolve_callsite(direct, execs, self.layers), "count at Scd.scala:3")

    def test_bench_callsite_takes_span_layer(self):
        spans = [{"id": 0, "name": "op", "start": 0, "end": 10, "parent": -1, "op": 0},
                 {"id": 1, "name": "operators.query", "start": 1, "end": 9, "parent": 0, "op": 0}]
        job = lambda cs, t: {"callsite": cs, "exec": -1, "start": t}
        self.assertEqual(M.job_layer(job("count at Workloads.scala:9", 2), {}, self.layers, spans),
                         "operators")
        self.assertEqual(M.job_layer(job("count at Workloads.scala:9", 9.5), {}, self.layers, spans),
                         "bench")
        self.assertEqual(M.job_layer(job("count at Scd.scala:3", 2), {}, self.layers, spans),
                         "warehouse")

    def test_table_to_layer(self):
        self.assertEqual(M.table_of_write("file:/x/wh/v3/fact_loan"), "fact_loan")
        self.assertEqual(M.layer_of_table("fact_loan"), "fact")
        self.assertEqual(M.layer_of_table("dim_region"), "dims")
        self.assertEqual(M.layer_of_table("staging"), "sources")
        self.assertIsNone(M.layer_of_table(""))

    def test_split_precedence(self):
        execs = {1: {"callsite": "parquet at TableSink.scala:35", "write": "file:/w/fact_loan"},
                 2: {"callsite": "parquet at TableSink.scala:35", "write": "file:/w/dim_type"},
                 3: {"callsite": "count at Scd.scala:9", "write": ""}}
        pool = "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768"
        cat = lambda cs, ex: M.split_category({"callsite": cs, "exec": ex}, execs, self.layers)
        self.assertEqual(cat(pool, 1), "fact")
        self.assertEqual(cat(pool, 2), "sink")
        self.assertEqual(cat(pool, 3), "dims")
        self.assertEqual(cat("localCheckpoint at IbrdWarehouse.scala:119", -1), "landing")
        self.assertEqual(cat("count at IbrdWarehouse.scala:137", -1), "dims")
        self.assertEqual(cat("collect at Workloads.scala:120", -1), "serve")
        self.assertEqual(cat("count at SparkEntry.scala:1", -1), "other")


class Ratios(unittest.TestCase):
    def test_bytes_per_input(self):
        self.assertAlmostEqual(M.bytes_per_input([10, 20], [5, 5]), 3.0)
        self.assertEqual(M.bytes_per_input([10], [0]), 0.0)

    def test_persisted_growth(self):
        self.assertEqual(M.persisted_growth(3, [3, 2, 4, 3, 9]), [2, 4])
        self.assertEqual(M.persisted_growth(3, []), [])


class RunFailures(unittest.TestCase):
    def record(self, persisted, ok=True, checks=()):
        ops = [{"id": i, "ok": ok, "err": "", "persisted_after": c}
               for i, c in enumerate(persisted)]
        return {"ops": ops, "checks": list(checks), "persisted_baseline": 2}

    def test_growth_fails_the_batch(self):
        attempted, failed, reasons = run.failures(self.record([2, 3, 2]))
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("op 1", reasons[0])

    def test_flat_run_passes(self):
        self.assertEqual(run.failures(self.record([2, 1, 2]))[:2], (3, 0))

    def test_runs_without_a_baseline_are_not_checked(self):
        rec = {"ops": [{"id": 0, "ok": True, "err": ""}], "checks": [],
               "persisted_baseline": None}
        self.assertEqual(run.failures(rec)[:2], (1, 0))

    def test_failed_check_counts_once(self):
        rec = self.record([2, 2], checks=[{"name": "fact", "ok": False, "detail": "x"}])
        self.assertEqual(run.failures(rec)[:2], (2, 1))

    def test_oracle_row_mismatch_fails_the_query(self):
        ops = [{"id": 0, "ok": True, "err": "", "query": "q01", "rows": 4},
               {"id": 1, "ok": True, "err": "", "query": "q02", "rows": 7},
               {"id": 2, "ok": True, "err": "", "query": "q03", "rows": 1}]
        rec = {"ops": ops, "checks": [], "persisted_baseline": None,
               "oracle_rows": {"q01": 4, "q02": 6}}
        attempted, failed, reasons = run.failures(rec)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertIn("q02: 7 rows, oracle 6", reasons[0])

    def test_thrown_query_fails_once(self):
        ops = [{"id": 0, "ok": False, "err": "boom", "query": "q01", "rows": None}]
        rec = {"ops": ops, "checks": [], "persisted_baseline": None,
               "oracle_rows": {"q01": 4}}
        self.assertEqual(run.failures(rec)[:2], (1, 1))

    def test_failures_never_exceed_attempts(self):
        rec = self.record([5], ok=False, checks=[{"name": "fact", "ok": False, "detail": "x"}])
        self.assertEqual(run.failures(rec)[:2], (1, 1))


class Runs(unittest.TestCase):
    def test_passes_count_whole_sweeps(self):
        ops = [{"query": q} for q in ["a", "b", "c"] * 2]
        self.assertEqual(run.passes(ops), 2)
        self.assertEqual(run.passes(ops[:3]), 1)

    def test_peak_live_heap_skips_the_setup_reading(self):
        self.assertEqual(run.peak_live_heap_mb({"live_heap_mb": [900.0, 120.0, 180.0, 150.0]}),
                         180.0)


if __name__ == "__main__":
    unittest.main()
