"""Unit tests for the Python side of the benchmark: the DuckDB oracle
comparison fails on a corrupted result, and the metric arithmetic (tail
percentile, interval union, span self time, layer shares, tracing
overhead) is right.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import oracle  # noqa: E402
import report  # noqa: E402


class OracleCompare(unittest.TestCase):
    expected = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.25],
                             "s": ["a", "b", "c"]})

    def test_equal_up_to_row_and_column_order(self):
        got = self.expected.iloc[::-1][["s", "v", "k"]]
        self.assertIsNone(oracle.compare(got, self.expected))

    def test_dropped_row_fails(self):
        self.assertIsNotNone(oracle.compare(self.expected.iloc[:2], self.expected))

    def test_changed_value_fails(self):
        got = self.expected.copy()
        got.loc[0, "v"] = 0.5000001
        self.assertIsNotNone(oracle.compare(got, self.expected))

    def test_renamed_column_fails(self):
        self.assertIsNotNone(oracle.compare(self.expected.rename(columns={"v": "w"}),
                                            self.expected))


class Arithmetic(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        xs = list(range(100))
        value, pct, n = report.tail(xs)
        self.assertEqual((value, n), (89, 100))
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(pct, 90)

    def test_tail_of_few_samples_is_the_maximum(self):
        self.assertEqual(report.tail([3.0, 1.0, 2.0])[0], 3.0)

    def test_union_merges_overlaps_and_clips(self):
        self.assertEqual(report.union([(0, 10), (5, 15), (20, 30)]), 25)
        self.assertEqual(report.union([(0, 10), (5, 15)], 8, 12), 4)

    def test_self_time_and_driver_gap(self):
        tr = report.Trace({
            "spans": [{"id": 0, "parent": -1, "op": 0, "layer": "operators", "name": "a",
                       "start": 0.0, "end": 100.0},
                      {"id": 1, "parent": 0, "op": 0, "layer": "util", "name": "b",
                       "start": 10.0, "end": 40.0}],
            "jobs": [{"id": 0, "span": 0, "start": 50.0, "end": 70.0, "tasks": 4,
                      "failed_tasks": 0, "task_ms": 60, "run_ms": 60, "gc_ms": 0,
                      "input_b": 0, "shuffle_b": 0, "spill_b": 0, "output_b": 0,
                      "task_durations": [15, 15, 15, 15]},
                     {"id": 1, "span": 1, "start": 20.0, "end": 30.0, "tasks": 1,
                      "failed_tasks": 0, "task_ms": 10, "run_ms": 10, "gc_ms": 0,
                      "input_b": 0, "shuffle_b": 0, "spill_b": 0, "output_b": 0,
                      "task_durations": [10]}],
            "qes": []})
        self.assertEqual(tr.self_ms(0), 70.0)
        self.assertEqual(tr.spark_ms(0), 20.0)
        stats = tr.span_stats(0)
        self.assertEqual(stats["spark_jobs"], 2)
        self.assertAlmostEqual(stats["driver_gap_share"], 0.7)


def job(jid, span, start, end):
    return {"id": jid, "span": span, "start": start, "end": end, "tasks": 1,
            "failed_tasks": 0, "task_ms": end - start, "run_ms": end - start, "gc_ms": 0,
            "input_b": 0, "shuffle_b": 0, "spill_b": 0, "output_b": 0,
            "task_durations": [end - start]}


def op(oid, kind, cycle, start, end, traced):
    return {"id": oid, "kind": kind, "cycle": cycle, "label": "", "start": start,
            "end": end, "items": 0, "traced": traced, "ok": True, "why": ""}


class LayerShares(unittest.TestCase):
    def rep(self):
        """One traced ingest op of 100 ms: 5 ms of stub start-up, then an
        IngestionJob span that plans for 30 ms before its first job."""
        return {
            "workload": "pipeline", "cores": 4, "details": {}, "kernels": {},
            "ops": [op(0, "ingest", 0, 0.0, 100.0, True),
                    op(1, "ingest", 1, 100.0, 190.0, False)],
            "trace": {"spans": [
                {"id": 0, "parent": -1, "op": 0, "layer": "bench",
                 "name": "StubOffresServer", "start": 0.0, "end": 5.0},
                {"id": 1, "parent": -1, "op": 0, "layer": "jobs",
                 "name": "IngestionJob.runWithOptions", "start": 5.0, "end": 100.0}],
                "jobs": [job(0, 1, 35.0, 75.0), job(1, 1, 80.0, 90.0)], "qes": []}}

    def test_planning_prefix_is_the_sources_layer(self):
        m, d = report.per_layer(self.rep())
        self.assertAlmostEqual(m["layer.sources.self_share"][0], 0.30)
        # 95 ms span - 50 ms of jobs - 30 ms prefix
        self.assertAlmostEqual(m["layer.jobs.self_share"][0], 0.15)
        self.assertAlmostEqual(m["layer.spark.self_share"][0], 0.50)
        self.assertAlmostEqual(m["layer.bench.self_share"][0], 0.05)
        self.assertAlmostEqual(d["sources.driver_prefix_s"], 0.030)

    def test_overhead_pairs_neighbouring_cycles_either_parity(self):
        # cycle times in seconds; op times are ms
        even = [op(0, "x", 0, 0, 10e3, True), op(1, "x", 1, 10e3, 18e3, False),
                op(2, "x", 2, 18e3, 29e3, True)]
        self.assertEqual(report.overhead_pairs(even), [(8, 10)])
        odd = [op(0, "x", 0, 0, 10e3, False), op(1, "x", 1, 10e3, 22e3, True),
               op(2, "x", 2, 22e3, 30e3, False), op(3, "x", 3, 30e3, 39e3, True)]
        self.assertEqual(report.overhead_pairs(odd), [(10, 12), (8, 9)])

if __name__ == "__main__":
    unittest.main()
