"""Tests of the benchmark's own arithmetic and output checks.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import os
import tempfile
import unittest

import metrics as M

HERE = os.path.dirname(os.path.abspath(__file__))


class PercentileRule(unittest.TestCase):
    def test_p95_needs_ten_samples_beyond_it(self):
        self.assertEqual(M.percentile(list(range(1, 201)), 95), 190)
        self.assertIsNone(M.percentile(list(range(1, 200)), 95))

    def test_median_ignores_missing(self):
        self.assertEqual(M.median([3, None, 1, 2]), 2)
        self.assertIsNone(M.median([]))


class SelfTime(unittest.TestCase):
    def test_children_overlap_and_clip(self):
        spans = [
            {"id": "p", "parent": "", "start_ms": 0.0, "end_ms": 100.0},
            {"id": "a", "parent": "p", "start_ms": 10.0, "end_ms": 30.0},
            {"id": "b", "parent": "p", "start_ms": 20.0, "end_ms": 50.0},
            # runs past its parent's end: only 90..100 is covered
            {"id": "c", "parent": "p", "start_ms": 90.0, "end_ms": 120.0},
            {"id": "d", "parent": "b", "start_ms": 25.0, "end_ms": 35.0},
        ]
        st = M.self_times(spans)
        self.assertAlmostEqual(st["p"], 100 - 40 - 10)
        self.assertAlmostEqual(st["b"], 30 - 10)
        self.assertAlmostEqual(st["a"], 20)
        self.assertAlmostEqual(st["d"], 10)


class DueTimeLatency(unittest.TestCase):
    # (due, sent, offset, events): the third chunk is sent 10 ms late
    chunks = [(0.0, 1.0, 0, 5), (10.0, 10.0, 1, 5), (20.0, 30.0, 2, 5)]
    batches = [{"end_offset": 0, "done_ms": 8.0}, {"end_offset": 1, "done_ms": 25.0},
               {"end_offset": 2, "done_ms": 60.0}]

    def test_latency_runs_from_due_time(self):
        self.assertEqual(M.chunk_latencies(self.chunks, self.batches), [8.0, 15.0, 40.0])

    def test_batch_done_before_send_does_not_cover(self):
        early = [{"end_offset": 5, "done_ms": 0.5}]
        self.assertEqual(M.chunk_latencies(self.chunks[:1], early), [None])

    def test_backlog(self):
        self.assertEqual(M.backlog_events(self.chunks, self.batches, 12.0), 5)
        self.assertEqual(M.backlog_events(self.chunks, self.batches, 30.0), 5)
        self.assertEqual(M.backlog_events(self.chunks, self.batches, 60.0), 0)


class PlantedWrongAnswers(unittest.TestCase):
    def stream_run(self):
        rows = [["7", "2024-01-01", 10.5], ["8", "2024-01-01", 3.25]]
        return {"output": [list(r) for r in rows], "expected": rows,
                "dropped_by_watermark": 4, "late_delivered": 4}

    def test_stream_check_passes_on_equal_totals(self):
        self.assertEqual(M.check_stream(self.stream_run()), [])

    def test_stream_check_catches_wrong_total(self):
        run = self.stream_run()
        run["output"][1][2] = 3.26
        self.assertEqual(len(M.check_stream(run)), 1)

    def test_stream_check_catches_missing_row(self):
        run = self.stream_run()
        run["output"].pop()
        self.assertEqual(len(M.check_stream(run)), 1)

    def test_stream_check_catches_unaccounted_late_events(self):
        run = self.stream_run()
        run["dropped_by_watermark"] = 3
        self.assertEqual(len(M.check_stream(run)), 1)

    def test_bulk_check_catches_duplicate_row(self):
        rows = [["7", "2024-01-01", 10.5]]
        self.assertTrue(M.rows_equal(rows, [list(r) for r in rows]))
        self.assertFalse(M.rows_equal(rows + rows, rows))

    def test_suite_check_catches_wrong_row(self):
        import duckdb
        import oracle
        with tempfile.TemporaryDirectory() as d:
            con = duckdb.connect()
            os.makedirs(f"{d}/data/t.parquet")
            os.makedirs(f"{d}/out/good")
            os.makedirs(f"{d}/out/bad")
            con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                        f"TO '{d}/data/t.parquet/part-0.parquet' (FORMAT parquet)")
            con.execute(f"COPY (SELECT range AS k, range * 2 AS v FROM range(5)) "
                        f"TO '{d}/out/good/part-0.parquet' (FORMAT parquet)")
            con.execute(f"COPY (SELECT range AS k, range * 2 + (range = 3)::INT AS v FROM range(5)) "
                        f"TO '{d}/out/bad/part-0.parquet' (FORMAT parquet)")
            con.close()
            sql = "SELECT k, v FROM t"
            verdicts = oracle.check_rows(f"{d}/data", f"{d}/out", {"good": sql, "bad": sql}, ["t"])
        self.assertIsNone(verdicts["good"])
        self.assertIsNotNone(verdicts["bad"])


class Contract(unittest.TestCase):
    def test_benchmark_json_names_the_metrics_run_py_prints(self):
        import run
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
