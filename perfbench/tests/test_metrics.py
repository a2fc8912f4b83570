"""Tests of the benchmark's own arithmetic and checks.

Run from the root of a checkout: python3 -m unittest discover perfbench/tests
"""
import csv
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import cdc_check  # noqa: E402
import metrics  # noqa: E402


def op(name, seconds, ok=True, rows=0, **extra):
    return {"name": name, "kind": "query", "seconds": seconds, "wall": seconds, "ok": ok,
            "rows": rows, "bytes": 0, "extra": extra, "retained_block_mb": 0.0}


class TailPercentileTest(unittest.TestCase):
    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail_percentile(1000), 99)
        self.assertEqual(metrics.tail_percentile(200), 95)
        self.assertEqual(metrics.tail_percentile(199), 90)
        self.assertEqual(metrics.tail_percentile(100), 90)
        self.assertEqual(metrics.tail_percentile(40), 75)
        self.assertEqual(metrics.tail_percentile(20), 50)

    def test_none_when_too_few(self):
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertIsNone(metrics.tail_percentile(3))

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([7.0], 99), 7.0)

    def test_tail_falls_back_to_max(self):
        res = {"ops": [op("cycle", s) for s in (1.0, 3.0, 2.0)], "spans": [], "jobs": [],
               "memo_build_s": 0.0}
        self.assertEqual(metrics.per_layer(res)["op_tail_s"][0], 3.0)


class SelfTimeTest(unittest.TestCase):
    def test_children_are_subtracted_once(self):
        spans = [
            {"id": 0, "name": "cycle", "parent": -1, "op": 0, "start_ns": 0, "end_ns": 10_000},
            {"id": 1, "name": "capture", "parent": 0, "op": 0, "start_ns": 1_000,
             "end_ns": 4_000},
            {"id": 2, "name": "sync", "parent": 0, "op": 0, "start_ns": 5_000, "end_ns": 9_000},
            {"id": 3, "name": "sync.watermark", "parent": 2, "op": 0, "start_ns": 5_000,
             "end_ns": 6_000},
        ]
        st = metrics.self_times(spans)
        self.assertAlmostEqual(st[0], 3_000 / 1e9)
        self.assertAlmostEqual(st[1], 3_000 / 1e9)
        self.assertAlmostEqual(st[2], 3_000 / 1e9)
        self.assertAlmostEqual(st[3], 1_000 / 1e9)
        self.assertAlmostEqual(sum(st.values()), 10_000 / 1e9)

    def test_layer_self_times_average_over_ops(self):
        spans = [
            {"id": 0, "name": "query", "parent": -1, "op": 0, "start_ns": 0, "end_ns": 4e9},
            {"id": 1, "name": "exec", "parent": 0, "op": 0, "start_ns": 1e9, "end_ns": 3e9},
            {"id": 2, "name": "exec", "parent": -1, "op": -1, "start_ns": 0, "end_ns": 9e9},
        ]
        res = {"spans": spans, "ops": [op("q", 4.0), op("q", 4.0)]}
        self.assertEqual(metrics.layer_self_times(res), {"exec": 1.0, "query": 1.0})


class FailureCountingTest(unittest.TestCase):
    def test_failed_ops_are_counted_and_left_out_of_timings(self):
        ops = [op("q_a", 1.0), op("q_a", 3.0), op("q_b", 2.0), op("q_b", 0.01, ok=False)]
        self.assertEqual(metrics.count_failures(ops), (4, 1))
        res = {"ops": ops, "session_s": 1.0, "setup_s": 3.0, "warmup_s": 5.0}
        m = metrics.end_to_end(res, datagen_s=0.5)
        # a failed query must never read as a fast one
        self.assertEqual(m["suite_s"][0], 2.0 + 2.0)
        self.assertEqual(m["op_p50_s"][0], 2.0)
        self.assertEqual(m["setup_s"][0], 0.5 + 1.0 + 3.0 + 5.0)

    def test_failed_share_is_a_layer_metric(self):
        res = {"ops": [op("q", 1.0), op("q", 1.0, ok=False)], "spans": [], "jobs": [],
               "memo_build_s": 0.0}
        self.assertEqual(metrics.per_layer(res)["failed_ops"][0], 0.5)


class CdcCheckTest(unittest.TestCase):
    """One table, one cycle: key 1 deleted, key 2 updated, key 3 inserted."""

    def setUp(self):
        self.dir = tempfile.TemporaryDirectory()
        d = self.dir.name
        v0 = pa.table({"k": pa.array([1, 2], pa.int64()), "v": [10.0, 20.0]})
        v1 = pa.table({"k": pa.array([2, 3], pa.int64()), "v": [21.5, 30.0]})
        pq.write_table(v0, f"{d}/v0.parquet")
        os.makedirs(f"{d}/v1")
        pq.write_table(v1, f"{d}/v1/part-0.parquet")
        os.makedirs(f"{d}/log")
        rows = [(1, 10.0, "insert", 1), (2, 20.0, "insert", 2),
                (1, 10.0, "delete", 3), (3, 30.0, "insert", 4), (2, 21.5, "update", 5)]
        pq.write_table(pa.table({
            "k": pa.array([r[0] for r in rows], pa.int64()), "v": [r[1] for r in rows],
            "audit_event": [r[2] for r in rows], "audit_pk": pa.array([r[3] for r in rows],
                                                                      pa.int64())}),
            f"{d}/log/part-0.parquet")
        os.makedirs(f"{d}/sink")
        self.write_sink("part-0.csv", [(k, v, e, "2026-01-01 00:00:00", pk) for k, v, e, pk in rows])
        self.layout = {"cycles": 1, "first_timed": 1, "tables": [{
            "name": "t", "pk": "k", "wiped": False, "log": f"{d}/log", "sink": f"{d}/sink",
            "snapshots": [f"{d}/v0.parquet", f"{d}/v1"]}]}

    def tearDown(self):
        self.dir.cleanup()

    def write_sink(self, name, rows):
        with open(os.path.join(self.dir.name, "sink", name), "w", newline="") as f:
            w = csv.writer(f, lineterminator="\n")
            w.writerow(["k", "v", "audit_event", "audit_timestamp", "audit_pk"])
            w.writerows(rows)

    def test_clean_delivery_passes(self):
        bad, wanted, error = cdc_check.CdcCheck(self.layout).run()
        self.assertEqual((bad, error), ({}, None))
        self.assertEqual(wanted, {0: {"t": 2}, 1: {"t": 3}})

    def test_duplicate_row_fails_its_cycle(self):
        self.write_sink("part-injected.csv", [(3, 30.0, "insert", "2026-01-01 00:00:00", 4)])
        bad, _, _ = cdc_check.CdcCheck(self.layout).run()
        self.assertEqual(list(bad), [1])

    def test_repeated_key_in_a_snapshot_fails_its_cycle(self):
        v1 = pa.table({"k": pa.array([2, 3, 3], pa.int64()), "v": [21.5, 30.0, 31.0]})
        pq.write_table(v1, f"{self.dir.name}/v1/part-0.parquet")
        bad, _, _ = cdc_check.CdcCheck(self.layout).run()
        self.assertIn("not unique", bad[1])

    def test_wrong_image_fails_its_cycle(self):
        os.remove(os.path.join(self.dir.name, "sink", "part-0.csv"))
        self.write_sink("part-0.csv", [(1, 10.0, "insert", "2026-01-01 00:00:00", 1),
                                       (2, 20.0, "insert", "2026-01-01 00:00:00", 2),
                                       (1, 10.0, "delete", "2026-01-01 00:00:00", 3),
                                       (3, 30.0, "insert", "2026-01-01 00:00:00", 4),
                                       (2, 20.0, "update", "2026-01-01 00:00:00", 5)])
        bad, _, _ = cdc_check.CdcCheck(self.layout).run()
        self.assertEqual(list(bad), [1])

    def test_failures_are_folded_into_op_records(self):
        # the same table as a wiped one: its log keeps only the newest row
        d = self.dir.name
        pq.write_table(pa.table({"k": pa.array([2], pa.int64()), "v": [21.5],
                                 "audit_event": ["update"],
                                 "audit_pk": pa.array([5], pa.int64())}),
                       f"{d}/log/part-0.parquet")
        self.layout["tables"][0]["wiped"] = True
        res = {"cdc": self.layout, "ops": [op("cycle", 1.0)]}
        self.assertIsNone(cdc_check.apply(res))
        self.assertEqual((res["ops"][0]["ok"], res["ops"][0]["rows"]), (True, 3))
        self.assertEqual(res["ops"][0]["extra"]["wipe_rows_before"], 4)
        self.write_sink("part-injected.csv", [(3, 30.0, "insert", "2026-01-01 00:00:00", 4)])
        res = {"cdc": self.layout, "ops": [op("cycle", 1.0)]}
        cdc_check.apply(res)
        self.assertEqual(metrics.count_failures(res["ops"]), (1, 1))

if __name__ == "__main__":
    unittest.main()
