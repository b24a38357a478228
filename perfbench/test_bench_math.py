"""Tests for the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench
"""
import os
import sys
import unittest

import pandas as pd

import bench_math as bm

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "..", "tools"))
import check_parity as cp  # noqa: E402


class Percentile(unittest.TestCase):
    def test_nearest_rank_and_count_beyond(self):
        xs = list(range(1, 101))  # 1..100
        self.assertEqual(bm.percentile(xs, 90), (90, 100, 10))
        self.assertEqual(bm.percentile(xs, 50), (50, 100, 50))
        self.assertEqual(bm.percentile(reversed(xs), 90), (90, 100, 10))

    def test_small_samples(self):
        self.assertEqual(bm.percentile([7.0], 90), (7.0, 1, 0))
        # 10 samples: the 9th smallest is the p90, one sample beyond it
        self.assertEqual(bm.percentile(range(10), 90), (8, 10, 1))
        self.assertEqual(bm.percentile([3, 1, 2], 0), (1, 3, 2))

    def test_empty_is_an_error(self):
        with self.assertRaises(ValueError):
            bm.percentile([], 50)


class SelfTime(unittest.TestCase):
    def span(self, a, b):
        return {"start": a, "end": b}

    def test_disjoint_children(self):
        p = self.span(0, 100)
        self.assertEqual(bm.self_time(p, [self.span(10, 20),
                                          self.span(50, 70)]), 70)

    def test_overlapping_children_count_once(self):
        p = self.span(0, 100)
        kids = [self.span(10, 40), self.span(30, 60), self.span(55, 58)]
        self.assertEqual(bm.self_time(p, kids), 50)

    def test_children_clipped_to_parent(self):
        # a listener span may start before or end after its op
        p = self.span(100, 200)
        self.assertEqual(bm.self_time(p, [self.span(50, 120),
                                          self.span(190, 300)]), 70)
        self.assertEqual(bm.self_time(p, [self.span(300, 400)]), 100)

    def test_no_children(self):
        self.assertEqual(bm.self_time(self.span(5, 9), []), 4)


class FailFrac(unittest.TestCase):
    def test_share(self):
        self.assertEqual(bm.fail_frac(200, 0), 0.0)
        self.assertEqual(bm.fail_frac(200, 3), 0.015)
        self.assertEqual(bm.fail_frac(1, 1), 1.0)

    def test_rejects_impossible_counts(self):
        with self.assertRaises(ValueError):
            bm.fail_frac(0, 0)
        with self.assertRaises(ValueError):
            bm.fail_frac(5, 6)
        with self.assertRaises(ValueError):
            bm.fail_frac(5, -1)


class Checksum(unittest.TestCase):
    def setUp(self):
        cp.STRICT = True
        self.df = pd.DataFrame({"b": [2.0000001, None, 1.5],
                                "a": ["x", "y", None]})

    def test_row_and_column_order_do_not_matter(self):
        shuffled = self.df.iloc[[2, 0, 1]][["a", "b"]]
        self.assertEqual(bm.checksum(self.df, cp.norm),
                         bm.checksum(shuffled, cp.norm))

    def test_floats_rounded_to_six_places(self):
        nudged = self.df.assign(b=[2.0000002, None, 1.5])
        self.assertEqual(bm.checksum(self.df, cp.norm),
                         bm.checksum(nudged, cp.norm))
        moved = self.df.assign(b=[2.00001, None, 1.5])
        self.assertNotEqual(bm.checksum(self.df, cp.norm),
                            bm.checksum(moved, cp.norm))

    def test_strict_rendering_keeps_int_and_float_apart(self):
        ints = pd.DataFrame({"n": [1, 2]})
        floats = pd.DataFrame({"n": [1.0, 2.0]})
        self.assertNotEqual(bm.checksum(ints, cp.norm),
                            bm.checksum(floats, cp.norm))

    def test_column_names_are_part_of_the_sum(self):
        self.assertNotEqual(bm.checksum(self.df, cp.norm),
                            bm.checksum(self.df.rename(columns={"a": "c"}),
                                        cp.norm))


class LayerMetrics(unittest.TestCase):
    def test_one_pass_tree(self):
        trace = {
            "spans": [
                {"id": 1, "parent": 0, "kind": "pass", "name": "pass1",
                 "start": 0.0, "end": 1000.0},
                {"id": 2, "parent": 1, "kind": "op", "name": "q_a",
                 "start": 0.0, "end": 900.0},
                {"id": 3, "parent": 2, "kind": "fn", "name": "q_a",
                 "start": 0.0, "end": 100.0},
                {"id": 4, "parent": 2, "kind": "action", "name": "q_a",
                 "start": 100.0, "end": 880.0},
            ],
            "qes": [{"op": -1, "func": "command", "end": 900.0,
                     "phases": {"optimization": {"start": 110.0, "end": 150.0},
                                "planning": {"start": 150.0, "end": 160.0}},
                     "graft_nodes": 2, "broadcasts": 1,
                     "broadcast_bytes": 1048576, "obs_scans": 0}],
            "jobs": [
                {"job": 0, "op": 2, "start": 200.0, "phase": "start"},
                {"job": 0, "end": 800.0, "phase": "end"},
                {"stage": 0, "attempt": 0, "job": 0, "start": 210.0,
                 "end": 790.0, "phase": "stage", "failed": False,
                 "m": {"tasks": 4, "task_ms": 2000, "cpu_ms": 1500.0,
                       "gc_ms": 10, "in_bytes": 2097152, "in_rows": 1000,
                       "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                       "shuffle_wait_ms": 0, "spill_bytes": 0,
                       "out_bytes": 0, "out_rows": 0, "retries": 0,
                       "failed": 0, "task_max_ms": 900,
                       "task_median_ms": 300}}],
            "batches": [],
        }
        spans = bm.build_spans(trace)
        m = bm.layer_metrics(spans, 1, cores=4, rows_out=10, out_mb=0.0)
        self.assertEqual(m["query.build_ms"], 100.0)
        self.assertEqual(m["query.action_ms"], 780.0)
        # op 0..900 minus optimization/planning 110..160 and job 200..800
        self.assertEqual(m["query.unattributed_ms"], 900.0 - 50.0 - 600.0)
        self.assertEqual(m["self.op_ms"], 20.0)
        self.assertEqual(m["catalyst.optimization_ms"], 40.0)
        self.assertEqual(m["exec.jobs"], 1)
        self.assertEqual(m["exec.core_busy"], 0.5)
        self.assertEqual(m["exec.scan_mb"], 2.0)
        self.assertEqual(m["exec.rows_read_per_row_out"], 100.0)
        self.assertEqual(m["exec.task_skew_p90"], 3.0)
        self.assertEqual(m["exec.broadcast_mb"], 1.0)
        self.assertEqual(m["plans.graft_nodes"], 2)
        # the action minus its phases (110..160) and its job (200..800)
        self.assertEqual(m["self.action_ms"], 780.0 - 50.0 - 600.0)
        self.assertEqual(m["self.job_ms"], 20.0)

    def test_stream_jobs_nest_under_their_batch(self):
        trace = {
            "spans": [
                {"id": 1, "parent": 0, "kind": "pass", "name": "pass1",
                 "start": 0.0, "end": 100.0},
                {"id": 2, "parent": 1, "kind": "op", "name": "q_s",
                 "start": 0.0, "end": 100.0},
                {"id": 3, "parent": 2, "kind": "fn", "name": "q_s",
                 "start": 0.0, "end": 90.0},
            ],
            "qes": [],
            "jobs": [{"job": 7, "op": 2, "start": 20.0, "phase": "start"},
                     {"job": 7, "end": 30.0, "phase": "end"}],
            "batches": [{"query": "abcdefgh-1", "batch": 0, "start": 10.0,
                         "end": 50.0, "input_rows": 5, "addbatch_ms": 25,
                         "planning_ms": 5, "commit_ms": 4, "state_rows": 3,
                         "state_bytes": 0}],
        }
        spans = bm.build_spans(trace)
        batch = next(s for s in spans if s["kind"] == "batch")
        job = next(s for s in spans if s["kind"] == "job")
        self.assertEqual(batch["parent"], 3)
        self.assertEqual(job["parent"], batch["id"])
        m = bm.layer_metrics(spans, 1, cores=4, rows_out=1, out_mb=0.0)
        self.assertEqual(m["self.batch_ms"], 30.0)
        self.assertEqual(m["stream.batches"], 1)
        self.assertEqual(m["stream.commit_ms"], 4)
        self.assertEqual(m["query.unattributed_ms"], 60.0)


if __name__ == "__main__":
    unittest.main()
