#!/usr/bin/env python3
"""Self-tests of the benchmark's own bookkeeping; no Spark, a few seconds.

    python3 streambench/selftest.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import pandas as pd  # noqa: E402
import pyarrow as pa  # noqa: E402

import oracle  # noqa: E402
from generator import LATE_LIMIT_MS, OpenLoopGenerator, late_ms_max  # noqa: E402
from stats import (  # noqa: E402
    TAIL_MIN_BEYOND,
    LedgerEntry,
    Outcome,
    Trigger,
    exit_code,
    map_latencies,
    median,
    percentile,
    tail,
)


class PercentileTest(unittest.TestCase):
    def test_nearest_rank(self):
        values = [float(v) for v in range(1, 101)]
        self.assertEqual(percentile(values, 50), 50.0)
        self.assertEqual(percentile(values, 90), 90.0)
        self.assertEqual(percentile(values, 100), 100.0)
        self.assertEqual(percentile([7.0], 90), 7.0)
        self.assertEqual(median([3.0, 1.0, 2.0, 10.0]), 2.5)

    def test_tail_needs_ten_beyond(self):
        p90, beyond = tail([float(v) for v in range(1, 101)], 90)
        self.assertEqual((p90, beyond), (90.0, TAIL_MIN_BEYOND))
        p90, beyond = tail([float(v) for v in range(1, 100)], 90)
        self.assertIsNone(p90)
        self.assertEqual(beyond, 9)
        # ties at the percentile do not count as beyond it
        p90, beyond = tail([1.0] * 95 + [2.0] * 5, 90)
        self.assertIsNone(p90)
        self.assertEqual(beyond, 5)
        self.assertEqual(tail([], 90), (None, 0))


class LedgerMappingTest(unittest.TestCase):
    def ledger(self):
        # five files due 0.1 s apart, visible 5 ms after they were due
        return [LedgerEntry(due=i * 0.1, created=i * 0.1 + 0.005, rows=10) for i in range(5)]

    def test_files_map_oldest_first(self):
        triggers = [
            Trigger(batch_id=0, rows=10, start=0.0, commit=0.50),
            Trigger(batch_id=1, rows=30, start=0.50, commit=1.20),
            Trigger(batch_id=2, rows=10, start=1.20, commit=1.60),
        ]
        out = map_latencies(self.ledger(), list(reversed(triggers)))
        self.assertEqual([f.batch_id for f in out], [0, 1, 1, 1, 2])
        self.assertAlmostEqual(out[0].latency_s, 0.50)
        self.assertAlmostEqual(out[3].latency_s, 1.20 - 0.3)
        self.assertAlmostEqual(out[4].latency_s, 1.60 - 0.4)
        self.assertAlmostEqual(out[1].queue_wait_s, 0.50 - 0.105)
        # a file that landed after its trigger started waited no time
        self.assertEqual(out[0].queue_wait_s, 0.0)

    def test_row_counts_must_end_on_file_boundaries(self):
        with self.assertRaises(ValueError):
            map_latencies(self.ledger(), [Trigger(0, 15, 0.0, 1.0)])
        with self.assertRaises(ValueError):  # files never read
            map_latencies(self.ledger(), [Trigger(0, 20, 0.0, 1.0)])
        with self.assertRaises(ValueError):  # rows beyond the ledger
            map_latencies(self.ledger(), [Trigger(0, 60, 0.0, 1.0)])


class GeneratorTest(unittest.TestCase):
    def run_generator(self, oversleep: float, stop_at: float | None = None):
        now = [1000.0]

        def clock():
            return now[0]

        def sleep(seconds):
            now[0] += seconds + oversleep

        chunks = [pa.table({"x": pa.array([i, i + 1], pa.int64())}) for i in range(4)]
        with tempfile.TemporaryDirectory() as d:
            gen = OpenLoopGenerator(chunks, 0.5, os.path.join(d, "src"), os.path.join(d, "stage"), clock, sleep)
            if stop_at is not None:
                gen.stop_at = stop_at
            ledger = gen.start().join(timeout=10)
            files = sorted(os.listdir(os.path.join(d, "src")))
            staged = os.listdir(os.path.join(d, "stage"))
        return gen, ledger, files, staged

    def test_on_schedule(self):
        gen, ledger, files, staged = self.run_generator(oversleep=0.0)
        self.assertEqual(len(files), 4)
        self.assertEqual(staged, [])  # every file was renamed into place
        self.assertEqual([e.due for e in ledger], [1000.0, 1000.5, 1001.0, 1001.5])
        self.assertEqual([e.rows for e in ledger], [2, 2, 2, 2])
        self.assertEqual(gen.late_ms_max, 0.0)

    def test_stops_before_the_first_file_due_at_stop_at(self):
        gen, ledger, files, _ = self.run_generator(oversleep=0.0, stop_at=1001.0)
        self.assertEqual([e.due for e in ledger], [1000.0, 1000.5])
        self.assertEqual(len(files), 2)

    def test_late_generator_invalidates_the_run(self):
        gen, ledger, _, _ = self.run_generator(oversleep=0.3)
        self.assertAlmostEqual(gen.late_ms_max, 300.0)
        self.assertGreater(gen.late_ms_max, LATE_LIMIT_MS)
        # the schedule is absolute: a late file does not delay the next due time
        self.assertEqual([e.due for e in ledger], [1000.0, 1000.5, 1001.0, 1001.5])
        ok = Outcome()
        ok.add(4)
        self.assertEqual(exit_code(ok, valid=gen.late_ms_max <= LATE_LIMIT_MS), 1)
        self.assertEqual(late_ms_max([]), 0.0)


class FailedShareTest(unittest.TestCase):
    def test_accounting(self):
        out = Outcome()
        out.add(10)
        out.add(5, 2, "k: mismatch")
        self.assertEqual((out.attempted, out.failed), (15, 2))
        self.assertAlmostEqual(out.failed_share, 2 / 15)
        self.assertFalse(out.ok)
        with self.assertRaises(ValueError):
            out.add(1, 2)
        self.assertEqual(Outcome().failed_share, 1.0)  # nothing attempted is no success

    def test_forced_mismatch_exits_nonzero(self):
        want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 1.5]})
        same = pd.DataFrame({"v": [1.5, 0.5, 1.0], "k": [3, 1, 2]})  # order-insensitive
        self.assertEqual(oracle.compare(same, want, "q", {"v": 1}), [])
        wrong = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.0, 1.7]})
        problems = oracle.compare(wrong, want, "q", {"v": 1})
        self.assertEqual(len(problems), 1)
        out = Outcome()
        out.add(4, 4 if problems else 0, problems[0])
        self.assertEqual(out.failed_share, 1.0)
        self.assertEqual(exit_code(out, valid=True), 1)
        good = Outcome()
        good.add(4)
        self.assertEqual(exit_code(good, valid=True), 0)

    def test_rounded_columns_come_from_the_sql(self):
        sql = """
            SELECT l_returnflag, round(sum(l_quantity), 2) AS sum_qty,
                   ROUND(avg(l_discount * (1 - l_tax)), 6) AS avg_disc,
                   round(greatest(0.0, list_dot_product(v, [0.5, -1.0])), 4) AS h1,
                   c_acctbal AS acctbal, round(cos, 6) AS cos,
                   CAST(count(*) AS BIGINT) AS n
            FROM t WHERE round(x, 1) > 2
        """
        self.assertEqual(oracle.rounded_columns(sql), {"sum_qty": 2, "avg_disc": 6, "h1": 4, "cos": 6})
        self.assertEqual(oracle.rounded_columns("SELECT vertex, arg_max(v, seq) AS v FROM t"), {})

    def test_rounded_floats_may_differ_by_one_unit(self):
        # a last-bit difference before round(x, 4) moves the result one unit
        self.assertTrue(oracle.float_match(4451.8932, 4451.8931, 4))
        self.assertFalse(oracle.float_match(4451.8933, 4451.8931, 4))
        self.assertTrue(oracle.float_match(807391566.46, 807391566.45, 2))
        self.assertFalse(oracle.float_match(807391566.47, 807391566.45, 2))
        # unrounded values agree to 1e-9 relative only
        self.assertTrue(oracle.float_match(0.1 + 0.2, 0.3))
        self.assertFalse(oracle.float_match(0.123456789012, 0.123456781234))
        self.assertTrue(oracle.float_match(float("nan"), float("nan")))
        self.assertFalse(oracle.float_match(1.0, float("nan")))
        want = pd.DataFrame({"k": ["a", "b"], "v": [1.2345, 2.5]})
        rounded = {"v": 4}
        self.assertEqual(oracle.compare(pd.DataFrame({"k": ["b", "a"], "v": [2.5, 1.2346]}), want, "q", rounded), [])
        self.assertEqual(len(oracle.compare(pd.DataFrame({"k": ["b", "a"], "v": [2.5, 1.2347]}), want, "q", rounded)), 1)

    def test_unrounded_columns_get_no_slack(self):
        # a raw 2-decimal column (semi_anti's c_acctbal AS acctbal) must match
        # exactly, although its values print with two places
        want = pd.DataFrame({"c_custkey": [7, 9], "acctbal": [711.56, -12.25]})
        off = pd.DataFrame({"c_custkey": [7, 9], "acctbal": [711.57, -12.25]})
        self.assertEqual(len(oracle.compare(off, want, "semi_anti", {})), 1)
        self.assertEqual(oracle.compare(want.copy(), want, "semi_anti", {}), [])
        state = pd.DataFrame({"vertex": [1, 2], "feat_value": [10.25, 3.5]})
        emitted = state.assign(feat_value=[10.26, 3.5], _batch=[3, 5])
        check = oracle._check_state(emitted, state, ("vertex",), "lww", {})
        self.assertEqual(check.batches, {3})

    def test_stream_mismatch_names_the_emitting_batch(self):
        want = pd.DataFrame({"vertex": [1, 2, 3], "seq": [9, 8, 7]})
        got = pd.DataFrame({"vertex": [1, 2, 3], "seq": [9, 5, 7], "_batch": [0, 4, 2]})
        check = oracle._check_state(got, want, ("vertex",), "lww", {})
        self.assertEqual(check.batches, {4})
        self.assertEqual(len(check.problems), 1)
        # a key the engine never emitted is a mismatch with no batch to blame
        missing = oracle._check_state(got[got.vertex != 3], want, ("vertex",), "lww", {})
        self.assertEqual(len(missing.problems), 1)
        self.assertEqual(missing.batches, {4})
        ok = oracle._check_state(got.assign(seq=[9, 8, 7]), want, ("vertex",), "lww", {})
        self.assertEqual((ok.problems, ok.batches), ([], set()))


class SeedTest(unittest.TestCase):
    def test_any_integer_seeds_the_inputs(self):
        from datagen import EdgeStream, seeded

        for seed in (0, 2**31 - 1, 2**32, 10**20, -1):
            self.assertEqual(list(seeded(seed, 3).permutation(10)), list(seeded(seed, 3).permutation(10)))
            a, b = EdgeStream(seed).chunks(1, 50)[0], EdgeStream(seed).chunks(1, 50)[0]
            self.assertTrue(a.equals(b))
        # the pass number changes the draw; it is not added to the seed
        self.assertNotEqual(list(seeded(5, 1).permutation(10)), list(seeded(5, 2).permutation(10)))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_lists_match_the_code(self):
        import layers
        import run

        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, layers.PER_LAYER)
        self.assertTrue({w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
