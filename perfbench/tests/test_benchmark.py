"""Tests for the benchmark's own logic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

import numpy as np
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import metrics as M  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_highest_percentile_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_percentile(10_000), 99.9)
        self.assertEqual(M.tail_percentile(1000), 99.0)
        self.assertEqual(M.tail_percentile(999), 95.0)
        self.assertEqual(M.tail_percentile(100), 90.0)
        self.assertEqual(M.tail_percentile(40), 75.0)
        self.assertEqual(M.tail_percentile(39), 50.0)
        self.assertIsNone(M.tail_percentile(19))

    def test_capped_at_the_wanted_percentile(self):
        self.assertEqual(M.tail_percentile(100_000, want=99), 99.0)
        self.assertEqual(M.tail_percentile(60, want=90), 75.0)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(M.percentile(xs, 50), 50)
        self.assertEqual(M.percentile(xs, 90), 90)
        self.assertEqual(M.percentile(xs, 100), 100)
        self.assertEqual(M.percentile([7.0], 99), 7.0)


class SelfTime(unittest.TestCase):
    def test_children_overlapping_and_overhanging(self):
        # covered: [1,5] from two overlapping children, [8,10] clipped
        self.assertEqual(M.union_length([(1, 3), (2, 5), (8, 12)], 0, 10), 6)
        self.assertEqual(M.self_time((0, 10), [(1, 3), (2, 5), (8, 12)]), 4)

    def test_no_children_and_full_cover(self):
        self.assertEqual(M.self_time((5, 9), []), 4)
        self.assertEqual(M.self_time((5, 9), [(0, 20)]), 0)
        self.assertEqual(M.self_time((5, 9), [(10, 12)]), 4)

    def test_covered_share_leaves_unexplained_time_out(self):
        # an op of 10 ms: plan phases [0,1] and [1,2], one job [4,8]; the
        # gaps [2,4] and [8,10] are driver time nothing explains
        self.assertAlmostEqual(M.covered_share((0, 10), [(0, 1), (1, 2), (4, 8)]), 0.6)
        self.assertEqual(M.covered_share((0, 10), [(-5, 20)]), 1.0)
        self.assertEqual(M.covered_share((0, 10), []), 0.0)
        self.assertEqual(M.covered_share((3, 3), []), 1.0)


class PlanAndJobCover(unittest.TestCase):
    def test_driver_time_no_span_explains_lowers_the_share(self):
        import layers
        op = {"kind": "op", "op": "q#1", "name": "q", "start": 0.0, "end": 100.0,
              "attrs": {"traced": 1.0}}
        # analysis [0,10] and optimization/physical [30,40], one job [50,80]:
        # 50 of the op's 100 ms are covered
        plan = {"kind": "plan", "op": "", "name": "collect", "start": 0.0, "end": 40.0,
                "attrs": {"analysis_ms": 10.0, "analysis_t0": 0.0, "analysis_t1": 10.0,
                          "optimization_ms": 5.0, "optimization_t0": 30.0,
                          "optimization_t1": 35.0, "physical_ms": 5.0,
                          "physical_t0": 35.0, "physical_t1": 40.0}}
        job = {"kind": "job", "op": "q#1", "name": "job-0", "start": 50.0, "end": 80.0,
               "attrs": {}}
        raw = {"spans": [op, plan, job], "probes": [{"ms": 1.0}], "cores": 4,
               "ops": [{"name": "q#1", "phase": "measure", "start": 0.0, "end": 100.0,
                        "ok": True, "blocks_left": 0}]}
        out = layers.per_layer("query_mix", {"families": {"reference": ["q"]}}, raw, None)
        self.assertAlmostEqual(out["planning.accounted_share_min"]["value"], 0.5)
        self.assertEqual(out["planning.driver_outside_jobs_ms"]["value"], 70.0)
        self.assertEqual(out["planning.unexplained_driver_ms"]["value"], 50.0)
        self.assertEqual(out["planning.analysis_ms"]["value"], 10.0)
        self.assertEqual(set(out), set(layers.PER_LAYER))


class InteractionMap(unittest.TestCase):
    def test_every_per_layer_metric_has_a_mapped_layer(self):
        import json
        import layers
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "..", "interactions.json")) as fh:
            mapped = json.load(fh)["layers"]
        self.assertEqual({k.split(".")[0] for k in layers.PER_LAYER}, set(mapped))


class Inputs(unittest.TestCase):
    def test_same_seed_same_tables(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b, \
                tempfile.TemporaryDirectory() as c:
            gen.tables(a, 7, 0.001, 50, 40, 0.1)
            gen.tables(b, 7, 0.001, 50, 40, 0.1)
            gen.tables(c, 8, 0.001, 50, 40, 0.1)
            for t in gen.TABLES:
                ta = pq.read_table(os.path.join(a, f"{t}.parquet"))
                self.assertTrue(ta.equals(pq.read_table(os.path.join(b, f"{t}.parquet"))), t)
            self.assertFalse(pq.read_table(os.path.join(a, "documents.parquet")).equals(
                pq.read_table(os.path.join(c, "documents.parquet"))))

    def test_subset_matches_full_write(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.tables(a, 3, 0.001, 50, 40, 0.1)
            gen.tables(b, 3, 0.001, 50, 40, 0.1, only=("customer",))
            self.assertEqual(os.listdir(b), ["customer.parquet"])
            self.assertTrue(pq.read_table(os.path.join(a, "customer.parquet")).equals(
                pq.read_table(os.path.join(b, "customer.parquet"))))

    def test_planted_near_duplicates(self):
        rng = np.random.default_rng(1)
        docs = gen.documents(rng, 200, 0.1)
        self.assertEqual(sum(t.endswith(" dup") for t in docs["text"].to_pylist()), 20)

    def test_same_seed_same_schedule(self):
        a = gen.call_schedule(5, 1000, 2.0, 100, 1.1, 1.1, 3600, 300)
        b = gen.call_schedule(5, 1000, 2.0, 100, 1.1, 1.1, 3600, 300)
        c = gen.call_schedule(6, 1000, 2.0, 100, 1.1, 1.1, 3600, 300)
        for k in a:
            self.assertTrue(np.array_equal(a[k], b[k]), k)
        self.assertFalse(np.array_equal(a["caller"], c["caller"]))

    def test_schedule_shape(self):
        s = gen.call_schedule(5, 1000, 2.0, 100, 1.1, 1.1, 3600, 300)
        self.assertEqual(len(s["due_ms"]), 2000)
        self.assertEqual(s["due_ms"][1], 1.0)  # 1000/s -> one per ms
        # key range ~10% wider than the customers: some callers miss
        self.assertTrue((s["caller"] >= 100).any() and (s["caller"] < 110).all())
        # disorder stays within the stated bound of event time
        t = (s["ts_us"] - s["ts_us"][0]) / 1e6
        self.assertTrue((np.maximum.accumulate(t) - t <= 300).all())


class OpenLoop(unittest.TestCase):
    def test_latency_runs_from_the_due_time(self):
        due = [0.0, 10.0, 20.0, 30.0]
        # the second append ran 10 ms behind schedule
        chunks = [(0, 2, 1, 5.0), (2, 4, 2, 40.0)]
        batches = [(1, 100.0), (2, 150.0)]
        acc = M.event_latencies(due, chunks, batches, t0_ms=0.0)
        self.assertEqual({k: v[0] for k, v in acc.items()},
                         {0: 100.0, 1: 90.0, 2: 130.0, 3: 120.0})
        self.assertEqual({k: v[1] for k, v in acc.items()},
                         {0: 5.0, 1: -5.0, 2: 20.0, 3: 10.0})

    def test_first_covering_batch_and_unserved(self):
        due = [0.0, 1.0, 2.0]
        chunks = [(0, 1, 1, 0.0), (1, 2, 3, 1.0), (2, 3, 9, 2.0)]
        # offset 3 is first covered by the batch ending at 70, not 90
        batches = [(1, 50.0), (2, 60.0), (4, 70.0), (5, 90.0)]
        acc = M.event_latencies(due, chunks, batches, t0_ms=1000.0)
        self.assertEqual(acc[1][0], 70.0 - 1001.0)
        self.assertIsNone(acc[2][0])


class Health(unittest.TestCase):
    def test_max_over_twice_median_is_unhealthy(self):
        self.assertTrue(M.health([10, 11, 12, 20])["healthy"])
        self.assertFalse(M.health([10, 11, 12, 25])["healthy"])


if __name__ == "__main__":
    unittest.main()
