"""Tests of the benchmark's own Python code.

    python3 -m unittest discover -s graftbench/tests
"""
import filecmp
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import datagen  # noqa: E402
import metrics  # noqa: E402


class TailRule(unittest.TestCase):
    def test_ten_samples_beyond(self):
        xs = [float(x) for x in range(1, 31)]  # 30 samples
        v, pct = metrics.tail(list(reversed(xs)))
        self.assertEqual(v, 20.0)  # 21..30 lie beyond it
        self.assertAlmostEqual(pct, 100.0 * 20 / 30)
        self.assertEqual(sum(1 for x in xs if x > v), 10)

    def test_p90_at_one_hundred_samples(self):
        v, pct = metrics.tail(list(range(100)))
        self.assertEqual((v, pct), (89, 90.0))

    def test_too_few_samples_is_the_maximum(self):
        self.assertEqual(metrics.tail([3.0, 1.0, 2.0]), (3.0, 100.0))
        self.assertEqual(metrics.tail([5.0] * 10), (5.0, 100.0))
        self.assertEqual(metrics.tail([]), (0.0, 0.0))

    def test_eleven_samples(self):
        v, pct = metrics.tail(list(range(11)))
        self.assertEqual(v, 0)
        self.assertAlmostEqual(pct, 100.0 / 11)


class SeedDeterminism(unittest.TestCase):
    def _gen(self, seed, d):
        return datagen.tables(seed, d, 0.002)

    def test_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertEqual(self._gen(7, a), self._gen(7, b))
            for t in sorted(os.listdir(a)):
                files = sorted(os.listdir(os.path.join(a, t)))
                self.assertEqual(files, sorted(os.listdir(os.path.join(b, t))))
                _, mismatch, errors = filecmp.cmpfiles(os.path.join(a, t), os.path.join(b, t),
                                                       files, shallow=False)
                self.assertEqual((mismatch, errors), ([], []), t)

    def test_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self._gen(7, a)
            self._gen(8, b)
            p = os.path.join("lineitem.parquet", "part-00000.parquet")
            self.assertFalse(filecmp.cmp(os.path.join(a, p), os.path.join(b, p), shallow=False))

    def test_schedules(self):
        for w in datagen.WORKLOADS:
            one = json.dumps(datagen.schedule(w, 11))
            self.assertEqual(one, json.dumps(datagen.schedule(w, 11)), w)
            self.assertNotEqual(one, json.dumps(datagen.schedule(w, 12)), w)

    def test_rounds_share_one_mix(self):
        for w in datagen.WORKLOADS:
            _, rounds = datagen.schedule(w, 3)
            mixes = {tuple(sorted(op["op"] for op in r)) for r in rounds}
            self.assertEqual(len(mixes), 1, w)
        _, rounds = datagen.schedule("serve_mixed", 3)
        self.assertEqual(sorted(op["op"] for op in rounds[0]).count("upsert"), 1)

    def test_serve_round_shape(self):
        for seed in (3, 4):
            _, rounds = datagen.schedule("serve_mixed", seed)
            for r in rounds[:5]:
                ops = [op["op"] for op in r]
                self.assertEqual(ops[0], "upsert")
                self.assertEqual(sorted(ops[1:5]), sorted(datagen.SERVE_READS))
                self.assertEqual(sorted(ops[5:9]), sorted(datagen.SERVE_READS))
                self.assertEqual(ops[9], "keyed_read")
        orders = {tuple(op["op"] for op in r) for r in datagen.schedule("serve_mixed", 3)[1]}
        self.assertGreater(len(orders), 1)  # the seed still picks the read order

    def test_served_keys_follow_the_deltas(self):
        warm, rounds = datagen.schedule("serve_mixed", 5)
        live = set(range(datagen.N_DOCS))
        for op in warm + [o for r in rounds for o in r]:
            if op["op"] == "upsert":
                for row in op["rows"]:
                    (live.discard if row["op"] == "delete" else live.add)(row["doc_id"])
            elif op["op"] == "keyed_read":
                self.assertTrue(set(op["keys"][:-1]) <= live)


class SelfTime(unittest.TestCase):
    def test_parts_sum_to_the_span(self):
        read = {"op": "q1_pricing", "kind": "read", "busy_ms": 100.0,
                "build_no_stage_ms": 20, "action_no_stage_ms": 30}
        write = {"op": "upsert", "kind": "write", "busy_ms": 50.0,
                 "build_no_stage_ms": 5, "action_no_stage_ms": 15}
        m = metrics.self_times([read, write])
        self.assertEqual(m["core.self_ms"], 20)  # the read's build span
        self.assertEqual(m["streaming.self_ms"], 15)  # upsertBatch is graft's call
        self.assertEqual(m["ops.self_ms"], 0.0)
        self.assertEqual(m["spark.driver.self_ms"], (30 + 5) / 2)
        self.assertEqual(m["spark.stages.self_ms"], (50 + 30) / 2)


class BenchmarkFile(unittest.TestCase):
    def test_names_match_the_report(self):
        with open(os.path.join(os.path.dirname(HERE), "..", "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([m["name"] for m in b["end_to_end"]], [n for n, _ in metrics.END_TO_END])
        self.assertEqual([m["unit"] for m in b["end_to_end"]], [u for _, u in metrics.END_TO_END])
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertTrue({w["name"] for w in b["workloads"]} <= set(datagen.WORKLOADS))


if __name__ == "__main__":
    unittest.main()
