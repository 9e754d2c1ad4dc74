"""Tests of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

The last test builds the program and starts one JVM (about a minute on a
4-core host the first time).
"""

import hashlib
import json
import os
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import gen  # noqa: E402
import run  # noqa: E402


def tree_hash(d):
    h = hashlib.sha256()
    for root, _, files in sorted(os.walk(d)):
        for f in sorted(files):
            h.update(f.encode())
            with open(os.path.join(root, f), "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def twice(self, make):
        a, b = os.path.join(self.tmp, "a"), os.path.join(self.tmp, "b")
        ra, rb = make(a), make(b)
        self.assertEqual(ra, rb)
        self.assertEqual(tree_hash(a), tree_hash(b))
        return a, ra

    def test_rides_are_byte_identical_per_seed(self):
        a, expect = self.twice(lambda out: gen.rides(run.SAMPLE, 7, 3000, out))
        self.assertEqual(len(os.listdir(a)), 12)
        self.assertEqual(expect["fact"], 3000)
        other = os.path.join(self.tmp, "c")
        gen.rides(run.SAMPLE, 8, 3000, other)
        self.assertNotEqual(tree_hash(a), tree_hash(other))

    def test_cdc_is_byte_identical_per_seed(self):
        a, meta = self.twice(lambda out: gen.cdc(7, 1000, 6, 20, 2, 4, out))
        self.assertEqual(sorted(meta["reads"]), ["2", "4", "6"])
        self.assertEqual(meta["replay_id"], 3)
        # a later batch, up to the replay, sets a key of the replayed batch
        # to other values, so a wrongly applied replay changes the snapshot
        log = pq.read_table(os.path.join(a, "log.parquet")).to_pylist()
        replayed = {r["k"]: r for r in log if r["batch"] == meta["replay_id"]}  # last op per key

        def effect(r):
            return None if r["op"] == "D" else (r["v"], r["w"])
        self.assertTrue(any(r["k"] in replayed and effect(r) != effect(replayed[r["k"]])
                            for r in log if meta["replay_id"] < r["batch"] <= 4))
        with self.assertRaises(ValueError):
            gen.cdc(7, 1000, 6, 20, 2, 1, os.path.join(self.tmp, "c"))

    def test_scaled_fixture_is_deterministic(self):
        self.twice(lambda out: gen.scaled_fixture(run.FIXTURE, 2, out))

    def test_long_row_digest_matches_known_value(self):
        # the value harness/Digest.scala gives for the row (1, 2, 3)
        self.assertEqual(gen.digest_hex(int(gen.row_hashes([1], [2], [3])[0])), "6e6d96533768826e")


class StatisticsTest(unittest.TestCase):
    def test_tail_percentile_keeps_ten_samples_beyond(self):
        values = list(range(1, 49))  # 48 samples
        pct, v = run.tail_percentile(values)
        self.assertEqual(pct, 75)
        self.assertEqual(v, 36)
        self.assertGreaterEqual(sum(1 for x in values if x > v), 10)
        self.assertEqual(run.tail_percentile(list(range(200)))[0], 95)
        self.assertIsNone(run.tail_percentile(list(range(10))))

    def test_failed_operation_is_counted_not_timed(self):
        result = {
            "setup_s": 2.0, "wall_s": 10.0, "layers": {}, "spans": [],
            "ops": [{"name": "a", "kind": "query", "ok": True, "seconds": 1.0},
                    {"name": "b", "kind": "query", "ok": False, "seconds": 100.0},
                    {"name": "c", "kind": "query", "ok": True, "seconds": 3.0}]}
        attempted, failed, m = run.summarize("query_mix", result, 0)
        self.assertEqual((attempted, failed), (3, 1))
        self.assertEqual(m["setup_s"][0], 2.0)
        self.assertEqual(run.latencies("query_mix", result["ops"]), [1.0, 3.0])
        _, _, layers = run.summarize("query_mix", result, 1)
        self.assertEqual(layers["ops.p50_s"][0], 2.0)
        self.assertAlmostEqual(layers["ops.failed_frac"][0], 1 / 3)


class HarnessTest(unittest.TestCase):
    def test_throwing_and_wrong_operations_fail(self):
        settings = run.load_settings()
        classes, jars = run.build.ensure()
        name = settings["workloads"]["query_mix"]["pipeline"][0]
        expected = run.load_expected()[("sf0.01", name)]
        os.makedirs(run.RUNS, exist_ok=True)
        work = tempfile.mkdtemp(prefix="test-", dir=run.RUNS)
        try:
            plan = {
                "workload": "query_mix", "trace": False, "work": work,
                "settings": {k: settings[k] for k in ("cpus", "spark_conf")},
                "queries": [
                    {"name": name, "data": run.FIXTURE,
                     "rows": expected["rows"], "digest": expected["digest"]},
                    {"name": "no_such_query", "data": run.FIXTURE, "rows": 1, "digest": "0"},
                    {"name": name, "data": run.FIXTURE,
                     "rows": expected["rows"], "digest": "0" * 16}]}
            result = run.run_harness(plan, settings, classes, jars, work, timeout=300)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        ok = [o["ok"] for o in result["ops"]]
        self.assertEqual(ok, [True, False, False])
        self.assertIn("NoSuchElementException", result["ops"][1]["error"])
        self.assertIn("digest", result["ops"][2]["error"])
        attempted, failed, _ = run.summarize("query_mix", result, 0)
        self.assertEqual((attempted, failed), (3, 2))
        self.assertEqual(run.latencies("query_mix", result["ops"]), [result["ops"][0]["seconds"]])
        json.dumps(result)


if __name__ == "__main__":
    unittest.main()
