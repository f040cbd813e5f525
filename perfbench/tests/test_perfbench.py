"""Tests of the benchmark's own logic (no Spark needed).

Run from the repository root:  python3 -m unittest discover -s perfbench/tests
"""
import datetime
import os
import random
import shutil
import sys
import tempfile
import unittest

import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.dont_write_bytecode = True

import gate  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402
import run  # noqa: E402

REPO = os.path.dirname(os.path.dirname(HERE))


class PercentileRule(unittest.TestCase):
    def test_no_tail_below_twenty_samples(self):
        self.assertIsNone(metrics.tail([1.0] * 19))

    def test_median_until_a_hundred_samples(self):
        xs = list(range(1, 100))
        self.assertEqual(metrics.tail(xs), (50.0, 50))
        self.assertEqual(metrics.tail(list(range(1, 21))), (50.0, 10))

    def test_highest_percentile_with_ten_beyond(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(metrics.tail(list(range(1, 1001))), (99.0, 990))
        self.assertEqual(metrics.tail(list(range(1, 10001))), (99.9, 9990))

    def test_order_of_samples_does_not_matter(self):
        xs = list(range(1, 101))
        random.Random(3).shuffle(xs)
        self.assertEqual(metrics.tail(xs), (90.0, 90))


class Digest(unittest.TestCase):
    cols = ["b", "a", "t"]
    rows = [[1, "x", {"ts": 0}], [2.5, "y", {"ts": 1_000_000}], [2.5, "y", {"ts": 1_000_000}]]

    def test_row_order_does_not_matter(self):
        shuffled = [self.rows[2], self.rows[0], self.rows[1]]
        self.assertEqual(gate.digest(self.cols, self.rows), gate.digest(self.cols, shuffled))

    def test_column_order_does_not_matter(self):
        perm = [[r[1], r[2], r[0]] for r in self.rows]
        self.assertEqual(gate.digest(self.cols, self.rows),
                         gate.digest(["a", "t", "b"], perm))

    def test_multiplicity_and_values_matter(self):
        d = gate.digest(self.cols, self.rows)
        self.assertNotEqual(d, gate.digest(self.cols, self.rows[:2]))
        changed = [list(r) for r in self.rows]
        changed[0][1] = "z"
        self.assertNotEqual(d, gate.digest(self.cols, changed))

    def test_engines_value_forms_agree(self):
        naive = datetime.datetime(1970, 1, 1, 0, 0, 1)
        aware = naive.replace(tzinfo=datetime.timezone.utc)
        self.assertEqual(gate.canon(naive), gate.canon({"ts": 1_000_000}))
        self.assertEqual(gate.canon(aware), gate.canon({"ts": 1_000_000}))
        self.assertEqual(gate.canon(datetime.date(1970, 1, 3)), gate.canon({"d": 2}))
        self.assertEqual(gate.canon(3), gate.canon(3.0))
        self.assertNotEqual(gate.canon(3), gate.canon(3.5))
        self.assertEqual(gate.canon(float("nan")), gate.canon({"f": "NaN"}))
        self.assertEqual(gate.canon({"x": 1, "y": "s"}), gate.canon([1, "s"]))


class Generator(unittest.TestCase):
    def setUp(self):
        root = os.path.join(os.getcwd(), ".bench_build")
        os.makedirs(root, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix="perfbench-test-", dir=root)
        self.static = gen.static_tables(os.path.join(self.tmp, "static"))

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def inputs(self, seed, name):
        run = os.path.join(self.tmp, name)
        feed = gen.write_run_inputs(self.static, run, seed)
        tables = [pq.read_table(p) for p in feed["arrivals"]]
        tables.append(pq.read_table(os.path.join(feed["data"], "events.parquet")))
        return feed, tables

    def test_same_seed_same_inputs(self):
        f1, t1 = self.inputs(7, "a")
        f2, t2 = self.inputs(7, "b")
        self.assertEqual(len(t1), len(t2))
        self.assertTrue(all(x.equals(y) for x, y in zip(t1, t2)))
        self.assertEqual(f1["in_horizon"], f2["in_horizon"])

    def test_other_seed_other_inputs(self):
        _, t1 = self.inputs(7, "a")
        _, t2 = self.inputs(8, "b")
        self.assertFalse(all(x.equals(y) for x, y in zip(t1, t2)))

    def test_static_tables_do_not_depend_on_the_seed(self):
        f1, _ = self.inputs(7, "a")
        f2, _ = self.inputs(8, "b")
        for t in ("orders", "documents", "embeddings"):
            self.assertEqual(os.path.realpath(os.path.join(f1["data"], f"{t}.parquet")),
                             os.path.realpath(os.path.join(f2["data"], f"{t}.parquet")))

    def test_feed_shape(self):
        feed, _ = self.inputs(7, "a")
        delivered = [i for f in feed["file_ids"] for i in f]
        distinct = set(delivered)
        dup_share = 1 - len(distinct) / len(delivered)
        self.assertTrue(0.10 < dup_share < 0.18, dup_share)
        self.assertEqual(distinct, set(range(len(feed["events"]["event_id"]))))
        late = distinct - feed["in_horizon"]
        self.assertTrue(0 < len(late) < 0.05 * len(distinct), len(late))

    def test_static_tables_have_the_fixture_shape(self):
        def table(name):
            return pq.read_table(os.path.join(self.static, f"{name}.parquet")).to_pydict()
        for name, rows in gen.ROWS.items():
            if name not in ("users", "events"):
                self.assertEqual(len(table(name)[next(iter(table(name)))]), rows, name)
        docs = table("documents")
        words = [t.split() for t in docs["text"]]
        self.assertTrue(all(10 <= len(w) <= 101 for w in words))
        near = sum(w[-1] == "dup" for w in words)
        self.assertTrue(0.01 < near / len(words) < 0.05, near)
        self.assertEqual(docs["n_chars"], [len(t) for t in docs["text"]])
        emb = table("embeddings")
        self.assertTrue(all(len(v) == gen.EMBED_DIM for v in emb["embedding"]))
        self.assertTrue(all(abs(sum(x * x for x in v) - 1) < 1e-5 for v in emb["embedding"]))
        self.assertEqual(set(emb["label"]), set(range(gen.EMBED_LABELS)))


class BenchmarkFile(unittest.TestCase):
    def test_metrics_and_workloads_match_the_harness(self):
        import json
        with open(os.path.join(REPO, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in b["per_layer"]],
                         metrics.LAYER)
        for w in b["workloads"]:
            self.assertIn(w["name"], run.WORKLOADS)


if __name__ == "__main__":
    unittest.main()
