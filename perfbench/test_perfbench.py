"""Tests of the benchmark's own math and plumbing.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The smoke test builds the program and runs every workload in both modes on
small inputs (24 events, registry tables at scale factor 0.001); it takes
several minutes.
"""
import json
import os
import statistics
import subprocess
import sys
import unittest

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)


def span(i, parent, start, end, name="s"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


class StatsTest(unittest.TestCase):
    def test_median_and_spread(self):
        self.assertEqual(stats.median([3, 1, 2]), 2)
        self.assertEqual(stats.median([4, 1, 2, 3]), 2.5)
        vals = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
        q1, _, q3 = statistics.quantiles(vals, n=4)
        self.assertAlmostEqual(stats.spread(vals), (q3 - q1) / 14.5)
        self.assertEqual(stats.spread([5.0] * 10), 0.0)

    def test_covered_merges_overlaps(self):
        self.assertEqual(stats.covered([]), 0.0)
        self.assertAlmostEqual(stats.covered([(0, 2), (1, 3), (5, 6)]), 4.0)
        self.assertAlmostEqual(stats.covered([(1, 4), (2, 3)]), 3.0)
        self.assertAlmostEqual(stats.covered([(2, 3), (0, 1)]), 2.0)

    def test_self_time_is_span_minus_children(self):
        spans = [span(1, -1, 0.0, 10.0, "run"),
                 span(2, 1, 1.0, 4.0, "a"),
                 span(3, 1, 3.0, 6.0, "b"),   # overlaps a: counted once
                 span(4, 2, 1.5, 2.0, "job"),
                 span(5, 1, 9.0, 12.0, "c")]  # runs past its parent
        st = stats.self_times(spans)
        self.assertAlmostEqual(st[1], 10.0 - 5.0 - 1.0)
        self.assertAlmostEqual(st[2], 3.0 - 0.5)
        self.assertAlmostEqual(st[3], 3.0)
        self.assertAlmostEqual(st[4], 0.5)
        by_name = stats.self_time_by_name(spans + [span(6, -1, 20.0, 21.0, "a")])
        self.assertEqual(by_name["a"][0], 2)
        self.assertAlmostEqual(by_name["a"][1], 4.0)
        self.assertAlmostEqual(by_name["a"][2], 3.5)


class DigestTest(unittest.TestCase):
    def test_row_order_does_not_matter_values_do(self):
        a = {"x": np.array([1.0, 2.0, np.nan]), "s": ["p", "q", "r"]}
        b = {"x": np.array([np.nan, 1.0, 2.0]), "s": ["r", "p", "q"]}
        self.assertEqual(checks.digest(a), checks.digest(b))
        c = {"x": np.array([1.0, 2.5, np.nan]), "s": ["p", "q", "r"]}
        self.assertNotEqual(checks.digest(a), checks.digest(c))
        # differences past the sixth significant digit are absorbed
        d = {"x": np.array([1.0 + 1e-9, 2.0, np.nan]), "s": ["p", "q", "r"]}
        self.assertEqual(checks.digest(a), checks.digest(d))
        self.assertNotEqual(checks.digest(a), checks.digest({"y": a["x"], "s": a["s"]}))


class RegistryInputTest(unittest.TestCase):
    def test_tables_follow_the_seed_and_the_fixture_schemas(self):
        a = gen.relational_tables(np.random.default_rng([5, 3]), 0.001)
        b = gen.relational_tables(np.random.default_rng([5, 3]), 0.001)
        c = gen.relational_tables(np.random.default_rng([6, 3]), 0.001)
        self.assertEqual(sorted(a), sorted(checks.TABLES))
        self.assertTrue(all(a[t].equals(b[t]) for t in a))
        self.assertFalse(a["lineitem"].equals(c["lineitem"]))
        self.assertEqual(a["lineitem"].num_rows, 6000)
        self.assertEqual(str(a["orders"].schema.field("o_orderdate").type), "timestamp[us]")
        self.assertEqual(str(a["embeddings"].schema.field("embedding").type), "list<item: float>")

    def test_cell_compare_ignores_order_but_not_values(self):
        import duckdb
        import pyarrow as pa
        import pyarrow.parquet as pq
        import tempfile
        with tempfile.TemporaryDirectory() as d:
            f = os.path.join(d, "out.parquet")
            pq.write_table(pa.table({"k": [2, 1], "v": [0.5, 1.5]}), f)
            con = duckdb.connect()
            ok = "SELECT * FROM (VALUES (1, 1.5), (2, 0.5)) t(k, v)"
            self.assertIsNone(checks.compare_cell(con, f, ok))
            self.assertIn("values", checks.compare_cell(
                con, f, "SELECT * FROM (VALUES (1, 1.5), (2, 0.25)) t(k, v)"))
            self.assertIn("rows", checks.compare_cell(
                con, f, "SELECT * FROM (VALUES (1, 1.5)) t(k, v)"))
            self.assertIn("columns", checks.compare_cell(
                con, f, "SELECT * FROM (VALUES (1, 1.5), (2, 0.5)) t(k, w)"))
            self.assertIn("floating", checks.compare_cell(
                con, f, "SELECT k::DOUBLE AS k, v FROM (VALUES (1, 1.5), (2, 0.5)) t(k, v)"))


class SmokeTest(unittest.TestCase):
    """every named metric prints with its unit, on small inputs"""

    def run_bench(self, workload, trace):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
            cwd=ROOT, capture_output=True, text=True, timeout=600)
        self.assertEqual(proc.returncode, 0, proc.stderr[-3000:])
        return json.loads(proc.stdout.strip().splitlines()[-1])

    def test_every_metric_prints_with_its_unit(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            bench = json.load(f)
        # every workload run.py takes, the ones left out of BENCHMARK.json too
        for w in sorted(run.SIZES):
            for trace, key in ((0, "end_to_end"), (1, "per_layer")):
                with self.subTest(workload=w, trace=trace):
                    res = self.run_bench(w, trace)
                    self.assertEqual(sorted(res), ["attempted", "correct", "failed", "metrics"])
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    want = {m["name"]: m["unit"] for m in bench[key]}
                    got = {k: v["unit"] for k, v in res["metrics"].items()}
                    self.assertEqual(got, want)
                    for k, v in res["metrics"].items():
                        self.assertIsInstance(v["value"], (int, float), k)


if __name__ == "__main__":
    unittest.main()
