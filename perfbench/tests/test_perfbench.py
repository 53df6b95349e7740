"""Self-tests of the benchmark (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402


def digests(d):
    out = {}
    for t in gen.TABLES:
        with open(os.path.join(d, f"{t}.parquet"), "rb") as fh:
            out[t] = hashlib.sha256(fh.read()).hexdigest()
    return out


def rows(d):
    import pyarrow.parquet as pq
    return {t: pq.ParquetFile(os.path.join(d, f"{t}.parquet")).metadata.num_rows
            for t in gen.TABLES}


class InputsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(run.WORK, exist_ok=True)
        self.tmp = tempfile.TemporaryDirectory(dir=run.WORK)
        self.addCleanup(self.tmp.cleanup)

    def gen(self, name, seed):
        d = os.path.join(self.tmp.name, name)
        gen.write(d, seed, 0.001)
        return d

    def test_same_seed_gives_byte_identical_inputs(self):
        self.assertEqual(digests(self.gen("a", 5)), digests(self.gen("b", 5)))

    def test_other_seed_gives_other_inputs_of_same_row_counts(self):
        a, b = self.gen("a", 5), self.gen("b", 6)
        da, db = digests(a), digests(b)
        for t in gen.TABLES:
            self.assertNotEqual(da[t], db[t], t)
        self.assertEqual(rows(a), rows(b))


def span(i, parent, start, end, kind="step"):
    return {"id": i, "parent": parent, "kind": kind, "name": str(i),
            "start": start, "end": end}


class SpansTest(unittest.TestCase):
    def test_self_time_is_duration_minus_child_coverage(self):
        items = [span(0, -1, 0, 100, "pass"),
                 span(1, 0, 10, 40), span(2, 0, 30, 60),  # overlapping kids
                 span(3, 0, 90, 130),                      # runs past parent
                 span(4, 1, 15, 20)]
        st = spans.self_times(items)
        self.assertEqual(st[0], 100 - (60 - 10) - (100 - 90))
        self.assertEqual(st[1], 30 - 5)
        self.assertEqual(st[2], 30)
        self.assertEqual(st[4], 5)

    def test_layers_partition_the_pass(self):
        p = {"spans": [span(0, -1, 0, 1000, "pass"),
                       span(1, 0, 0, 600, "query"),
                       span(2, 1, 0, 200, "build"),
                       span(3, 1, 200, 600, "sink"),
                       span(4, 0, 600, 900, "step")],
             "jobs": [{"span": 3, "start": 300, "end": 500},
                      {"span": 3, "start": 350, "end": 550},  # concurrent
                      {"span": 4, "start": 700, "end": 800}],
             "phases": [{"phase": "optimization", "start": 210, "end": 260}]}
        got = spans.layer_self_seconds(p)
        self.assertAlmostEqual(sum(got.values()), 1.0)
        self.assertAlmostEqual(got["exec"], 0.35)
        self.assertAlmostEqual(got["sql"], 0.05)
        self.assertAlmostEqual(got["queries"], 0.2)
        self.assertAlmostEqual(got["sink"], 0.4 - 0.25 - 0.05)
        self.assertAlmostEqual(got["steps"], 0.2)
        self.assertAlmostEqual(got["bench"], 0.1)


class QuantileTest(unittest.TestCase):
    def test_harrell_davis(self):
        xs = list(range(1, 101))
        self.assertAlmostEqual(run.quantile(xs, 0.5), 50.5)
        self.assertAlmostEqual(run.quantile(xs, 0.9), 90.5, places=6)
        self.assertEqual(run.quantile([3.0], 0.9), 3.0)
        self.assertAlmostEqual(run.ibeta(2, 3, 0.4), 0.5248)


def fake_record():
    op = {"id": 0, "kind": "query", "name": "q", "s": 1.0, "build_s": 0.2,
          "rows": 10, "error": None, "cache_mem_mb": 1.0,
          "cache_disk_mb": 0.0, "cache_residual_mb": 0.0}
    p = {"wall_s": 1.5, "cpu_s": 3.0, "jvm_gc_s": 0.1, "jvm_jit_s": 0.5,
         "codegen_compiles": 4, "codegen_s": 0.2, "ops": [op],
         "spans": [span(0, -1, 0, 1500, "pass"), span(1, 0, 0, 1000, "query")],
         "jobs": [{"span": 1, "start": 100, "end": 900}],
         "phases": [], "exec": {"1": {"tasks": 4, "run_s": 2.0}}}
    return {"setup_s": 20.0, "peak_rss_mb": 900.0, "passes": [p],
            "outputs": {"q": "unused"}}


class MetricNamesTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            self.spec = json.load(fh)

    def names(self, key):
        return {m["name"] for m in self.spec[key]}

    def test_end_to_end_names_are_declared(self):
        got = run.end_to_end(fake_record(), attempted=2, failed=0)
        self.assertEqual(set(got), self.names("end_to_end"))

    def test_per_layer_names_are_declared(self):
        got = run.per_layer(fake_record(), "query_mix", cores=4)
        self.assertEqual(set(got), self.names("per_layer"))

    def test_every_declared_workload_runs(self):
        for w in self.spec["workloads"]:
            self.assertIn(w["name"], run.SIZES)


if __name__ == "__main__":
    unittest.main()
