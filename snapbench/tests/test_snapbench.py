"""Tests of the benchmark itself. Run from the root of a checkout:

    python3 -m unittest discover -s snapbench/tests -v

The input-determinism test builds the benchmark first if needed (sbt).
"""
import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import metrics  # noqa: E402
import run  # noqa: E402


def same_tree(a, b):
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


class InputsTest(unittest.TestCase):
    def setUp(self):
        os.makedirs(os.path.join(BENCH, "work"), exist_ok=True)
        self.tmp = tempfile.mkdtemp(dir=os.path.join(BENCH, "work"))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def gen_ndjson(self, seed, name):
        out = os.path.join(self.tmp, name)
        subprocess.run(["java", "-cp", run.build(), "snapbench.GenMain", str(seed), out,
                        "5000"], check=True, capture_output=True)
        return out

    def test_same_seed_gives_identical_ndjson(self):
        a, b, c = self.gen_ndjson(3, "a"), self.gen_ndjson(3, "b"), self.gen_ndjson(4, "c")
        self.assertTrue(same_tree(a, b))
        self.assertFalse(same_tree(a, c))
        self.assertGreater(len(os.listdir(a)), 1)


class OutsideCheckoutTest(unittest.TestCase):
    def test_fails_without_library_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(BENCH, os.path.join(d, "snapbench"),
                            ignore=shutil.ignore_patterns("work", "target", "__pycache__"))
            p = subprocess.run([sys.executable, "snapbench/run.py", "--workload", "bulk_build",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=180)
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout.strip(), "")


class PercentileTest(unittest.TestCase):
    def test_tail_has_ten_samples_beyond(self):
        for n in (11, 24, 100, 1000):
            xs = list(range(n))
            v = metrics.tail(xs)
            self.assertEqual(sum(x > v for x in xs), 10, n)

    def test_tail_is_p90_at_100_samples(self):
        self.assertEqual(metrics.tail(list(range(1, 101))), 90)

    def test_tail_refuses_too_few_samples(self):
        with self.assertRaises(ValueError):
            metrics.tail(list(range(10)))

    def test_median(self):
        self.assertEqual(metrics.median([3, 1, 2]), 2)
        self.assertEqual(metrics.median([4, 1, 2, 3]), 2.5)


def synthetic_record(workload):
    """A record with every op kind and layer the Scala driver reports."""
    main, read = metrics.ROLES[workload]
    ops = []
    for i in range(100):
        for k in (main, main + "_traced", read, read + "_traced"):
            ops.append({"kind": k, "ms": 10.0 + i, "error": None})
    ops.append({"kind": "compact", "ms": 5.0, "error": None})
    layers = {name: 1.0 for name, (_, active) in metrics.PER_LAYER.items()
              if workload in active}
    return {"ops": ops, "setup_s": [1.0, 2.0, 3.0], "heap_mb": [100.0],
            "checks": [], "layers": layers, "env": {"input_valid_docs": "1000"}}


class MetricNamesTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            cls.spec = json.load(f)

    def test_output_names_equal_benchmark_json(self):
        e2e = {m["name"]: m["unit"] for m in self.spec["end_to_end"]}
        layer = {m["name"]: m["unit"] for m in self.spec["per_layer"]}
        for w in metrics.WORKLOADS:
            rec = synthetic_record(w)
            got_e2e = {k: metrics.END_TO_END[k] for k in metrics.end_to_end(w, rec)}
            self.assertEqual(got_e2e, e2e, w)
            got_layer = {k: u for k, (_, u) in metrics.per_layer(w, rec, 10, 0).items()}
            self.assertEqual(got_layer, layer, w)

    def test_workloads_equal_benchmark_json(self):
        self.assertEqual([w["name"] for w in self.spec["workloads"]],
                         list(metrics.WORKLOADS))

    def test_missing_active_layer_is_an_error(self):
        rec = synthetic_record("bulk_build")
        del rec["layers"]["writer.indexing_ms"]
        with self.assertRaises(KeyError):
            metrics.per_layer("bulk_build", rec, 10, 0)


if __name__ == "__main__":
    unittest.main()
