import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

from pb import gen, spec

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


class BenchmarkJsonTest(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            self.bench = json.load(f)

    def test_workloads_exist_with_their_reason(self):
        for w in self.bench["workloads"]:
            self.assertIn(w["name"], spec.WORKLOADS)
            self.assertEqual(w["why"], spec.WORKLOADS[w["name"]]["why"])
            self.assertLessEqual(len(w["why"]), 200)

    def test_metrics_match_the_spec(self):
        e2e = [(m["name"], m["unit"], m["better"], m["bound"])
               for m in self.bench["end_to_end"]]
        self.assertEqual(e2e, [m[:4] for m in spec.END_TO_END])
        layers = [(m["name"], m["unit"], m["better"]) for m in self.bench["per_layer"]]
        self.assertEqual(layers, [m[:3] for m in spec.PER_LAYER])
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in self.bench["end_to_end"]))
        setup = [m for m in self.bench["end_to_end"] if m["name"] == "setup_s"][0]
        self.assertEqual(setup["bound"], max(m["bound"] for m in self.bench["end_to_end"]))

    def test_stream_shape(self):
        # late events only after the files the set-up and warm-up batches read
        self.assertGreater(gen.STREAM_LATE_FROM, spec.STREAM["warmup_files"] + 1)


class GuardTest(unittest.TestCase):
    def run_bench(self, cwd, env):
        return subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "tpch", "--seed", "1",
             "--seconds", "1"], cwd=cwd, env=env, capture_output=True, text=True,
            timeout=60)

    def test_refuses_operator_toggles(self):
        p = self.run_bench(ROOT, dict(os.environ, SPARK_GRAFT_FANOUT="0"))
        self.assertNotEqual(p.returncode, 0)
        self.assertIn("SPARK_GRAFT_FANOUT", p.stderr)
        self.assertEqual(p.stdout, "")

    def test_fails_without_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns(".work", "target", "__pycache__"))
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            p = self.run_bench(d, dict(os.environ))
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
