"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests

`HarnessSelfTest` compiles the engine and the harness (perfbench/build.py)
and runs the `perfbench.SelfTest` main; the other tests are pure Python.
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
PERFBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(PERFBENCH)
sys.path.insert(0, PERFBENCH)

import build  # noqa: E402
import run  # noqa: E402


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


class HarnessSelfTest(unittest.TestCase):
    """Generator determinism, the shared id function, the tail percentile,
    and the pinned `numInputRows` over-count of Scd2Stream's foreachBatch
    input (why row counts come from the generator)."""

    def test_selftest_main(self):
        classes = build.build()
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        with tempfile.TemporaryDirectory(dir=os.path.join(ROOT, ".bench_work")) as work:
            r = subprocess.run(run.java_command(classes, "perfbench.SelfTest", [work], work),
                               capture_output=True, text=True, timeout=600)
        self.assertEqual(r.returncode, 0, r.stdout + r.stderr[-3000:])
        self.assertIn("selftest ok", r.stdout)
        layers = [l for l in r.stdout.splitlines() if l.startswith("layers ")]
        self.assertEqual(len(layers), 1, r.stdout)
        self.assertEqual(json.loads(layers[0][len("layers "):]),
                         [m["name"] for m in spec()["per_layer"]])


class BenchmarkSpec(unittest.TestCase):
    def test_workloads_match(self):
        self.assertEqual([w["name"] for w in spec()["workloads"]], list(run.WORKLOADS))

    def test_end_to_end_match(self):
        self.assertEqual([m["name"] for m in spec()["end_to_end"]], list(run.END_TO_END))

    def test_bounds(self):
        e2e = {m["name"]: m for m in spec()["end_to_end"]}
        self.assertTrue(all(0 < m["bound"] <= 0.25 for m in e2e.values()))
        self.assertEqual(e2e["setup_s"]["unit"], "s")
        self.assertEqual(max(m["bound"] for m in e2e.values()), e2e["setup_s"]["bound"])

    def test_layer_units(self):
        for m in spec()["per_layer"]:
            self.assertEqual(m["unit"], run.layer_unit(m["name"]), m["name"])


class LayerUnit(unittest.TestCase):
    def test_suffixes(self):
        self.assertEqual(run.layer_unit("streaming.addBatch_ms"), "ms")
        self.assertEqual(run.layer_unit("plans.merge_s"), "s")
        self.assertEqual(run.layer_unit("streaming.state_mb"), "MB")
        self.assertEqual(run.layer_unit("io.read_amp"), "ratio")
        self.assertEqual(run.layer_unit("sinks.files_written"), "count")


if __name__ == "__main__":
    unittest.main()
