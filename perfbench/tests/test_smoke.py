"""Smoke run of every workload at its smallest size (sf0.001-sized
inputs, --seconds 1): the command must exit 0, check its outputs, and
print every metric BENCHMARK.json names. Takes a few minutes; builds the
engine on first use.

    python3 -m pytest perfbench/tests/test_smoke.py
"""
import json
import os
import shutil
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import run  # noqa: E402


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class SmokeTest(unittest.TestCase):
    def bench(self, wl, trace):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                            "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                           cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-2000:])
        lines = p.stdout.strip().splitlines()
        host = json.loads(lines[-2])["host"]
        self.assertEqual(host["requested_cores"], run.CORES)
        return json.loads(lines[-1])

    def test_every_workload(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        for wl in sorted(run.WORKLOADS):
            with self.subTest(workload=wl):
                res = self.bench(wl, 0)
                self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                self.assertTrue(res["correct"])
                self.assertEqual(res["failed"], 0)
                self.assertGreaterEqual(res["attempted"], 1)
                for m in spec["end_to_end"]:
                    self.assertEqual(res["metrics"][m["name"]]["unit"], m["unit"])
                    self.assertGreater(res["metrics"][m["name"]]["value"], 0)

    def test_traced_run_reports_every_layer(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        res = self.bench("curate", 1)
        self.assertTrue(res["correct"])
        self.assertEqual(set(res["metrics"]), {m["name"] for m in spec["per_layer"]})
        for k in ("targets.stage_s", "build.jobs", "sched.tasks", "scan.bytes"):
            self.assertGreater(res["metrics"][k]["value"], 0, k)


if __name__ == "__main__":
    unittest.main()
