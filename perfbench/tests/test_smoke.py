"""Smoke test of the benchmark itself.

    python3 -m unittest discover -s perfbench/tests

Runs every workload briefly on the unscaled sf0.001 base tables, traced and
untraced (``run.py --smoke``), and checks that each result line is correct
and names exactly the metrics BENCHMARK.json declares.
"""
import json
import os
import subprocess
import sys
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class SmokeTest(unittest.TestCase):
    def test_every_workload_reports_the_declared_metrics(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        p = subprocess.run([sys.executable, "perfbench/run.py", "--smoke", "--seed", "3"],
                           cwd=ROOT, capture_output=True, text=True, timeout=1800)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = [json.loads(ln) for ln in p.stdout.splitlines() if ln.startswith("{")]
        self.assertEqual(len(lines), 2 * len(spec["workloads"]))
        e2e = sorted(m["name"] for m in spec["end_to_end"])
        per_layer = sorted(m["name"] for m in spec["per_layer"])
        for i, line in enumerate(lines):
            self.assertEqual(sorted(line), ["attempted", "correct", "failed", "metrics"])
            self.assertTrue(line["correct"])
            self.assertEqual(line["failed"], 0)
            self.assertEqual(sorted(line["metrics"]), per_layer if i % 2 else e2e)


if __name__ == "__main__":
    unittest.main()
