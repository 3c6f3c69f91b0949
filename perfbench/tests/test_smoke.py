"""Smoke run of each workload: a short run, traced, through the same command
the benchmark uses; checks the result line, the output checks and that every
metric of BENCHMARK.json is reported. Builds on first use and takes a few
minutes.

    python3 -m unittest discover -s perfbench/tests -p 'test_smoke.py'

Run from the root of a checkout.
"""
import glob
import json
import os
import subprocess
import sys
import unittest

ROOT = os.getcwd()


class Smoke(unittest.TestCase):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    def run_workload(self, name):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "7",
             "--seconds", "2", "--trace", "1"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=900)
        self.assertEqual(p.returncode, 0)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(set(result["metrics"]), {m["name"] for m in self.spec["per_layer"]})
        rec = max(glob.glob(os.path.join(ROOT, ".bench_run", "records", name, "*[0-9].json")),
                  key=os.path.getmtime)
        rec = json.load(open(rec))
        self.assertEqual(set(rec["end_to_end"]), {m["name"] for m in self.spec["end_to_end"]})
        for k, v in rec["end_to_end"].items():
            self.assertGreater(v, 0, k)
        self.assertIn("spark.sql.shuffle.partitions", rec["raw"]["sql_conf"])
        return result["metrics"]

    def test_mediation(self):
        m = self.run_workload("mediation")
        self.assertGreater(m["enrich.sends"]["value"], 0)
        self.assertGreater(m["state.rows"]["value"], 0)

    def test_ingest(self):
        m = self.run_workload("ingest")
        self.assertGreater(m["lake.versions"]["value"], 0)
        self.assertGreater(m["lake.append_ms"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
