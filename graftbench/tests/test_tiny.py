"""End-to-end smoke of the benchmark: a tiny version of each workload, plain
and traced. Every metric BENCHMARK.json names must be printed with its unit
and every correctness check must pass. Builds the benchmark on first use.

    python3 -m unittest discover -s graftbench/tests
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)

TINY = {
    "ingest_live": ["--seconds", "3", "--trades-per-file", "8",
                    "--setup-reps", "1"],
    "catalog": ["--seconds", "1", "--sf", "0.001",
                "--queries", "q01_recent_events,q02_kpi_overview,"
                             "q22_region_revenue,q38_minhash_lsh_pairs,"
                             "q105_bpe_pairs",
                "--setup-reps", "1"],
}


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Tiny(unittest.TestCase):
    def run_one(self, workload, trace):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             workload, "--seed", "3", "--trace", str(trace)] + TINY[workload],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.splitlines()
        res = json.loads(lines[-1])
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], p.stdout[-3000:])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        kind = "per_layer" if trace else "end_to_end"
        want = {m["name"]: m["unit"] for m in spec()[kind]}
        got = res["metrics"]
        self.assertEqual(set(got), set(want))
        for name, unit in want.items():
            self.assertEqual(got[name]["unit"], unit, name)
            self.assertIsInstance(got[name]["value"], (int, float), name)
            # and printed by name with its unit above the result line
            self.assertTrue(any(ln.split()[:1] == [name] and ln.split()[-1] == unit
                                for ln in lines[:-1]), name)
        if not trace:
            for name, m in got.items():
                self.assertGreater(m["value"], 0, name)

    def test_ingest_live(self):
        self.run_one("ingest_live", 0)

    def test_ingest_live_traced(self):
        self.run_one("ingest_live", 1)

    def test_catalog(self):
        self.run_one("catalog", 0)

    def test_catalog_traced(self):
        self.run_one("catalog", 1)


if __name__ == "__main__":
    unittest.main()
