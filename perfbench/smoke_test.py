#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at a tiny size, untraced and
traced. Each run must exit 0, pass every correctness check, and print every
metric named in BENCHMARK.json with its unit. A traced run must also read
above zero in every layer its workload enters, and its layer self times must
add up to the wall time of its spans.

    python3 perfbench/smoke_test.py        # from the root of a checkout
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


# Layers each workload enters; their traced figures must be above zero.
ENTERED = {
    "hourly_upsert": ["ingest.discover_ms", "ingest.validate_ms", "ingest.files", "stage.write_ms",
                      "stage.bytes_out", "commit.ms", "commit.bytes_out", "archive.ms",
                      "archive.fs_ops", "wh.write_amp", "wh.space_amp", "wh.resolve_ms",
                      "wh.files_scanned", "lookup.files_scanned", "sql.resolve_ms", "sql.plan_ms",
                      "read.jobs", "read.driver_ms"],
    "maintenance_dml": ["dml.delete_ms", "dml.update_ms", "dml.merge_ms", "dml.files_rewritten",
                        "dml.bytes_published", "manifest.live_files", "wh.write_amp"],
    "operator_suite": [f"op.{row}_{m}" for row in ("p06", "q03", "r01", "s04")
                       for m in ("ms", "jobs")],
}


def run(workload, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
    return out.returncode, out.stdout.strip().splitlines()


class Smoke(unittest.TestCase):
    def check(self, workload, trace, declared):
        code, lines = run(workload, trace)
        self.assertEqual(code, 0, f"{workload} trace={trace} exited {code}")
        result = json.loads(lines[-1])
        self.assertEqual(sorted(result), ["attempted", "correct", "failed", "metrics"])
        self.assertTrue(result["correct"], f"{workload}: a correctness check failed")
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        for m in declared:
            self.assertIn(m["name"], result["metrics"], f"{workload} lacks {m['name']}")
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"], f"{workload} {m['name']} unit")
            self.assertIsInstance(got["value"], (int, float))
        return result["metrics"]

    def test_end_to_end(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                self.check(w["name"], 0, SPEC["end_to_end"])

    def test_per_layer(self):
        for w in SPEC["workloads"]:
            with self.subTest(workload=w["name"]):
                got = self.check(w["name"], 1, SPEC["per_layer"])
                for m in ENTERED[w["name"]]:
                    self.assertGreater(got[m]["value"], 0, f"{w['name']}: {m} reads 0")
                wall, self_sum = got["trace.wall_ms"]["value"], got["trace.self_sum_ms"]["value"]
                self.assertAlmostEqual(self_sum, wall, delta=0.01 * wall + 1,
                                       msg=f"{w['name']}: self times do not add up to span wall time")


if __name__ == "__main__":
    unittest.main()
