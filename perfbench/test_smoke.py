#!/usr/bin/env python3
"""Smoke test of the benchmark itself: runs every workload briefly (--smoke),
untraced and traced, and asserts that each run prints every end-to-end
(untraced) or per-layer (traced) metric of BENCHMARK.json with its unit, and
that the correctness checks ran and passed.

    python3 perfbench/test_smoke.py        # from the root of a graft checkout
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)
with open(os.path.join(HERE, "workloads.json")) as f:
    SPEC = json.load(f)["workloads"]
UNITS = {m["name"]: m["unit"] for m in BENCH["end_to_end"] + BENCH["per_layer"]}


def smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"] + BENCH["command"][2:],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if p.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {p.returncode}:\n{p.stderr[-3000:]}")
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


class Smoke(unittest.TestCase):
    def test_benchmark_lists_match_workloads(self):
        self.assertEqual([w["name"] for w in BENCH["workloads"]], list(SPEC))
        for w in SPEC.values():
            self.assertEqual(set(w["metric_meaning"]), {m["name"] for m in BENCH["end_to_end"]})

    def test_workloads(self):
        for workload, w in SPEC.items():
            for trace in (0, 1):
                with self.subTest(workload=workload, trace=trace):
                    log, res = smoke(workload, trace)
                    self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
                    self.assertTrue(res["correct"])
                    self.assertEqual(res["failed"], 0)
                    self.assertGreaterEqual(res["attempted"], 1)
                    names = [m["name"] for m in BENCH["per_layer" if trace else "end_to_end"]]
                    self.assertEqual(set(res["metrics"]), set(names))
                    for n in names:
                        m = res["metrics"][n]
                        self.assertEqual(m["unit"], UNITS[n], n)
                        self.assertIsInstance(m["value"], (int, float), n)
                    if trace and w["kind"] == "batch":
                        self.assertTrue(any(l.startswith("check: stream probe") for l in log), log)
                    # the correctness check ran and said so
                    checks = [l for l in log if l.startswith("check:")]
                    self.assertTrue(checks, log)
                    if w["kind"] == "batch":
                        q = len(w["load_shape"]["queries"])
                        self.assertIn(f"check: oracle {q}/{q} queries match", checks)
                    else:
                        self.assertRegex(checks[-1], r"missing 0, surplus 0$")


if __name__ == "__main__":
    unittest.main()
