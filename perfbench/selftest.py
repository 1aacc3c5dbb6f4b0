#!/usr/bin/env python3
"""The benchmark's own tests. Run from the repository root:

    python3 perfbench/selftest.py

- A gate whose result differs from its expectation and a gate that throws
  both count as failures, and the pass still runs every other gate.
- In a traced run, t_bpe_learn still launches Spark jobs while it builds,
  after the warm-up: the warm-up's memos cannot serve the timed passes.
- No persisted RDD survives a gate (lineage.leaked_rdds is 0).

Each test drives `run.py` end to end, so the suite takes a few minutes.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import run  # noqa: E402

SEED = 990001


def bench(workload, *extra, seconds=1, trace=0):
    """Run the benchmark; return (exit code, last stdout line as JSON, result.json)."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(SEED), "--seconds", str(seconds), "--trace", str(trace),
         *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=1200)
    with open(os.path.join(run.WORK, "run", "result.json")) as f:
        result = json.load(f)
    return proc.returncode, json.loads(proc.stdout.strip().splitlines()[-1]), result


class FailureCounting(unittest.TestCase):
    def test_wrong_expectation_and_throwing_gate(self):
        gates = run.WORKLOADS["scan"][0]
        code, line, _ = bench("scan")
        self.assertEqual(code, 0)
        self.assertEqual((line["failed"], line["correct"]), (0, True))

        wrong, thrower = gates[1], gates[2]
        data = os.path.join(run.WORK, "data",
                            f"scan-{run.WORKLOADS['scan'][1]}-{SEED}")
        path = os.path.join(data, "expect.json")
        with open(path) as f:
            expect = json.load(f)
        expect[wrong]["sha256"] = "0" * 64
        with open(path, "w") as f:
            json.dump(expect, f)
        try:
            code, line, result = bench("scan", "--throw-gate", thrower)
        finally:
            os.remove(path)
        self.assertEqual(code, 0)
        self.assertFalse(line["correct"])
        self.assertEqual(line["attempted"], len(gates))
        self.assertEqual(line["failed"], 2)
        (only,) = result["passes"]
        self.assertEqual([g["name"] for g in only["gates"]], gates)
        ok = {g["name"]: g["ok"] for g in only["gates"]}
        self.assertFalse(ok[thrower])
        self.assertTrue(all(v for k, v in ok.items() if k != thrower))


class TracedTokenize(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.code, cls.line, cls.result = bench("tokenize", trace=1)

    def test_run_is_correct(self):
        self.assertEqual(self.code, 0)
        self.assertTrue(self.line["correct"])

    def test_learning_jobs_after_warmup(self):
        traced = [p for p in self.result["passes"] if p["traced"]]
        self.assertTrue(traced)
        for p in traced:
            (learn,) = [g for g in p["gates"] if g["name"] == "t_bpe_learn"]
            self.assertGreater(learn["build_jobs"], 0)

    def test_no_leaked_rdds(self):
        self.assertEqual(self.line["metrics"]["lineage.leaked_rdds"]["value"], 0)
        self.assertTrue(all(p["leaked_rdds"] == 0 for p in self.result["passes"]))


if __name__ == "__main__":
    unittest.main(verbosity=2)
