#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_perfbench.py

- The Scala self-tests (generator determinism, each correctness check
  failing on a corrupted result) run through perfbench.SelfTest.
- The result line: a captured run's last stdout line, taken from a
  2000-character tail, parses as bare JSON with exactly the four result
  keys, and its metric names are those BENCHMARK.json lists.
- Without the repository's sources the benchmark exits non-zero and
  prints no result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import run  # noqa: E402


def bench():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def result_from_tail(stdout):
    tail = stdout[-2000:]
    return json.loads(tail.rstrip("\n").splitlines()[-1])


class SelfTests(unittest.TestCase):
    def test_scala_self_tests(self):
        jar = build.build()
        os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
        work = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(ROOT, ".bench_work"))
        os.makedirs(os.path.join(work, "tmp"))
        try:
            cmd = build.jvm_prefix(jar, work, share=False) + ["perfbench.SelfTest", work]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                                  text=True, timeout=600)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        print(proc.stdout)
        self.assertEqual(proc.returncode, 0, proc.stdout)
        self.assertIn("all self-tests passed", proc.stdout)


class ResultLine(unittest.TestCase):
    def check_run(self, workload, trace, kind):
        proc = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                               "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                              cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                              timeout=900)
        self.assertEqual(proc.returncode, 0)
        self.assertLess(len(proc.stdout.rstrip("\n").splitlines()[-1]), 2000)
        r = result_from_tail(proc.stdout)
        self.assertEqual(set(r), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(r["correct"])
        self.assertEqual(r["failed"], 0)
        self.assertGreaterEqual(r["attempted"], 1)
        want = {m["name"]: m["unit"] for m in bench()[kind]}
        self.assertEqual({k: v["unit"] for k, v in r["metrics"].items()}, want)
        return r

    def test_untraced_run_prints_end_to_end_metrics(self):
        r = self.check_run("query_mix", 0, "end_to_end")
        self.assertTrue(all(v["value"] > 0 for v in r["metrics"].values()))

    def test_traced_run_prints_per_layer_metrics(self):
        self.check_run("etl_upsert", 1, "per_layer")


class Contract(unittest.TestCase):
    def test_fails_without_repository_sources(self):
        d = tempfile.mkdtemp(prefix="bare-", dir=os.path.join(ROOT, ".bench_work"))
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("__pycache__"))
            proc = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "etl_upsert", "--seed", "1",
                                   "--seconds", "1", "--trace", "0"], cwd=d, stdout=subprocess.PIPE,
                                  stderr=subprocess.PIPE, text=True, timeout=180)
        finally:
            shutil.rmtree(d, ignore_errors=True)
        self.assertNotEqual(proc.returncode, 0)
        self.assertEqual(proc.stdout, "")

    def test_benchmark_json_matches_catalog(self):
        b = bench()
        self.assertEqual(set(b), {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"})
        self.assertEqual([w["name"] for w in b["workloads"]], list(run.WORKLOADS))
        setup = [m for m in b["end_to_end"] if m["name"] == "setup_s"]
        self.assertEqual(setup, [{"name": "setup_s", "unit": "s", "better": "lower",
                                  "bound": max(m["bound"] for m in b["end_to_end"])}])


if __name__ == "__main__":
    unittest.main()
