#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload etl_upsert --seed 1 --seconds 10 --trace 0

Builds the program from source on first use (see build.py), runs the
workload in one JVM at local[4], and prints every metric by name with its
unit, then, as the last stdout line, one JSON object:

    {"correct": true, "attempted": 41, "failed": 0, "metrics": {...}}

With `--trace 0` the metrics are the end-to-end set; with `--trace 1`
the per-layer set from a traced run. The full record, every metric of
both kinds plus the workload's own named metrics, is also written to
`.bench_work/results/<workload>-seed<seed>-trace<t>.json`.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ("etl_upsert", "query_mix")
TIMEOUT_S = 170


def parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    return p.parse_args(argv)


def jvm_command(jar, work, out, a, t0_ms):
    return build.jvm_prefix(jar, work) + [
        f"-Dperfbench.t0={t0_ms}",
        "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work-dir", work, "--out", out, "--tables", build.TABLES]


def run_jvm(cmd, cwd):
    """Run the JVM in its own process group; its output goes to stderr so
    that nothing can follow the result line on stdout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=sys.stderr, stderr=sys.stderr, start_new_session=True)
    try:
        return proc.wait(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        print(f"workload exceeded {TIMEOUT_S} s", file=sys.stderr)
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def describe(record, results_dir):
    """Human-readable lines: every named metric with its unit."""
    lines = [f"# {record['workload']} seed={record['seed']} trace={record['trace']} "
             f"correct={record['correct']} attempted={record['attempted']} failed={record['failed']}"]
    for name, m in record["metrics"].items():
        lines.append(f"{name} = {m['value']} {m['unit']}")
    for name, m in record["details"].items():
        if name not in record["metrics"]:
            lines.append(f"{name} = {m['value']} {m['unit']}")
    for p in record["problems"]:
        lines.append(f"PROBLEM: {p}")
    if record["trace"] == 1:
        plain = os.path.join(results_dir, f"{record['workload']}-seed{record['seed']}-trace0.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["e2e"]
            for name in ("op_cpu_s", "round_cpu_s"):
                if name not in base:  # a record from an older benchmark version
                    continue
                traced, untraced = record["e2e"][name]["value"], base[name]["value"]
                lines.append(f"tracing overhead {name} = {traced / untraced:.3f} x (traced {traced:.4f} s, "
                             f"untraced {untraced:.4f} s)")
    return lines


def main(argv):
    a = parse(argv)
    try:
        jar = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    bench_work = os.path.join(ROOT, ".bench_work")
    results = os.path.join(bench_work, "results")
    work = os.path.join(bench_work, f"run-{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    out = os.path.join(work, "record.json")
    try:
        code = run_jvm(jvm_command(jar, work, out, a, time.time() * 1000.0), ROOT)
        if code != 0 or not os.path.exists(out):
            print(f"workload run failed (exit {code})", file=sys.stderr)
            return 1
        with open(out) as f:
            record = json.load(f)
        keep = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
        shutil.copyfile(out, keep)
        spans = os.path.join(work, "spans.jsonl")
        if os.path.exists(spans):
            shutil.copyfile(spans, keep[:-len(".json")] + "-spans.jsonl")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in describe(record, results):
        print(line)
    print(json.dumps({k: record[k] for k in ("correct", "attempted", "failed", "metrics")},
                     separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
