#!/usr/bin/env python3
"""Steadiness helper: run one workload k times and report each metric's spread.

    python3 perfbench/steady.py --workload etl_upsert --runs 10 [--first-seed 1] [--trace 0]

Each run uses its own seed (first-seed, first-seed+1, ...). For every metric
it prints the median, the first and third quartiles (as Python's
statistics.quantiles(values, n=4) gives them), the spread (Q3 - Q1) / median,
and, for end-to-end metrics, that spread against the metric's bound in
BENCHMARK.json. A spread under a third of its bound is marked "ok". The raw
values go to .bench_work/steady-<workload>-trace<t>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def last_json_line(text):
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if line.startswith("{"):
            return json.loads(line)
    raise ValueError("no JSON result line")


def main(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--trace", type=int, default=0, choices=(0, 1))
    p.add_argument("--seconds", type=int, default=None, help="defaults to run_seconds of BENCHMARK.json")
    a = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values, units, bad = {}, {}, []
    for i in range(a.runs):
        seed = a.first_seed + i
        cmd = bench["command"] + ["--workload", a.workload, "--seed", str(seed),
                                  "--seconds", str(seconds), "--trace", str(a.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if proc.returncode != 0:
            bad.append(f"seed {seed}: exit {proc.returncode}")
            continue
        r = last_json_line(proc.stdout)
        if not r["correct"] or r["failed"]:
            bad.append(f"seed {seed}: correct={r['correct']} failed={r['failed']}")
        for name, m in r["metrics"].items():
            values.setdefault(name, []).append(m["value"])
            units[name] = m["unit"]
        print(f"seed {seed}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
              file=sys.stderr)
    print(f"{a.workload} trace={a.trace} runs={a.runs} seconds={seconds}")
    for name, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], vs[0], vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        line = f"{name:40s} median={med:.6g} {units[name]} q1={q1:.6g} q3={q3:.6g} spread={spread:.3f}"
        if name in bounds:
            ok = "ok" if spread < bounds[name] / 3 else ("within bound" if spread <= bounds[name] else "TOO WIDE")
            line += f" bound={bounds[name]} ({ok})"
        print(line)
    for b in bad:
        print(f"BAD RUN: {b}")
    out = os.path.join(ROOT, ".bench_work", f"steady-{a.workload}-trace{a.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump({"workload": a.workload, "seconds": seconds, "values": values, "bad": bad}, f, indent=1)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
