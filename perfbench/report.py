#!/usr/bin/env python3
"""Figures for the README, made anew from runs of the benchmark.

  python3 perfbench/report.py runs WORKLOAD FIRST_SEED LAST_SEED [--trace 1]
      runs the benchmark once per seed and prints each metric's median,
      quartiles and spread (interquartile range over median)
  python3 perfbench/report.py trace perfbench/target/trace-WORKLOAD-SEED.json
      prints a traced run's per-layer table: each operation kind's median
      of each metric, the uncovered remainder included
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SECONDS = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))["run_seconds"]


def runs(workload, first, last, trace):
    vals, failed, attempted = {}, 0, 0
    for seed in range(first, last + 1):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                            "--seed", str(seed), "--seconds", str(SECONDS), "--trace", trace],
                           cwd=os.path.dirname(HERE), capture_output=True, text=True)
        if p.returncode != 0:
            print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
            continue
        r = json.loads(p.stdout.strip().splitlines()[-1])
        attempted += r["attempted"]
        failed += r["failed"]
        print(f"seed {seed}: correct={r['correct']} attempted={r['attempted']} "
              f"failed={r['failed']} " + " ".join(
                  f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()), flush=True)
        for k, v in r["metrics"].items():
            vals.setdefault(k, []).append(v["value"])
    print(f"\n{workload}: {last - first + 1} seeds, {failed} of {attempted} operations failed\n")
    print("| metric | median | Q1 | Q3 | (Q3-Q1)/median |\n|---|---|---|---|---|")
    for k, v in vals.items():
        q1, med, q3 = statistics.quantiles(v, n=4) if len(v) > 1 else (v[0],) * 3
        med = statistics.median(v)
        print(f"| {k} | {med:.4g} | {q1:.4g} | {q3:.4g} | "
              f"{(q3 - q1) / med if med else 0:.3f} |")


def trace(path):
    ops = json.load(open(path))["ops"]
    kinds = {}
    for o in ops:
        kinds.setdefault(o["kind"], []).append(o["metrics"])
    names = [n for n in ops[0]["metrics"]
             if any(m[n] for ms in kinds.values() for m in ms)]
    print("| metric | " + " | ".join(kinds) + " |")
    print("|---|" + "---|" * len(kinds))
    for n in names:
        print(f"| {n} | " + " | ".join(
            f"{statistics.median(m[n] for m in ms):.4g}" for ms in kinds.values()) + " |")


if __name__ == "__main__":
    if sys.argv[1] == "runs":
        runs(sys.argv[2], int(sys.argv[3]), int(sys.argv[4]),
             sys.argv[6] if len(sys.argv) > 6 and sys.argv[5] == "--trace" else "0")
    else:
        trace(sys.argv[2])
