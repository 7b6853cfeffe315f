#!/usr/bin/env python3
"""Steadiness report: run each workload N times, each in a fresh process
with its own seed, and report per end-to-end metric, and per latency of
the diagnostics line, the median, the quartiles and the spread (third
minus first quartile, as a share of the median) — the figures the bounds
in BENCHMARK.json are set from.

    python3 perfbench/steady.py --runs 10 --seconds 8 [--workloads operators,cache]

Run from the repository root. Seeds are ``--first-seed`` .. ``+ runs - 1``.
A run that fails or prints no result is reported and makes the exit code 1.
Each run's last stdout line is appended to ``.perfbench_out/steady.jsonl``.
"""
from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["operators", "cache"]


def summarize(values: list) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "n": len(values),
            "spread": (q3 - q1) / med if med else float("inf")}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    args = ap.parse_args(argv)
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    status = 0
    report = {}
    for workload in args.workloads.split(","):
        values: dict = {}
        for seed in range(args.first_seed, args.first_seed + args.runs):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                   "--seed", str(seed), "--seconds", str(args.seconds), "--trace", "0"]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                  stderr=subprocess.DEVNULL, text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines and lines[-1].startswith("{\"correct\"") else None
            diagnostics = json.loads(lines[-2])["diagnostics"] if result else {}
            if proc.returncode != 0 or result is None or not result["correct"]:
                status = 1
                print(f"{workload} seed {seed}: exit {proc.returncode}, "
                      f"{lines[-2] if len(lines) > 1 else 'no result'}", flush=True)
                continue
            with open(os.path.join(out_dir, "steady.jsonl"), "a") as fh:
                fh.write(json.dumps({"workload": workload, "seed": seed, **result}) + "\n")
            figures = {k: m["value"] for k, m in result["metrics"].items()}
            figures.update(diagnostics["samples"]["latencies"])
            for name, value in figures.items():
                values.setdefault(name, []).append(value)
            print(f"{workload} seed {seed}: " + " ".join(
                f"{k}={v:.4g}" for k, v in figures.items()), flush=True)
        report[workload] = {k: summarize(v) for k, v in values.items() if len(v) >= 2}
        for name, s in report[workload].items():
            print(f"  {workload:12s} {name:15s} median {s['median']:10.4g}  "
                  f"q1 {s['q1']:10.4g}  q3 {s['q3']:10.4g}  spread {s['spread']:.3f}", flush=True)
    print(json.dumps(report))
    return status


if __name__ == "__main__":
    sys.exit(main())
