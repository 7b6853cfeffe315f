#!/usr/bin/env python3
"""Smoke test of the benchmark at fixture scale 0.001: every workload runs
once as is (exit 0, no failure) and once with ``--corrupt-output``, where
the first checked output is tampered with and must be counted as a failure
(exit 1, ``fail_frac`` > 0).

    python3 perfbench/smoke.py

Run from the repository root; exits 0 when every check holds.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys

from steady import HERE, ROOT, WORKLOADS


def run(workload: str, corrupt: bool):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "1", "--seconds", "1", "--trace", "0", "--sf", "0.001"]
    if corrupt:
        cmd.append("--corrupt-output")
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                          text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if len(lines) < 2:
        return proc.returncode, None, None
    return proc.returncode, json.loads(lines[-2])["diagnostics"], json.loads(lines[-1])


def main() -> int:
    problems = []
    for workload in WORKLOADS:
        before = len(problems)
        code, diag, result = run(workload, corrupt=False)
        if code != 0 or result is None or result["failed"] or not result["correct"]:
            problems.append(f"{workload}: clean run exit {code}, diagnostics {diag}")
        code, diag, result = run(workload, corrupt=True)
        if code == 0 or diag is None or not diag["fail_frac"] > 0 or result["correct"]:
            problems.append(f"{workload}: corrupted output not counted (exit {code}, {diag})")
        for p in problems[before:] or ["ok"]:
            print(f"{workload}: {p}", flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
