#!/usr/bin/env python3
"""Self-check of the benchmark at tiny input sizes.

    python3 perfbench/selfcheck.py

Runs every workload (including ones BENCHMARK.json leaves out of its timed
set) untraced and traced at ``--size tiny`` and asserts that each run exits
0, passes every output check, and prints every metric BENCHMARK.json names,
with its unit. Then runs the benchmark in a directory that holds only
BENCHMARK.json and the benchmark's files and asserts that it fails without
printing a result. Takes several minutes; exits non-zero on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> list:
    p = run(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
            "--trace", str(trace), "--size", "tiny")
    tag = f"{workload} trace={trace}"
    if p.returncode != 0:
        return [f"{tag}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
        errs.append(f"{tag}: result keys {sorted(res)}")
    if not res["correct"] or res["failed"] or res["attempted"] < 1:
        errs.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                    f"attempted={res['attempted']}")
    want = {m["name"]: m["unit"] for m in spec["end_to_end" if trace == 0 else "per_layer"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"{tag}: metrics differ from BENCHMARK.json: "
                    f"missing={sorted(set(want) - set(got))} extra={sorted(set(got) - set(want))} "
                    f"units={[k for k in want if k in got and got[k] != want[k]]}")
    if trace == 0:
        zero = [k for k, v in res["metrics"].items() if not v["value"] > 0]
        if zero:
            errs.append(f"{tag}: end-to-end metrics not positive: {zero}")
    print(f"{tag}: {'ok' if not errs else 'FAILED'}", flush=True)
    return errs


def check_bare() -> list:
    """Without the program next to it, the benchmark must fail cleanly."""
    bare = os.path.join(HERE, ".work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    p = run(bare, "--workload", "bulk_extract", "--seed", "1", "--seconds", "1", "--trace", "0")
    shutil.rmtree(bare, ignore_errors=True)
    ok = p.returncode != 0 and not p.stdout.strip()
    print(f"bare directory: {'ok' if ok else 'FAILED'}", flush=True)
    return [] if ok else [f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}"]


def main() -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = check_bare()
    for w in WORKLOADS:
        for trace in (0, 1):
            errs += check_run(spec, w, trace)
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
