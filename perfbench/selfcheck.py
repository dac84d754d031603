"""Tiny-input self-check of the benchmark.

Runs every workload at toy size, untraced and traced, and fails unless
each run passes its output check and reports exactly the metrics
BENCHMARK.json lists, each also printed by name in its table.

    python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import LAYER_METRICS
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    listed = [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]]
    if listed != [(k, u, b) for k, (u, b, *_r) in LAYER_METRICS.items()]:
        print("BENCHMARK.json per_layer differs from run.LAYER_METRICS")
        return 1
    expected = {0: [m["name"] for m in bench["end_to_end"]],
                1: [m["name"] for m in bench["per_layer"]]}
    bad = 0
    for workload in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"),
                   "--workload", workload, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--size", "toy"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            problems = []
            if p.returncode != 0 or not lines:
                problems.append(f"exit {p.returncode}: {p.stderr[-2000:]}")
            else:
                result = json.loads(lines[-1])
                table = "\n".join(lines[:-1])
                if not result["correct"] or result["failed"]:
                    problems.append(f"output check failed:\n{table}")
                got = list(result["metrics"])
                if got != expected[trace]:
                    problems.append(f"metrics {got} != {expected[trace]}")
                shown = expected[trace] + (["error_rate"] if not trace else [])
                problems += [f"{name} not printed" for name in shown
                             if f"  {name} " not in table]
            status = "ok" if not problems else "FAIL"
            print(f"{status} {workload} trace={trace}")
            for msg in problems:
                print("   ", msg)
            bad += bool(problems)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
