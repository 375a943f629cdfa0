#!/usr/bin/env python3
"""Smoke test of the benchmark itself: every workload once at tiny size
(sf0.001 lineitem, Synth n=2000), one untraced and one traced rep, output
checks on. Asserts that each run is correct and that every end-to-end and
per-layer metric named in BENCHMARK.json is printed with its unit.

    python3 perfbench/smoke.py            # from the checkout root
"""
import json
import os
import subprocess
import sys


def main():
    root = os.getcwd()
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    failures = []
    for w in spec["workloads"]:
        name = w["name"]
        r = subprocess.run([sys.executable, os.path.join("perfbench", "run.py"), "--workload", name,
                            "--seed", "1", "--seconds", "1", "--smoke"],
                           capture_output=True, text=True, cwd=root)
        lines = r.stdout.strip().splitlines()
        try:
            result = json.loads(lines[-1])
        except (IndexError, ValueError):
            failures.append(f"{name}: no JSON result (exit {r.returncode})\n{r.stderr[-2000:]}")
            continue
        if r.returncode != 0 or not result["correct"] or result["failed"] != 0:
            failures.append(f"{name}: exit {r.returncode}, result {lines[-1]}")
        metrics = result["metrics"]
        for metric, unit in wanted.items():
            got = metrics.get(metric)
            if got is None or got.get("unit") != unit or not isinstance(got.get("value"), (int, float)):
                failures.append(f"{name}: metric {metric} [{unit}] missing or malformed: {got}")
        if not any(f"seed=1" in line for line in lines[:-1]):
            failures.append(f"{name}: output lines do not echo the seed")
        print(f"{name}: {len(metrics)} metrics, correct={result['correct']}", flush=True)
    for f in failures:
        print("FAIL", f)
    print("smoke: ok" if not failures else f"smoke: {len(failures)} failure(s)")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
