#!/usr/bin/env python3
"""Smoke check of the benchmark at the smallest scale (sf0.001, one pass).

    python3 perfbench/smoke.py

Runs every workload once untraced and once traced and fails unless each
run exits 0, checks every op's output as correct, and emits every metric
BENCHMARK.json names. Run from the checkout root.
"""
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def main():
    bench = json.load(open("BENCHMARK.json"))
    want = {0: {m["name"] for m in bench["end_to_end"]},
            1: {m["name"] for m in bench["per_layer"]}}
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                 "--trace", str(trace), "--smoke"], capture_output=True, text=True)
            tag = f"{w} trace={trace}"
            lines = out.stdout.strip().splitlines()
            if out.returncode != 0 or not lines:
                problems.append(f"{tag}: rc {out.returncode}: {out.stderr[-1500:]}")
                continue
            r = json.loads(lines[-1])
            missing = want[trace] - set(r["metrics"])
            if missing:
                problems.append(f"{tag}: metrics missing: {sorted(missing)}")
            if not r["correct"] or r["failed"]:
                problems.append(f"{tag}: {r['failed']}/{r['attempted']} ops failed: " +
                                "; ".join(l for l in lines if l.startswith("FAILED")))
            print(f"{tag}: attempted={r['attempted']} failed={r['failed']} "
                  f"metrics={len(r['metrics'])}", flush=True)
    for p in problems:
        print("SMOKE FAIL " + p)
    print("smoke: " + ("FAIL" if problems else "ok"))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()
