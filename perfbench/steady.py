#!/usr/bin/env python3
"""Steadiness check: run one workload N times with distinct seeds.

    python3 perfbench/steady.py --workload sql_mix --runs 10 [--seed0 1]
        [--seconds 20] [--counts 2]

For each end-to-end metric it prints the median, the quartiles and the
spread (IQR / median, quartiles as `statistics.quantiles(n=4)` gives
them) next to the metric's bound in BENCHMARK.json. With `--counts K` it
then makes K traced runs on one seed and lists the per-layer counts that
repeat exactly across them (jobs, stages, tasks, shuffle bytes, rows):
the counts a later change may claim as counts. Run from the checkout root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = ("count", "bytes")


def run_once(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"run failed (seed {seed}, rc {out.returncode}):\n{out.stderr[-3000:]}")
    for line in lines[:-1]:
        if line.startswith("FAILED"):
            print(f"  seed {seed}: {line}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--counts", type=int, default=0)
    a = ap.parse_args()
    bench = json.load(open("BENCHMARK.json"))
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    values, failed, attempted = {}, 0, 0
    for i in range(a.runs):
        r = run_once(a.workload, a.seed0 + i, seconds, 0)
        failed += r["failed"]
        attempted += r["attempted"]
        for k, m in r["metrics"].items():
            values.setdefault(k, []).append(m["value"])
        print(f"run {i + 1}/{a.runs} seed {a.seed0 + i}: " +
              " ".join(f"{k}={m['value']:.4g}" for k, m in r["metrics"].items()), flush=True)
    summary = {}
    print(f"\n{a.workload}: {a.runs} runs, failed ops {failed}/{attempted}")
    print(f"{'metric':<14}{'median':>12}{'q1':>12}{'q3':>12}{'iqr/med':>9}{'bound':>7}")
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("inf")
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                      "values": vs}
        print(f"{k:<14}{med:>12.4f}{q1:>12.4f}{q3:>12.4f}{spread:>9.4f}"
              f"{bounds.get(k, float('nan')):>7.2f}")

    if a.counts:
        traced = [run_once(a.workload, a.seed0, seconds, 1) for _ in range(a.counts)]
        units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        exact = sorted(k for k in traced[0]["metrics"]
                       if units.get(k) in COUNT_UNITS
                       and len({t["metrics"][k]["value"] for t in traced}) == 1)
        print(f"\nper-layer counts repeating exactly over {a.counts} traced runs "
              f"(seed {a.seed0}):")
        for k in exact:
            print(f"  {k} = {traced[0]['metrics'][k]['value']}")
        summary["exact_counts"] = {k: traced[0]["metrics"][k]["value"] for k in exact}
    print(json.dumps({"workload": a.workload, "failed": failed, "attempted": attempted,
                      "metrics": summary}))


if __name__ == "__main__":
    main()
