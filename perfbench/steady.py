#!/usr/bin/env python3
"""Steadiness check: run one workload N times on different seeds and print
the median, quartiles and quartile spread (as a share of the median) of
every metric, next to the metric's bound in BENCHMARK.json.

Usage (from the root of a checkout):
  python3 perfbench/steady.py --workload NAME [--runs 10] [--first-seed 1]
                              [--trace 0|1]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values, bad = {}, 0
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(seconds), "--trace", str(a.trace)],
                           cwd=ROOT, capture_output=True, text=True)
        last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
        try:
            res = json.loads(last)
        except json.JSONDecodeError:
            res = None
        if p.returncode != 0 or res is None or not res["correct"]:
            bad += 1
            print(f"seed {seed}: FAILED (exit {p.returncode}) {p.stderr.strip()[-300:]}")
            continue
        man = next((json.loads(l.split(":", 1)[1]) for l in p.stdout.splitlines()
                    if l.startswith("perfbench manifest:")), {})
        steal = man.get("cpu_steal_frac")
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items())
              + ("" if steal is None else f"  (cpu steal {steal:.1%})"), flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"\n{a.workload}: {a.runs - bad}/{a.runs} runs ok")
    print(f"{'metric':34} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>8} {'bound':>6}")
    for k, vs in values.items():
        med = statistics.median(vs)
        q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (vs[0], 0, vs[0])
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None else ("  ok" if spread <= b / 3 else "  WIDE")
        print(f"{k:34} {med:12.5g} {q1:12.5g} {q3:12.5g} {spread:8.3f} {'' if b is None else b:>6}{flag}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
