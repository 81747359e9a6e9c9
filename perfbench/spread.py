#!/usr/bin/env python3
"""Runs the benchmark once per seed and reports each end-to-end
metric's spread: the distance between the first and third quartiles
(`statistics.quantiles(values, n=4)`) as a share of the median.

Usage: python3 perfbench/spread.py WORKLOAD SEED [SEED ...]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("seeds", type=int, nargs="+")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values, walls, runs = {}, [], []
    for seed in args.seeds:
        t0 = time.time()
        out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
                              "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                             cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        walls.append(time.time() - t0)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        steal = [ln.split(" = ")[1] for ln in lines if ln.startswith("# cpu_steal_s")]
        runs.append({"seed": seed, "metrics": res["metrics"],
                     "info": [ln for ln in lines if ln.startswith("# ")]})
        if out.returncode != 0 or not res["correct"]:
            print(f"seed {seed}: FAILED ({res['failed']} of {res['attempted']})")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
        print(f"seed {seed}: {walls[-1]:.1f} s steal {steal[0] if steal else '?'} s " +
              " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"run wall: median {statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", f"spread-{args.workload}.json"), "w") as f:
        json.dump(runs, f, indent=1)
    for k, vs in values.items():
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med
        flag = "" if spread < bounds.get(k, 1) / 3 else "  <-- above a third of the bound"
        print(f"{k}: median {med:.5g} spread {spread:.4f} (bound {bounds.get(k)}){flag}")


if __name__ == "__main__":
    main()
