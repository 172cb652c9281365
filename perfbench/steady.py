#!/usr/bin/env python3
"""Repeat the benchmark over several seeds and report each metric's median,
quartiles and spread (interquartile distance over the median).

    python3 perfbench/steady.py --workload <name> --seeds 1 2 3 ... \
        [--seconds 10] [--trace 0] [--out runs.json]

Run from the repository root. Every run's result line is kept in --out.
"""
import argparse
import json
import statistics
import subprocess
import sys


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("nan")}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    a = ap.parse_args()
    runs = []
    for seed in a.seeds:
        p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", a.workload,
                            "--seed", str(seed), "--seconds", str(a.seconds),
                            "--trace", str(a.trace)], capture_output=True, text=True)
        if p.returncode != 0:
            sys.exit(f"seed {seed} failed:\n{p.stderr[-2000:]}")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        runs.append({"seed": seed, **res})
        print(f"seed {seed}: correct={res['correct']} " + " ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
            if a.trace == 0), flush=True)
    names = runs[0]["metrics"].keys()
    out = {k: summary([r["metrics"][k]["value"] for r in runs]) for k in names}
    for k, v in out.items():
        print(f"{k:40s} median {v['median']:.4g}  q1 {v['q1']:.4g}  q3 {v['q3']:.4g}  "
              f"spread {v['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as f:
            json.dump({"runs": runs, "summary": out}, f, indent=1)


if __name__ == "__main__":
    main()
