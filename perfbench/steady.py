#!/usr/bin/env python3
"""Steadiness check: run each workload in two sets of runs and compare.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workloads a,b]
                                [--first-seed 1] [--trace]

Each set runs every workload --runs times, each run with its own seed
(set k, run i uses seed first_seed + 1000 k + i). For every end-to-end
metric of BENCHMARK.json it prints each set's median and quartiles, the
spread (interquartile range as a share of the median) against the
metric's bound, and how far the second set's median moved from the
first's. With --trace it also makes one traced run per workload and
prints its per-layer metrics and its overhead over the untraced median.
Run from the repository root.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = json.load(open(os.path.join(HERE, "..", "BENCHMARK.json")))


def one_run(workload, seed, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(SPEC["run_seconds"]), "--trace", str(trace)],
        capture_output=True, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        sys.exit(f"{workload} seed {seed}: run failed\n{out.stderr[-3000:]}")
    return json.loads(lines[-1]), lines[:-1]


def quartiles(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in SPEC["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    bounds = {m["name"]: m for m in SPEC["end_to_end"]}
    in_bounds = True
    for wl in a.workloads.split(","):
        sets = []
        for k in range(a.sets):
            runs = []
            for i in range(a.runs):
                res, _ = one_run(wl, a.first_seed + 1000 * k + i, 0)
                if not res["correct"]:
                    sys.exit(f"{wl}: run with seed {a.first_seed + 1000 * k + i} is not correct")
                runs.append(res)
                print(f"{wl} set {k + 1} run {i + 1}: " + ", ".join(
                    f"{n} {m['value']:.4g}" for n, m in res["metrics"].items())
                    + f", attempted {res['attempted']}, failed {res['failed']}", flush=True)
            sets.append(runs)
        print(f"\n== {wl}")
        shares = [sorted({r["failed"] / r["attempted"] for r in runs}) for runs in sets]
        print(f"failed share per set: {shares}")
        for name, spec in bounds.items():
            row = []
            meds = []
            for runs in sets:
                vals = [r["metrics"][name]["value"] for r in runs]
                q1, q2, q3 = quartiles(vals)
                meds.append(q2)
                spread = (q3 - q1) / q2
                row.append(f"median {q2:.4g} [{q1:.4g}, {q3:.4g}] spread {spread:.3f}")
                if name != "setup_s" and spread > spec["bound"]:
                    in_bounds = False
            sign = 1 if spec["better"] == "lower" else -1
            moved = max(sign * (m - meds[0]) / meds[0] for m in meds[1:]) if len(meds) > 1 else 0.0
            if moved > spec["bound"]:
                in_bounds = False
            print(f"{name:14s} bound {spec['bound']:.2f} | " + " | ".join(row)
                  + f" | worse by {moved:+.3f}")
        if a.trace:
            res, lines = one_run(wl, a.first_seed, 1)
            for line in lines:
                if line.startswith("traced end-to-end: "):
                    traced = json.loads(line[len("traced end-to-end: "):])
                    base = {n: statistics.median(r["metrics"][n]["value"] for r in sets[0])
                            for n in bounds}
                    print("tracing overhead: " + ", ".join(
                        f"{n} {100 * (traced[n] - base[n]) / base[n]:+.1f}%" for n in bounds))
            print("per-layer: " + ", ".join(
                f"{n} {m['value']:.4g} {m['unit']}" for n, m in res["metrics"].items()))
    print("\nall spreads and shifts within bounds" if in_bounds else "\nSOME METRIC IS OUT OF BOUNDS")
    return 0 if in_bounds else 1


if __name__ == "__main__":
    sys.exit(main())
