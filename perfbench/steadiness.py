#!/usr/bin/env python3
"""Steadiness check: run the benchmark in two sets of runs of the same code
and say whether the sets agree within BENCHMARK.json's bounds.

Usage (from the root of a checkout):

    python3 perfbench/steadiness.py --runs 10

Each set runs every workload of BENCHMARK.json once per seed 1..runs with
--trace 0. For each workload, one row per end-to-end metric gives each set's
median, quartiles (statistics.quantiles, n=4) and spread (quartile distance
over median), then whether the sets agree: each set's spread within the
metric's bound (setup_s's spread is shown but not tested: one run's set-up
is a few repetitions of a few seconds each), and the two medians apart by at
most the bound (relative to the first set's median, in either direction). A
run's output digest must also be identical for the same workload and seed
in both sets. Exits 1 when anything disagrees or a run fails.
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
SETS = 2


def run_once(workload, seed, seconds):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    detail = os.path.join(HERE, ".out", f"{workload}-seed{seed}-trace0.json")
    digest = None
    if os.path.exists(detail):
        with open(detail) as f:
            d = json.load(f)
        digest = (d["digest"], d["env"]["loadavg_start"], d["env"]["loadavg_end"])
    return p.returncode, result, digest


def spread(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else float("inf")


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    args = ap.parse_args()
    workloads = [w["name"] for w in spec["workloads"]]
    seconds = spec["run_seconds"]
    metrics = spec["end_to_end"]

    # values[set][workload][metric] -> list; digests[(workload, seed)] -> set
    values = [{w: {m["name"]: [] for m in metrics} for w in workloads}
              for _ in range(SETS)]
    digests, loads, failures = {}, [], []
    t0 = time.time()
    for s in range(SETS):
        for w in workloads:
            for seed in range(1, args.runs + 1):
                code, result, dg = run_once(w, seed, seconds)
                if code != 0 or result is None or not result["correct"]:
                    failures.append(f"set {s + 1} {w} seed {seed}: exit {code}")
                    continue
                for m in metrics:
                    values[s][w][m["name"]].append(result["metrics"][m["name"]]["value"])
                digests.setdefault((w, seed), set()).add(dg[0])
                loads += [dg[1], dg[2]]
                print(f"# set {s + 1} {w} seed {seed}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in result["metrics"].items())
                    + f"  (load {dg[1]}->{dg[2]})", flush=True)

    ok = not failures
    print(f"\n{SETS} sets x {args.runs} seeds, {seconds} s runs, "
          f"{time.time() - t0:.0f} s, loadavg {min(loads, default=0)}-{max(loads, default=0)}")
    hdr = " | ".join(f"{'set ' + str(s + 1) + ': median [q1, q3] spread':44s}"
                     for s in range(SETS))
    for w in workloads:
        print(f"\n{w}\n  {'metric':24s} {'bound':>5s} | {hdr} | agree")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            cells, meds, agree = [], [], True
            for s in range(SETS):
                v = values[s][w][name]
                if len(v) < 2:
                    cells.append(f"{'(too few runs)':44s}")
                    agree = False
                    continue
                q1, q2, q3, sp = spread(v)
                meds.append(q2)
                cells.append(f"{q2:12.4f} [{q1:.4f}, {q3:.4f}] {sp:6.1%}".ljust(44))
                if name != "setup_s" and sp > bound:
                    agree = False
            if len(meds) == SETS and abs(meds[1] - meds[0]) / meds[0] > bound:
                agree = False
            ok &= agree
            print(f"  {name + ' (' + m['unit'] + ')':24s} {bound:5.0%} | {' | '.join(cells)} | "
                  f"{'yes' if agree else 'NO'}")
    unstable = sorted(k for k, d in digests.items() if len(d) > 1)
    print(f"\noutput digests identical across sets: "
          f"{'yes' if not unstable else 'NO ' + str(unstable)}")
    ok &= not unstable
    for f in failures:
        print(f"FAILED: {f}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
