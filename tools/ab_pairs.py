#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on one perfbench workload.

Usage:

    python3 tools/ab_pairs.py PARENT_DIR CHANGE_DIR --workload W --pairs N \
        [--seed0 S] [--seconds 10] [--trace 0] [--out runs.jsonl]

Pair i runs `python3 perfbench/run.py --workload W --seed S+i --seconds X
--trace T` once in each checkout, back to back; the side that runs first
alternates (the parent first on even i). Each run appends one JSON line to
--out: workload, seed, order, side, load_start (1-minute loadavg), exit,
trace, digest, failed, attempted and the run's metrics.

Afterwards it prints, for each end-to-end metric of the change's
BENCHMARK.json: each side's median and quartiles, the pairs the change won
(ties count for neither side), and whether a gain claim holds: the change
wins at least nine tenths of the pairs and the medians differ, in the
better direction, by more than the parent's quartile distance. It also
prints whether every pair's digests matched and every run had 0 failed.
Exit code 0 when every run exited 0.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def run_once(side_dir, workload, seed, seconds, trace):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    load = os.getloadavg()[0]
    proc = subprocess.run(cmd, cwd=side_dir, capture_output=True, text=True)
    result = {}
    lines = proc.stdout.strip().splitlines()
    if lines:
        try:
            result = json.loads(lines[-1])
        except json.JSONDecodeError:
            pass
    digest = None
    out = os.path.join(side_dir, "perfbench", ".out",
                       f"{workload}-seed{seed}-trace{trace}.json")
    if proc.returncode == 0 and os.path.exists(out):
        with open(out) as f:
            digest = json.load(f).get("digest")
    return {
        "load_start": round(load, 2), "exit": proc.returncode, "trace": trace,
        "digest": digest, "failed": result.get("failed"),
        "attempted": result.get("attempted"),
        "metrics": {k: v["value"] for k, v in result.get("metrics", {}).items()},
    }


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, med, q3


def summarize(runs, end_to_end):
    pairs = {}
    for r in runs:
        pairs.setdefault(r["seed"], {})[r["side"]] = r
    complete = [p for p in pairs.values() if "parent" in p and "change" in p]
    print(f"{len(complete)} complete pairs")
    for m in end_to_end:
        name, lower = m["name"], m["better"] == "lower"
        vals = {side: [p[side]["metrics"][name] for p in complete
                       if name in p[side]["metrics"]] for side in ("parent", "change")}
        if not vals["parent"] or len(vals["parent"]) != len(vals["change"]):
            print(f"{name}: missing in some runs")
            continue
        wins = sum(1 for p in complete
                   if (p["change"]["metrics"][name] < p["parent"]["metrics"][name]) == lower
                   and p["change"]["metrics"][name] != p["parent"]["metrics"][name])
        (pq1, pmed, pq3), (cq1, cmed, cq3) = (quartiles(vals[s]) for s in ("parent", "change"))
        gap = (pmed - cmed) if lower else (cmed - pmed)
        holds = wins * 10 >= 9 * len(complete) and gap > pq3 - pq1
        print(f"{name} ({m['better']} is better): parent median {pmed:.4g} "
              f"(q1 {pq1:.4g}, q3 {pq3:.4g}); change median {cmed:.4g} "
              f"(q1 {cq1:.4g}, q3 {cq3:.4g}); change/parent {cmed / pmed:.3f}; "
              f"change won {wins}/{len(complete)}; gap {gap:.4g} vs parent "
              f"quartile distance {pq3 - pq1:.4g}; gain claim holds: {holds}")
    same = all(p["parent"]["digest"] is not None and
               p["parent"]["digest"] == p["change"]["digest"] for p in complete)
    clean = all(r["failed"] == 0 and r["exit"] == 0 for r in runs)
    print(f"digests equal in every pair: {same}; failed 0 and exit 0 in every run: {clean}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent_dir")
    ap.add_argument("change_dir")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", default="ab_runs.jsonl")
    a = ap.parse_args()
    with open(os.path.join(a.change_dir, "BENCHMARK.json")) as f:
        end_to_end = json.load(f)["end_to_end"]
    dirs = {"parent": a.parent_dir, "change": a.change_dir}
    runs = []
    for i in range(a.pairs):
        seed = a.seed0 + i
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in zip(("first", "second"), order):
            r = {"workload": a.workload, "seed": seed, "order": pos, "side": side}
            r.update(run_once(dirs[side], a.workload, seed, a.seconds, a.trace))
            runs.append(r)
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")
            print(f"seed {seed} {pos} {side}: exit {r['exit']} failed {r['failed']} "
                  f"digest {r['digest']} {r['metrics']}", flush=True)
    summarize(runs, end_to_end)
    sys.exit(0 if all(r["exit"] == 0 for r in runs) else 1)


if __name__ == "__main__":
    main()
