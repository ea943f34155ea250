#!/usr/bin/env python3
"""Interleaved A/B of two checkouts on graft.BenchOne query timings.

Usage:

    python3 tools/benchone_ab.py PARENT_DIR CHANGE_DIR --queries s2_ann_ivf,v12_embedding_drift \
        --rounds 5 [--reps 3] [--out runs.jsonl]

Each checkout is compiled once (`sbt export Runtime/fullClasspath`, offline).
Round i then runs `graft.BenchOne <queries>` once in each checkout, in a fresh
JVM, back to back; the side that runs first alternates (the parent first on
even i). Every run times each query --reps times (SPARK_GRAFT_REPS) in one
JVM. The first rep of a run is cold (it builds the cached index artifacts),
so the medians are over the warm reps of all runs.

The JVM gets the flags build.sbt gives `sbt run` (module opens, UTC session
time zone, UI off, -Xmx from SPARK_DRIVER_MEM, default 8g) and its own
temporary directory, deleted after the run. BenchOne reads the rest from the
environment: SPARK_GRAFT_SF_DIR (the scale-factor data directory; BenchOne
defaults to its sf0.1 test data) and SPARK_GRAFT_CPUS (this tool defaults
it to the machine's CPU count).

Each run appends one JSON line to --out: round, side, order, start time,
load_start (1-minute loadavg), exit code and the per-query rep times.
Afterwards it prints the run log (start time and load per run) and a
markdown table: per query, each side's warm median, change/parent, and every
run's rep times. Exit code 0 when every run exited 0 and timed every query.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]
LINE = re.compile(r"^\[benchone\] (\S+) times=\[([^\]]*)\]")


def classpath(side_dir):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        cwd=side_dir, env=env, capture_output=True, text=True,
        stdin=subprocess.DEVNULL)
    paths = [l for l in proc.stdout.splitlines() if l.startswith("/")]
    if proc.returncode != 0 or not paths:
        sys.exit(f"benchone_ab: build failed in {side_dir}:\n{proc.stdout[-2000:]}")
    return paths[-1].strip()


def run_once(cp, queries, reps):
    tmp = tempfile.mkdtemp(prefix="benchone_ab_")
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-cp", cp, "graft.BenchOne"] + queries
    env = dict(os.environ, SPARK_GRAFT_REPS=str(reps))
    env.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))
    start = time.strftime("%H:%M:%S")
    load = os.getloadavg()[0]
    try:
        proc = subprocess.run(cmd, cwd=tmp, env=env, capture_output=True,
                              text=True, stdin=subprocess.DEVNULL)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    times = {}
    for line in proc.stdout.splitlines():
        m = LINE.match(line)
        if m:
            times[m.group(1)] = [float(t) for t in m.group(2).split(",") if t.strip()]
    if proc.returncode != 0:
        print(proc.stderr[-2000:], file=sys.stderr)
    return {"start": start, "load_start": round(load, 2),
            "exit": proc.returncode, "times": times}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def summarize(runs, queries):
    print("\nRun start times and 1-min load average:\n\n```")
    for r in runs:
        print(f"round {r['round']} {r['side']} start {r['start']} "
              f"load {r['load_start']:.2f}")
    print("```\n")
    print("| query | parent warm median s | change warm median s | change/parent "
          "| parent runs (s, rep by rep) | change runs (s, rep by rep) |")
    print("|---|---|---|---|---|---|")
    for q in queries:
        row, meds = [q], []
        per_side = {}
        for side in ("parent", "change"):
            side_runs = [r["times"].get(q, []) for r in runs if r["side"] == side]
            per_side[side] = side_runs
            meds.append(median([t for ts in side_runs for t in ts[1:]]))
        ratio = meds[1] / meds[0] if meds[0] else float("nan")
        row += [f"{meds[0]:.2f}", f"{meds[1]:.2f}", f"{ratio:.2f}"]
        for side in ("parent", "change"):
            row.append(" / ".join(
                "[" + ", ".join(f"{t:.2f}" for t in ts) + "]" for ts in per_side[side]))
        print("| " + " | ".join(row) + " |")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--queries", required=True,
                    help="comma-separated SparkEntry query names")
    ap.add_argument("--rounds", type=int, required=True)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out")
    args = ap.parse_args()
    queries = [q for q in args.queries.split(",") if q]
    if args.reps < 2:
        sys.exit("benchone_ab: --reps must be >= 2 (the first rep is cold)")
    cps = {"parent": classpath(os.path.abspath(args.parent)),
           "change": classpath(os.path.abspath(args.change))}
    runs, ok = [], True
    for i in range(args.rounds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for pos, side in enumerate(order):
            r = run_once(cps[side], queries, args.reps)
            r.update({"round": i + 1, "side": side, "order": pos,
                      "queries": queries, "reps": args.reps})
            ok &= r["exit"] == 0 and all(q in r["times"] for q in queries)
            runs.append(r)
            if args.out:
                with open(args.out, "a") as f:
                    f.write(json.dumps(r) + "\n")
            print(f"round {i + 1} {side}: exit {r['exit']}, load {r['load_start']:.2f}",
                  file=sys.stderr)
    summarize(runs, queries)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
