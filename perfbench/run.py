#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload online_cascade --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the engine's sources together with the
benchmark program (sbt, offline; about a minute); later runs reuse the build
while no source file changed. The run's own files go under perfbench/.work
(deleted afterwards) and perfbench/.out (the full figures of the last run of
each workload and seed, plus the spans of a traced run).

Standard output: a few human-readable lines, then, as the last line, one JSON
object with the keys correct, attempted, failed and metrics. With --trace 0
the metrics are the end_to_end metrics of BENCHMARK.json, with --trace 1 its
per_layer metrics. The exit code is 0 only when every output check passed.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "sources.sha256")
WORKLOADS = ("online_cascade", "served_refresh", "curate_dedup")
JVM_TIMEOUT_S = 170
HEAP = "2g"
# C1 only, compiling at a tenth of the usual invocation counts: every run is
# a fresh JVM of well under a minute, and with C2 the driver-side planning
# paths keep speeding up for ~30 s of load, so a short window would measure
# the JIT's progress instead of the engine. This way the JVM is at its steady
# state once the workload's warm-up has run.
# A fixed-size heap under the parallel collector sizes the young generation
# the same in every run, so GC work and the resident set repeat run to run.
# (C1-only JVMs default to a 48 MB code cache, which the lowered thresholds
# overflow, so it gets the tiered default's size.)
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
             "-XX:ReservedCodeCacheSize=240m",
             "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    digest = sources_digest()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == digest:
                return
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Xmx2g", f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    print("perfbench: building (sbt compile)", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
        cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0 or not os.path.exists(CLASSPATH):
        fail("build failed", 3)
    with open(STAMP, "w") as f:
        f.write(digest + "\n")


def run_jvm(args, work, out):
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + JVM_FLAGS
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        kept = out[:-len(".json")] + "-jvm.log"
        shutil.copy(log_path, kept)
        with open(log_path, errors="replace") as f:
            tail = [l for l in f.read().splitlines()
                    if " INFO " not in l and " WARN " not in l][-40:]
        print("\n".join(tail), file=sys.stderr)
        fail(f"benchmark program failed ({code}); its log is in {kept}", 4)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    build()

    work = os.path.join(HERE, ".work", f"{args.workload}-{os.getpid()}")
    outdir = os.path.join(HERE, ".out")
    os.makedirs(outdir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    out = os.path.join(outdir, name + ".json")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if os.path.exists(out):
        os.remove(out)
    try:
        run_jvm(args, work, out)
        spans = os.path.join(work, "spans.json")
        if os.path.exists(spans):
            shutil.copy(spans, os.path.join(outdir, name + "-spans.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(out) as f:
        r = json.load(f)

    figures = r["per_layer"] if args.trace else r["end_to_end"]
    missing = [m["name"] for m in wanted if figures.get(m["name"]) is None]
    if missing:
        fail(f"program did not report {missing}", 5)
    env = r["env"]
    print(f"# {r['workload']} seed={r['seed']} seconds={r['seconds']} "
          f"trace={int(r['trace'])} correct={str(r['correct']).lower()} "
          f"attempted={r['attempted']} failed={r['failed']} digest={r['digest']}")
    print(f"# env: loadavg {env['loadavg_start']} -> {env['loadavg_end']}, "
          f"nproc {env['nproc']}, heap {env['heap_max_mb']:.0f} MB, "
          f"Spark {env['spark_version']}, Java {env['java_version']}, "
          f"seed {env['seed']}")
    for m in wanted:
        print(f"#   {m['name']:34s} {figures[m['name']]:14.4f} {m['unit']}")
    if args.trace:
        print("# tracer self-check, recomputed stages: " + ", ".join(
            f"{k}={v}" for k, v in r["recompute_probes"].items()))
    else:
        runs = ", ".join(f"{x:.2f}" for x in r["setup_runs_s"])
        print(f"#   (setup runs: {runs} s)")
        shown = r["shown"]
        print(f"# shown, not gated: " + ", ".join(
            f"{k}={v:.4g}" for k, v in shown.items()))
    for msg in r["failures"]:
        print(f"# FAILED: {msg}")
    print(json.dumps({
        "correct": bool(r["correct"]),
        "attempted": int(r["attempted"]),
        "failed": int(r["failed"]),
        "metrics": {m["name"]: {"value": figures[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }))
    sys.exit(0 if r["correct"] else 1)


if __name__ == "__main__":
    main()
