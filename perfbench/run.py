#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload replay_bulk --seed 1 --seconds 15 --trace 0

The first run in a checkout compiles the engine and the benchmark with sbt
(offline); later runs reuse the build while the sources are unchanged. The
workload runs in its own JVM on a local[4] Spark session, with every work
directory under .bench_work/ in the checkout. With --trace 0 the result
carries the end-to-end metrics, with --trace 1 the per-layer metrics, which
are also written to .bench_out/trace_<workload>.json.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("replay_bulk", "tail_mor", "upsert_feed")
HEAP = "4g"
RUN_LIMIT_S = 170


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every file the build compiles from."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"engine source not found: {need} (run from a full checkout)")
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            fresh = f.read() == stamp
        with open(cp_file) as f:
            fresh = fresh and all(os.path.exists(p) for p in f.read().split(os.pathsep))
        if fresh:
            return
    log("building engine and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    t0 = time.time()
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"], 700,
                   cwd=HERE, env=env, stdout=sys.stderr, stdin=subprocess.DEVNULL)
    if rc != 0:
        sys.exit(f"build failed (sbt exit {rc})")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    with open(os.path.join(BUILD, "classpath.txt")) as f:
        cp = f.read().strip()
    with open(os.path.join(BUILD, "jvm_opts.txt")) as f:
        jvm_opts = [x for x in f.read().split("\n") if x]

    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    cmd = (["java"] + jvm_opts +
           [f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp", "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--result", result])
    try:
        rc = run_group(cmd, RUN_LIMIT_S, cwd=work, stdout=sys.stderr, stdin=subprocess.DEVNULL)
        if rc != 0 or not os.path.exists(result):
            sys.exit(f"benchmark JVM failed (exit {rc})")
        with open(result) as f:
            r = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    metrics = r["layers"] if a.trace else r["e2e"]
    if a.trace:
        out = os.path.join(ROOT, ".bench_out")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"trace_{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "metrics": metrics}, f, indent=1)
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
