#!/usr/bin/env python3
"""Run the benchmark twice over a set of seeds and report how steady it is.

Usage (from the repository root):
    python3 perfbench/steadiness.py [--runs 10] [--sets 2] [--workloads a b]
                                    [--seed0 1000]

For every workload it makes `--sets` sets of `--runs` runs, each run with its
own seed, and prints for each metric the median, the first and third
quartiles and the spread (IQR / median) of every set, the gap between the
medians of the first two sets, and the bound from BENCHMARK.json. A metric is
flagged when a spread exceeds a third of its bound (setup_s excepted) or the
second median is worse than the first by more than the bound; the share of
failed operations must be identical in every set. Results also go to
.bench_out/steadiness.json.
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


def run_once(workload, seed, seconds):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    wall = time.time() - t0
    if p.returncode != 0 or not p.stdout.strip():
        raise SystemExit(f"{workload} seed {seed}: run failed (exit {p.returncode})")
    r = json.loads(p.stdout.strip().splitlines()[-1])
    return r, wall


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values) if statistics.median(values) else float("nan")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--seed0", type=int, default=1000)
    a = ap.parse_args()
    metrics = bench["end_to_end"]

    report = {}
    ok = True
    for w in a.workloads:
        sets = []
        for s in range(a.sets):
            runs = []
            for i in range(a.runs):
                seed = a.seed0 + s * a.runs + i
                r, wall = run_once(w, seed, a.seconds)
                runs.append(r)
                print(f"{w} set {s} seed {seed}: correct={r['correct']} attempted={r['attempted']} "
                      f"failed={r['failed']} wall={wall:.0f}s " +
                      " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
            sets.append(runs)
        rows = {}
        print(f"\n== {w}: {a.sets} sets x {a.runs} runs, {a.seconds} s each")
        print(f"{'metric':<40} {'bound':>6} " + " ".join(
            f"{'median' + str(s):>12} {'q1':>10} {'q3':>10} {'spread':>7}" for s in range(a.sets))
            + f" {'gap':>7}")
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sums = [summary([r["metrics"][name]["value"] for r in runs]) for runs in sets]
            gap = None
            if len(sums) > 1 and sums[0]["median"]:
                d = (sums[1]["median"] - sums[0]["median"]) / sums[0]["median"]
                gap = d if m["better"] == "lower" else -d  # > 0: second set worse
            flag = ""
            if name != "setup_s" and any(x["spread"] > bound / 3 for x in sums):
                flag += " SPREAD"
            if gap is not None and gap > bound:
                flag += " GAP"
            ok = ok and not flag
            rows[name] = {"bound": bound, "sets": sums, "gap": gap}
            print(f"{name:<40} {bound:>6} " + " ".join(
                f"{x['median']:>12.5g} {x['q1']:>10.5g} {x['q3']:>10.5g} {x['spread']:>7.3f}" for x in sums)
                + (f" {gap:>+7.3f}" if gap is not None else "") + flag)
        shares = [sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs) for runs in sets]
        correct = all(r["correct"] for runs in sets for r in runs)
        print(f"failed share per set: {shares}; all correct: {correct}")
        ok = ok and correct and len(set(shares)) == 1
        report[w] = {"metrics": rows, "failed_share": shares, "correct": correct}

    out = os.path.join(ROOT, ".bench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
