#!/usr/bin/env python3
"""Steadiness check for the benchmark.

Usage (from the repository root):

    python3 perfbench/tests/steady.py [--runs 10] [--workloads olap,lake_dml]
                                      [--first-seed 1] [--traced]

Runs each workload --runs times, each with another seed, and reports for
every end-to-end metric in BENCHMARK.json its median, quartiles and spread
(the distance between the first and third quartile as a share of the
median, from statistics.quantiles(values, n=4)) against the metric's
bound. With --traced it also makes one traced run per workload and
reports the tracing overhead: traced ops_per_s against the untraced
median. Exits non-zero when a run fails or a spread other than setup_s
exceeds its bound. Raw results go to .bench_build/steady.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)


def run(workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        print(f"{workload} seed {seed}: exit {out.returncode}", file=sys.stderr)
        print(out.stdout, file=sys.stderr)
        return None
    return json.loads(lines[-1])


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()

    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    raw, ok = {}, True
    for w in args.workloads.split(","):
        results = []
        for i in range(args.runs):
            r = run(w, args.first_seed + i, spec["run_seconds"], 0)
            if r is None or not r["correct"]:
                ok = False
                continue
            results.append(r)
        raw[w] = {"untraced": results}
        print(f"== {w}: {len(results)} of {args.runs} runs correct")
        for name, bound in bounds.items():
            vals = [r["metrics"][name]["value"] for r in results]
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med if med else float("inf")
            gated = name != "setup_s"
            verdict = "ok" if spread <= bound / 3 else "within bound" if spread <= bound else "TOO WIDE"
            if gated and spread > bound:
                ok = False
            print(f"{name:14s} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {spread:6.3f}  bound {bound:5.2f}  "
                  f"{verdict if gated else 'not gated'}")
        if args.traced:
            t = run(w, args.first_seed, spec["run_seconds"], 1)
            raw[w]["traced"] = t
            if t is None or not t["correct"]:
                ok = False
            elif results:
                traced = t["metrics"]["trace.ops_per_s"]["value"]
                untraced = statistics.median(r["metrics"]["ops_per_s"]["value"] for r in results)
                print(f"tracing overhead: traced ops_per_s {traced:.4f} vs untraced median "
                      f"{untraced:.4f} ({(untraced - traced) / untraced:+.1%})")
    os.makedirs(os.path.join(ROOT, ".bench_build"), exist_ok=True)
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as f:
        json.dump(raw, f, indent=1)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
