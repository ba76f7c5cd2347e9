#!/usr/bin/env python3
"""Steadiness check for the repository benchmark.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--workload NAME ...]
                                [--traced-pairs]

Runs every workload in `--sets` sets of `--runs` runs, each run with its own
seed (set s, run i: seed 1000 * (s + 1) + i) and BENCHMARK.json's
run_seconds, and prints for each end-to-end metric the median, the quartiles
(`statistics.quantiles(values, n=4)`), the spread (Q3 - Q1) / median and
how it compares with the metric's bound in BENCHMARK.json, and how far
each later set's median moved from the first set's.

With --traced-pairs it also runs each workload twice traced on seed 1000:
it reports which per-layer counts (jobs, tasks, out_bytes, fs_ops) differ
between the two runs, and the tracing overhead, trace.wall_s minus the
last set's untraced median wall_s.

Run from the repository root. Raw results go to
.bench_build/perfbench/steady-<time>.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
COUNTS = ("jobs", "tasks", "out_bytes", "fs_ops")


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    try:
        res = json.loads(lines[-1])
    except (IndexError, ValueError):
        res = None
    print(f"  {workload} seed={seed} trace={trace} exit={r.returncode} "
          f"{time.time() - t0:.0f} s correct={res and res['correct']}", flush=True)
    return res


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    m = statistics.median(values)
    return m, q1, q3, (q3 - q1) / m if m else float("inf")


def main():
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--workload", action="append",
                    help="repeatable; default: every workload in BENCHMARK.json")
    ap.add_argument("--traced-pairs", action="store_true")
    a = ap.parse_args()
    if a.runs < 2:
        ap.error("--runs must be at least 2 (quartiles need two values)")
    seconds = bench["run_seconds"]
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    raw = {}
    ok = True
    for w in workloads:
        print(f"== {w}", flush=True)
        sets = []
        for s in range(a.sets):
            rs = [run(w, 1000 * (s + 1) + i, seconds, 0) for i in range(a.runs)]
            sets.append([r for r in rs if r])
            ok &= all(r and r["correct"] for r in rs)
        raw[w] = {"sets": sets}
        print(f"{'metric':<14}{'set':>4}{'median':>12}{'q1':>12}{'q3':>12}"
              f"{'spread':>9}{'bound':>7}  verdict")
        for name, bound in bounds.items():
            first = None
            for s, rs in enumerate(sets):
                vals = [r["metrics"][name]["value"] for r in rs]
                m, q1, q3, spread = summary(vals)
                verdict = []
                if name != "setup_s":
                    verdict.append("steady" if spread < bound / 3 else
                                   "within bound" if spread <= bound else "TOO WIDE")
                if first is None:
                    first = m
                else:
                    moved = (m - first) / first
                    verdict.append(f"median moved {moved:+.1%}" +
                                   ("" if abs(moved) <= bound else " BEYOND BOUND"))
                    ok &= abs(moved) <= bound
                ok &= name == "setup_s" or spread <= bound
                print(f"{name:<14}{s + 1:>4}{m:>12.4g}{q1:>12.4g}{q3:>12.4g}"
                      f"{spread:>9.1%}{bound:>7.2f}  {', '.join(verdict)}")
        if a.traced_pairs:
            seed = 1000
            t1, t2 = run(w, seed, seconds, 1), run(w, seed, seconds, 1)
            raw[w]["traced"] = [t1, t2]
            if t1 and t2:
                m1, m2 = t1["metrics"], t2["metrics"]
                diff = [k for k in m1 if k.rsplit(".", 1)[-1] in COUNTS
                        and m1[k]["value"] != m2[k]["value"]]
                print("traced counts differing between two runs of seed "
                      f"{seed}: {', '.join(diff) if diff else 'none'}")
                for k in diff:
                    print(f"  {k}: {m1[k]['value']} vs {m2[k]['value']}")
                # the last set ran just before: the nearest host conditions
                untraced = statistics.median(
                    r["metrics"]["wall_s"]["value"] for r in sets[-1])
                traced = statistics.median([m1["trace.wall_s"]["value"],
                                            m2["trace.wall_s"]["value"]])
                print(f"tracing overhead: traced wall_s {traced:.2f} s - untraced "
                      f"median {untraced:.2f} s = {traced - untraced:+.2f} s")
    os.makedirs(os.path.join(".bench_build", "perfbench"), exist_ok=True)
    out = os.path.join(".bench_build", "perfbench",
                       time.strftime("steady-%Y%m%d-%H%M%S.json"))
    with open(out, "w") as fh:
        json.dump(raw, fh)
    print(f"raw results: {out}")
    print("ALL WITHIN BOUNDS" if ok else "SOME METRIC OUTSIDE ITS BOUND OR A RUN FAILED")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
