#!/usr/bin/env python3
"""Steadiness check: runs the benchmark in two (or more) sets of runs of
the same code, one seed per run, and prints for every end-to-end metric
of every workload its spread within each set -- the distance between
the first and third quartile as a share of the median -- and how far
each set's median moved from the first set's, both against the
metric's bound in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--sets 2] [--seed0 1000]
                                [--workloads a,b]

Run from the root of a checkout. Raw results go to
.bench_build/steady/<workload>.json.
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


def spread(xs):
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def worse(base, new, better):
    """Share by which `new` is worse than `base`."""
    return (new - base) / base if better == "lower" else (base - new) / base


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    metrics = bench["end_to_end"]
    out_dir = os.path.join(ROOT, ".bench_build", "steady")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    for wl in args.workloads.split(","):
        sets = []
        for s in range(args.sets):
            runs = []
            for r in range(args.runs):
                seed = args.seed0 + s * args.runs + r
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                     "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                    cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
                res = json.loads(p.stdout.strip().splitlines()[-1]) if p.returncode == 0 else None
                runs.append({"seed": seed, "wall_s": time.time() - t0, "result": res})
                if res is None or not res["correct"]:
                    ok = False
                    print(f"{wl} seed {seed}: {'FAILED' if res is None else 'incorrect'}")
            sets.append(runs)
        with open(os.path.join(out_dir, f"{wl}.json"), "w") as f:
            json.dump(sets, f, indent=1)
        walls = [r["wall_s"] for runs in sets for r in runs]
        print(f"\n{wl}: {args.sets} sets x {args.runs} runs, "
              f"{statistics.mean(walls):.1f} s a run (max {max(walls):.1f} s)")
        print(f"  {'metric':16s} {'bound':>6s} " + " ".join(
            f"{'median' + str(k):>12s} {'spread' + str(k):>8s}" for k in range(args.sets))
            + "   drift")
        for m in metrics:
            vals = [[r["result"]["metrics"][m["name"]]["value"] for r in runs
                     if r["result"]] for runs in sets]
            meds = [statistics.median(v) for v in vals]
            spreads = [spread(v) for v in vals]
            drift = max(worse(meds[0], x, m["better"]) for x in meds[1:]) if len(meds) > 1 else 0
            bad = drift > m["bound"] or max(spreads) > m["bound"]
            ok &= not bad
            print(f"  {m['name']:16s} {m['bound']:6.2f} " + " ".join(
                f"{md:12.4f} {sp:8.3f}" for md, sp in zip(meds, spreads))
                + f"  {drift:+.3f}{'  OVER BOUND' if bad else ''}")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
