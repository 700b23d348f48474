#!/usr/bin/env python3
"""Steadiness check: two sets of runs of one commit, compared by the bounds
in BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--workloads a,b] [--log runs.jsonl]

Run from the root of a checkout. For each workload it makes `--runs` runs
per set through `perfbench/run.py` with tracing off, every run with its own
seed: 1..runs in the first set, runs+1..2*runs in the second.
For every end-to-end metric it prints each set's median and quartiles
(Python's `statistics.quantiles(n=4)`), the quartile spread as a share of
the median, and whether the sets agree:

  * the spread of each set is within the metric's bound;
  * the two medians differ by no more than the bound, as a share of the
    first, in either direction;
  * the share of failed ops is the same in both sets.

`--log` appends every run's result line, tagged with set, workload, seed
and the run's wall time, so a later look needs no re-run. Exits 1 when any check fails.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()


def run_once(workload, seed, seconds):
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: run failed ({r.returncode})")
    return json.loads(r.stdout.strip().splitlines()[-1]), time.time() - t0


def summary(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    ap.add_argument("--log")
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for s in (1, 2):
            results = []
            for seed in range((s - 1) * args.runs + 1, s * args.runs + 1):
                res, wall = run_once(w, seed, spec["run_seconds"])
                results.append(res)
                if args.log:
                    with open(args.log, "a") as f:
                        f.write(json.dumps({"set": s, "workload": w, "seed": seed,
                                            "wall_s": round(wall, 1), **res}) + "\n")
            sets.append(results)
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in sets]
        print(f"\n{w}: failed share {shares[0]:.4f} / {shares[1]:.4f}"
              f" {'ok' if shares[0] == shares[1] else 'DIFFER'}")
        print(f"  {'metric':22} {'set':>3} {'median':>12} {'q1':>12} {'q3':>12} {'spread':>7} {'bound':>6}")
        ok &= shares[0] == shares[1]
        for m in spec["end_to_end"]:
            meds = []
            for s, rs in enumerate(sets, 1):
                med, q1, q3, spread = summary([r["metrics"][m["name"]]["value"] for r in rs])
                meds.append(med)
                within = spread <= m["bound"]
                ok &= within
                print(f"  {m['name']:22} {s:>3} {med:12.4f} {q1:12.4f} {q3:12.4f}"
                      f" {spread:7.3f} {m['bound']:6.2f} {'' if within else 'SPREAD'}")
            diff = (meds[1] - meds[0]) / meds[0]
            agree = abs(diff) <= m["bound"]
            ok &= agree
            print(f"  {'':22} second vs first: {diff:+.3f} {'ok' if agree else 'DIFFER'}")
    print("\nsteady" if ok else "\nNOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
