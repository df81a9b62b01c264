#!/usr/bin/env python3
"""Steadiness check of the benchmark.

Runs each workload in two sets of N runs (seeds 1..N in each set), then
prints, for every end-to-end metric of BENCHMARK.json, each set's median and
quartiles (statistics.quantiles, n=4), the spread (Q3 - Q1) / median, and
whether the sets agree within the metric's bound:
  - spread of each set <= bound, except for setup_s: a run sets up only
    three times, the first JIT-cold, so its spread follows the host more
    than the code (it is still printed and flagged), and
  - the two sets' medians differ by no more than the bound, in either
    direction: |m2 - m1| / m1.

Usage (from the repository root):
  python3 tsdbbench/steady.py                      # every workload, 2 x 10 runs
  python3 tsdbbench/steady.py --runs 5 --sets 1 --workloads live_ingest
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
    t0 = time.time()
    r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, capture_output=True, text=True)
    if r.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} failed:\n{r.stderr[-3000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"] or res["failed"]:
        raise SystemExit(f"{workload} seed {seed}: incorrect result {res}")
    return {k: v["value"] for k, v in res["metrics"].items()}, time.time() - t0


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else float("inf")}


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--sets", type=int, choices=[1, 2], default=2)
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    a = ap.parse_args()

    metrics = bench["end_to_end"]
    all_ok = True
    report = {}
    for w in a.workloads.split(","):
        sets = []
        for s in range(a.sets):
            vals = {m["name"]: [] for m in metrics}
            for seed in range(1, a.runs + 1):
                got, wall = run_once(w, seed, a.seconds)
                for m in metrics:
                    vals[m["name"]].append(got[m["name"]])
                print(f"  {w} set {s + 1} seed {seed}: {wall:5.1f}s "
                      + " ".join(f"{k}={got[k]:.4g}" for k in sorted(got)), flush=True)
            sets.append(vals)
        print(f"\n{w}")
        print(f"  {'metric':20s} {'bound':>6s}  " + "  ".join(
            f"{'set' + str(i + 1) + ' median [q1, q3] spread':>44s}" for i in range(a.sets)) + "  verdict")
        report[w] = {}
        for m in metrics:
            name, bound = m["name"], m["bound"]
            sums = [summary(v[name]) for v in sets]
            ok = all(x["spread"] <= bound for x in sums) or name == "setup_s"
            if len(sums) == 2:
                m1, m2 = sums[0]["median"], sums[1]["median"]
                ok = ok and abs(m2 - m1) / m1 <= bound
            steady = all(x["spread"] <= bound / 3 for x in sums)
            all_ok &= ok
            report[w][name] = {"bound": bound, "sets": sums, "agree": ok}
            cols = "  ".join(f"{x['median']:12.4f} [{x['q1']:10.4f}, {x['q3']:10.4f}] {x['spread']:6.3f}"
                             for x in sums)
            print(f"  {name:20s} {bound:6.2f}  {cols}  "
                  f"{'agree' if ok else 'DISAGREE'}{'' if steady else ' (spread > bound/3)'}")
    out = os.path.join(ROOT, ".bench_build", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
    print(f"\n{'all metrics agree within their bounds' if all_ok else 'SOME METRICS DISAGREE'} ({out})")
    sys.exit(0 if all_ok else 1)


if __name__ == "__main__":
    main()
