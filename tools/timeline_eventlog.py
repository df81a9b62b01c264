#!/usr/bin/env python3
"""Timeline view of ALL jobs between the first and last job carrying a
given `bench:<query>` description — including jobs from other threads
(streaming micro-batches, broadcast futures) that fall inside the window.
Shows inter-job idle (driver-only) segments of the merged job intervals.

Usage: timeline_eventlog.py <eventlog file or dir> <query> [pad_ms]

pad_ms: idle gaps longer than this many ms are listed (default 100).
"""
import json, sys, os
from collections import defaultdict


def iter_events(path):
    files = [os.path.join(path, n) for n in sorted(os.listdir(path))
             if n.startswith("events_")] if os.path.isdir(path) else [path]
    for f in files:
        with open(f) as fh:
            for line in fh:
                try:
                    yield json.loads(line)
                except json.JSONDecodeError:
                    pass


def main():
    if len(sys.argv) < 3:
        print(next(l for l in __doc__.splitlines() if l.startswith("Usage:")),
              file=sys.stderr)
        sys.exit(2)
    path, q = sys.argv[1], sys.argv[2]
    pad_ms = int(sys.argv[3]) if len(sys.argv) > 3 else 100
    jobs = {}
    for ev in iter_events(path):
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description", ""),
                "group": props.get("spark.jobGroup.id", ""),
                "t0": ev["Submission Time"], "t1": None,
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"]

    tagged = [(jid, j) for jid, j in jobs.items()
              if f"bench:{q}" == j["desc"] and j["t1"]]
    if not tagged:
        print("no jobs with that description")
        return
    w0 = min(j["t0"] for _, j in tagged)
    w1 = max(j["t1"] for _, j in tagged)
    window = [(jid, j) for jid, j in sorted(jobs.items())
              if j["t1"] and j["t1"] >= w0 and j["t0"] <= w1]
    # a job with no JobEnd (truncated log) has no interval to merge
    unfinished = sum(1 for j in jobs.values()
                     if not j["t1"] and w0 <= j["t0"] <= w1)
    print(f"window {w1-w0:,} ms, {len(window)} jobs (tagged {len(tagged)})")
    if unfinished:
        print(f"left out {unfinished} unfinished jobs (no JobEnd) "
              "that started in the window")
    # merged busy intervals -> idle gaps
    ivs = sorted((j["t0"], j["t1"]) for _, j in window)
    merged = []
    for a, b in ivs:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    busy = sum(b - a for a, b in merged)
    print(f"job-busy {busy/1e3:.2f}s  idle-in-window {(w1-w0-busy)/1e3:.2f}s")
    prev_end = None
    for a, b in merged:
        if prev_end is not None and a - prev_end > pad_ms:
            print(f"  --- idle {a-prev_end:6d} ms ---")
        prev_end = b
    # per-description aggregate inside the window
    agg = defaultdict(lambda: [0, 0])
    for _, j in window:
        d = j["desc"] or j["group"] or "(none)"
        agg[d][0] += 1
        agg[d][1] += j["t1"] - j["t0"]
    print("\nby description:")
    for d, (n, w) in sorted(agg.items(), key=lambda kv: -kv[1][1]):
        print(f"  {n:4d} jobs {w/1e3:7.2f}s  {d[:100]}")


if __name__ == "__main__":
    main()
