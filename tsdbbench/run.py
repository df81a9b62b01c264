#!/usr/bin/env python3
"""Run one workload of the TSDB benchmark and print its result.

Usage (from the repository root):
  python3 tsdbbench/run.py --workload live_ingest --seed 1 --seconds 15 --trace 0

Builds the program from source if needed (build.py), runs the workload in
one JVM (Spark local[nproc], one client thread, closed loop), and prints:
  - a `report:` line with every named figure of the workload, the session
    config (flush policy) and any errors;
  - as the last line, one JSON object with `correct`, `attempted`, `failed`
    and `metrics` (end-to-end metrics with --trace 0, per-layer with 1).
Exits non-zero, without a result line, if the build or the run fails.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["live_ingest", "curate_batch"]
RUN_TIMEOUT_S = 165

FLUSH_POLICY = ("v2 output committer, no _SUCCESS marker, RawLocalFileSystem (no .crc files), "
                "streaming checkpoint checksums off; local writes are not fsynced, so latencies "
                "are the page cache's, not a storage device's")


def run_jvm(cmd):
    """Run the benchmark JVM in its own process group; on timeout kill the
    whole group and wait for it."""
    # Spark would put its scratch space under SPARK_LOCAL_DIRS instead of
    # the run's own directory
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    p = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, env=env, start_new_session=True)
    try:
        return p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise RuntimeError(f"run exceeded {RUN_TIMEOUT_S}s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    classes, jars = build.ensure_built()
    golden = build.ensure_golden(classes, jars) if a.workload == "curate_batch" else None

    results = os.path.join(build.BUILD, "results")
    os.makedirs(results, exist_ok=True)
    work = os.path.join(build.BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(results, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = build.java_cmd(classes, jars, tmpdir=os.path.join(work, "tmp")) + [
        "tsdbbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace),
        "--work", work, "--out", out, "--data", build.DATA]
    if golden:
        cmd += ["--golden", golden]
    try:
        code = run_jvm(cmd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"benchmark JVM exited with code {code}")
    with open(out) as f:
        res = json.load(f)

    report = dict(res["report"], workload=a.workload, seed=a.seed, trace=a.trace,
                  session_conf=res["session_conf"], flush_policy=FLUSH_POLICY, errors=res["errors"])
    if a.trace == 1:
        # tracing overhead: traced minus untraced p50 of the workload's
        # primary op, when an untraced run of the same seed exists
        untraced = os.path.join(results, f"{a.workload}-seed{a.seed}-trace0.json")
        layers = os.path.join(results, f"{a.workload}-seed{a.seed}.layers.json")
        if os.path.exists(untraced) and os.path.exists(layers):
            with open(untraced) as f:
                base = json.load(f)["report"]["op_ms_p50"]
            report["tracing_overhead_ms"] = res["report"]["op_ms_p50"] - base
            with open(layers) as f:
                summary = json.load(f)
            summary["tracing_overhead_ms"] = report["tracing_overhead_ms"]
            with open(layers, "w") as f:
                json.dump(summary, f)
        report["trace_files"] = [os.path.relpath(layers, build.ROOT),
                                 os.path.relpath(layers.replace(".layers.json", ".spans.jsonl"), build.ROOT)]
    print("report: " + json.dumps(report, sort_keys=True))
    print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}, sort_keys=True))


if __name__ == "__main__":
    # a terminated run still stops (and waits for) its JVM: see run_jvm
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        main()
    except (build.BuildError, RuntimeError, OSError) as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(1)
