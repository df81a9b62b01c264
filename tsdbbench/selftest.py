#!/usr/bin/env python3
"""Self-tests of the benchmark (not of the program it measures).

  1. The JVM suite (tsdbbench.SelfTest): same seed gives byte-identical
     inputs and another seed different bytes of the same shape; a p90 is
     withheld when fewer than 10 samples lie beyond it; an injected failure
     counts as a failure and not as a timing; engine.write.jobs_per_batch
     and engine.write.files_per_batch repeat exactly for a fixed seed.
  2. One short untraced and one traced run emit exactly the end_to_end and
     per_layer metric names of BENCHMARK.json, with their units.
  3. In a directory holding only BENCHMARK.json and tsdbbench/, the
     benchmark exits non-zero without printing a result.
  4. pipeline_curate's DuckDB oracle over a generated two-replica corpus
     equals the golden result (the oracle over the base table) that the
     curate workload checks against (about a minute).

Usage (from the repository root): python3 tsdbbench/selftest.py
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402

failures = 0


def report(name, ok, detail=""):
    global failures
    print(f"{'ok  ' if ok else 'FAIL'} {name}{(': ' + detail) if detail and not ok else ''}", flush=True)
    failures += 0 if ok else 1


def run_bench(cwd, workload, trace):
    return subprocess.run([sys.executable, os.path.join("tsdbbench", "run.py"), "--workload", workload,
                           "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                          cwd=cwd, capture_output=True, text=True)


def main():
    classes, jars = build.ensure_built()
    work = os.path.join(build.BUILD, "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    r = subprocess.run(build.java_cmd(classes, jars, tmpdir=os.path.join(work, "tmp")) +
                       ["tsdbbench.Main", "--selftest", "--work", work, "--data", build.DATA],
                       stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    print(r.stdout, end="")
    report("JVM self-test suite", r.returncode == 0, f"exit code {r.returncode}")

    with open(os.path.join(build.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        want = {m["name"]: m["unit"] for m in bench[key]}
        for w in (x["name"] for x in bench["workloads"]):
            p = run_bench(build.ROOT, w, trace)
            got = {}
            if p.returncode == 0:
                got = {k: v["unit"] for k, v in json.loads(p.stdout.strip().splitlines()[-1])["metrics"].items()}
            report(f"{w} --trace {trace} emits exactly the {key} metrics of BENCHMARK.json", got == want,
                   f"exit {p.returncode}; missing {sorted(set(want) - set(got))}, "
                   f"extra {sorted(set(got) - set(want))}")

    bare = os.path.join(build.BUILD, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(build.ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "tsdbbench"), ignore=shutil.ignore_patterns("__pycache__"))
    p = run_bench(bare, "live_ingest", 0)
    report("without the program sources the benchmark fails without a result",
           p.returncode != 0 and not p.stdout.strip(), f"exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    shutil.rmtree(bare, ignore_errors=True)

    golden = build.ensure_golden(classes, jars)
    with open(golden) as f:
        want = [tuple(x.split("\t")) for x in f.read().splitlines() if x]
    sql = subprocess.run(build.java_cmd(classes, jars, heap="512m") +
                         ["tsdbbench.Main", "--print-oracle", "pipeline_curate"],
                         capture_output=True, text=True).stdout
    corpus = os.path.join(work, "oracle-corpus", "documents.parquet")
    got = [(s, str(n), str(t)) for s, n, t in build.oracle_rows(sql, corpus + "/*.parquet")]
    report("oracle over a generated 2-replica corpus equals the golden result", got == want)

    shutil.rmtree(work, ignore_errors=True)
    print(f"{failures} failure(s)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
