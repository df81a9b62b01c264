#!/usr/bin/env python3
"""Build file of the benchmark package.

Compiles the program (src/main/scala of the repository) together with the
benchmark's own Scala sources (tsdbbench/src) into .bench_build/classes,
with the Scala compiler that ships in the Spark distribution's jars. It
rebuilds only when a source file or the jar directory changed.

It also derives the expected output of the curate_batch workload once per
checkout: the DuckDB oracle SQL of `pipeline_curate` (printed by the built
program) run over the base document table.

Usage: python3 tsdbbench/build.py   (run.py calls it before every run)
"""
import glob
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
DATA = os.path.join(HERE, "data")

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


class BuildError(Exception):
    pass


def spark_jars():
    """The Spark distribution's jar directory: $SPARK_HOME/jars, else the
    jars bundled with the pyspark package."""
    candidates = []
    if os.environ.get("SPARK_HOME"):
        candidates.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    try:
        import pyspark
        candidates.append(os.path.join(os.path.dirname(pyspark.__file__), "jars"))
    except ImportError:
        pass
    for c in candidates:
        if glob.glob(os.path.join(c, "scala-compiler-*.jar")) and glob.glob(os.path.join(c, "spark-sql_*.jar")):
            return c
    raise BuildError("no Spark jars with a Scala compiler found (set SPARK_HOME)")


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    if not main:
        raise BuildError("program sources not found under src/main/scala")
    bench = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    if not bench:
        raise BuildError("benchmark sources not found under tsdbbench/src")
    return main + bench


def _digest(paths, extra=b""):
    h = hashlib.sha256(extra)
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def java_cmd(classes, jars, heap="2g", tmpdir=None):
    # fixed, pre-touched heap: all of it is resident from the start, so the
    # resident set beyond it (rss_offheap_peak_mb) does not depend on when
    # the collector chose to grow the heap, which varies from run to run;
    # no hsperfdata file in the system temp dir: runs write only under the
    # checkout
    cmd = ["java", "-XX:-UsePerfData", f"-Xms{heap}", f"-Xmx{heap}", "-XX:+AlwaysPreTouch", "-Xss16m",
           "-Duser.timezone=UTC"]
    for o in JDK17_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    if tmpdir:
        cmd.append(f"-Djava.io.tmpdir={tmpdir}")
    return cmd + ["-cp", os.pathsep.join([classes, os.path.join(jars, "*")])]


def ensure_built():
    """Compile if needed; return (classes dir, jars dir)."""
    jars = spark_jars()
    srcs = sources()
    stamp = _digest(srcs, jars.encode())
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, jars
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cp = os.path.join(jars, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xmx2g", "-Xss16m", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", classes, "-classpath", cp, "@" + argfile]
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise BuildError(f"scalac failed with exit code {r.returncode}")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, jars


def ensure_golden(classes, jars):
    """Expected `pipeline_curate` rows ("source<TAB>n_docs<TAB>n_tokens"),
    from its DuckDB oracle SQL over the base document table."""
    r = subprocess.run(java_cmd(classes, jars, heap="512m") + ["tsdbbench.Main", "--print-oracle", "pipeline_curate"],
                       capture_output=True, text=True)
    if r.returncode != 0 or not r.stdout.strip():
        raise BuildError("could not print the pipeline_curate oracle SQL:\n" + r.stderr[-2000:])
    sql = r.stdout
    base = os.path.join(DATA, "documents.parquet")
    golden = os.path.join(BUILD, f"curate_golden-{_digest([base], sql.encode())[:16]}.tsv")
    if not os.path.exists(golden):
        rows = oracle_rows(sql, base)
        tmp = golden + ".tmp"
        with open(tmp, "w") as f:
            f.write("".join(f"{s}\t{n}\t{t}\n" for s, n, t in rows))
        os.replace(tmp, golden)
    return golden


def oracle_rows(sql, documents_parquet):
    import duckdb
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{documents_parquet}')")
        return sorted((str(s), int(n), int(t)) for s, n, t in con.execute(sql).fetchall())
    finally:
        con.close()


if __name__ == "__main__":
    try:
        c, j = ensure_built()
        print(ensure_golden(c, j))
    except BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        sys.exit(1)
