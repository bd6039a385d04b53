#!/usr/bin/env python3
"""Repo benchmark: builds the engine plus the benchmark from source, runs one
workload in a fresh JVM and prints the result object as the last line.

    python3 perfbench/run.py --workload spine --seed 1 --seconds 6 --trace 0
    python3 perfbench/run.py --selftest            # the benchmark's own tests
    python3 perfbench/run.py --record-queries      # re-record queries.tsv

Build outputs, run artifacts (`results/<workload>-s<seed>-t<trace>/result.json`)
and scratch space live under $CARGO_TARGET_DIR (default `.bench_build`).
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORKLOADS = ("spine", "query_suite")
RUN_TIMEOUT_S = 170
QUERY_STRIDE = 12
HEAP = "3g"

# Mirrors the forked-JVM settings of build.sbt (module opens for Spark on
# JDK 17, fixed pre-touched heap, large code cache) so the engine runs as
# it does under `sbt run`; no perf-data file is written outside the build dir.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
MALLOC_ENV = {
    "MALLOC_MMAP_THRESHOLD_": "1073741824",
    "MALLOC_TRIM_THRESHOLD_": "1073741824",
    "MALLOC_ARENA_MAX": "4",
}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(ROOT, d) if not os.path.isabs(d) else d


def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase)."""
    d = os.environ.get("SPARK_JARS_DIR")
    if not d:
        try:
            with open(os.path.join(ROOT, "build.sbt")) as f:
                m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            d = m.group(1) if m else None
        except OSError:
            d = None
    if not d and os.environ.get("SPARK_HOME"):
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if not d or not os.path.isdir(d):
        fail("cannot find the Spark jar directory (build.sbt unmanagedBase or SPARK_JARS_DIR)")
    return d


def sources():
    main = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main):
        fail(f"engine sources not found under {os.path.relpath(main, ROOT)}")
    out = []
    for base in (main, os.path.join(ROOT, "src", "main", "java"), os.path.join(BENCH, "src")):
        for dp, _, fs in os.walk(base):
            out += [os.path.join(dp, f) for f in fs if f.endswith((".scala", ".java"))]
    return sorted(out)


def build():
    """Compile engine + benchmark once per source hash; returns the classes dir."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(p[len(ROOT):].encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(build_dir(), "perfbench", "classes-" + h.hexdigest()[:16])
    if os.path.isdir(classes):
        return classes
    jars = spark_jars()
    tmp = classes + ".tmp-%d" % os.getpid()
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", os.path.join(jars, "*")] + srcs
    print(f"perfbench: compiling {len(srcs)} sources", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compilation failed", 1)
    res = os.path.join(ROOT, "src", "main", "resources")
    if os.path.isdir(res):
        shutil.copytree(res, tmp, dirs_exist_ok=True)
    os.rename(tmp, classes)
    parent = os.path.dirname(classes)
    for d in os.listdir(parent):  # older builds of other sources
        if d.startswith("classes-") and os.path.join(parent, d) != classes and ".tmp-" not in d:
            shutil.rmtree(os.path.join(parent, d), ignore_errors=True)
    return classes


def run_jvm(main, args, timeout=RUN_TIMEOUT_S):
    """Run one JVM; returns its stdout lines (stderr goes to a log file)."""
    classes = build()
    jars = spark_jars()
    work = os.path.join(build_dir(), "perfbench", "work-%d" % os.getpid())
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, **MALLOC_ENV)
    env.update({"SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"), "SPARK_GRAFT_TMPFS": "0"})
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Djava.io.tmpdir=" + tmp, "-Xms" + HEAP, "-Xmx" + HEAP,
            "-XX:ReservedCodeCacheSize=1g", "-XX:+AlwaysPreTouch", "-XX:+UseTransparentHugePages",
            "-XX:-UsePerfData", "-cp", classes + os.pathsep + os.path.join(jars, "*"), main] + args
    log_path = os.path.join(build_dir(), "perfbench", "last-run.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            shutil.rmtree(work, ignore_errors=True)
            fail(f"run exceeded {timeout} s (log: {log_path})", 1)
    shutil.rmtree(work, ignore_errors=True)
    if p.returncode != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"JVM exited with {p.returncode} (log: {log_path})", 1)
    return out.splitlines()


def clean_outputs(run_dir):
    """Keep each run's result.json; drop the sink files it wrote."""
    if not os.path.isdir(run_dir):
        return
    for e in os.listdir(run_dir):
        p = os.path.join(run_dir, e)
        if os.path.isdir(p):
            shutil.rmtree(p, ignore_errors=True)
        elif e != "result.json":
            os.remove(p)


def record_queries():
    """Freeze every QUERY_STRIDE-th query of SparkEntry.queries (sorted by
    name) and record each one's row count and hash. The sample runs twice in
    fresh JVMs; a query whose hash differs between the runs is count-only."""
    names = run_jvm("graft.perfbench.Record", ["--list", "1"])[::QUERY_STRIDE]
    tsv = os.path.join(BENCH, "queries.tsv")
    with open(tsv, "w") as f:
        f.write("\n".join(names) + "\n")
    runs = []
    for seed in (1, 2):
        lines = run_jvm("graft.perfbench.Record", ["--root", BENCH, "--seed", str(seed)], timeout=1800)
        runs.append({n: (r, h) for n, r, h in (l.strip().split("\t") for l in lines if l.count("\t") == 2)})
    with open(tsv, "w") as f:
        f.write(f"# name\trows\thash\tstable|count-only: every {QUERY_STRIDE}th query of "
                "SparkEntry.queries in sorted-name order,\n# recorded by `run.py --record-queries` "
                "on the engine the benchmark was defined on\n")
        for n in names:
            (r1, h1), (r2, h2) = runs[0][n], runs[1][n]
            f.write(f"{n}\t{r1}\t{h1}\t{'stable' if (r1, h1) == (r2, h2) else 'count-only'}\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--record-queries", action="store_true")
    a = ap.parse_args()
    for f in ("queries.tsv", os.path.join("fixture", "sf0.01", "lineitem.parquet")):
        if not os.path.isfile(os.path.join(BENCH, f)):
            fail(f"benchmark data missing: {f}")
    if a.selftest:
        lines = run_jvm("graft.perfbench.SelfTest", ["--root", BENCH], timeout=600)
        print("\n".join(lines))
        sys.exit(0 if lines and lines[-1].startswith("ALL PASSED") else 1)
    if a.record_queries:
        record_queries()
        return
    if not a.workload:
        fail("--workload is required")
    out = os.path.join(build_dir(), "perfbench", "results")
    t0 = time.time()
    lines = run_jvm("graft.perfbench.PerfBench", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--root", BENCH, "--out", out])
    clean_outputs(os.path.join(out, f"{a.workload}-s{a.seed}-t{a.trace}"))
    result = None
    for l in reversed(lines):
        try:
            obj = json.loads(l)
        except ValueError:
            continue
        if isinstance(obj, dict) and set(obj) == {"correct", "attempted", "failed", "metrics"}:
            result = l
            break
    if result is None:
        fail("the JVM printed no result", 1)
    print(f"perfbench: {a.workload} seed={a.seed} done in {time.time() - t0:.1f} s", file=sys.stderr)
    print(result)


if __name__ == "__main__":
    main()
