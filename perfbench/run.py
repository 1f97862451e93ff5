#!/usr/bin/env python3
"""Build and run the PLC-lake benchmark.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run compiles the engine
(src/main) and the benchmark (perfbench/src) with the Scala compiler
that ships in the Spark jar directory (build.sbt's unmanagedBase, else
$SPARK_HOME/jars), into .bench_build/; later runs
reuse the classes while the sources are unchanged. The JVM runs with
build.sbt's --add-opens list, writes its result to a JSON file under
.bench_work/, and this script prints every metric by name and unit and
then, as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

Exit code 0 only when every correctness check passed and no op failed.

Other modes:
    --smoke       tiny inputs and a short run, for checking the harness
    --selftest    unit tests of the benchmark's own logic (no Spark)
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_SRC = os.path.join(ROOT, "perfbench", "src")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
MAIN_RES = os.path.join(ROOT, "src", "main", "resources")
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
JOB_LIMIT_S = 170

# build.sbt's jdk17AddOpens list: Spark 4 on JDK 17 outside spark-submit.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory that build.sbt compiles against
    (unmanagedBase), else $SPARK_HOME/jars."""
    d = None
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
            d = m.group(1) if m else None
    except OSError:
        pass
    if d is None and "SPARK_HOME" in os.environ:
        d = os.path.join(os.environ["SPARK_HOME"], "jars")
    if d is None:
        fail("no unmanagedBase in build.sbt and no SPARK_HOME")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail(f"no Spark jars under {d}")
    return jars


def sources(d, ext=".scala"):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(ext)]
    return sorted(out)


def tree_hash(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, out_dir, srcs):
    compiler = [j for j in jars if os.path.basename(j).startswith(
        ("scala-compiler-", "scala-library-", "scala-reflect-"))]
    os.makedirs(out_dir)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
           "scala.tools.nsc.Main", "-nowarn", "-d", out_dir,
           "-classpath", ":".join(classpath)] + srcs
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        print(r.stdout[-4000:], file=sys.stderr)
        fail(f"compile failed for {out_dir}")


def build():
    """Compile the engine, then the benchmark, each unless its stamped
    source hash is unchanged."""
    if not os.path.isdir(MAIN_SRC):
        fail(f"engine sources not found at {MAIN_SRC}")
    main_srcs, bench_srcs = sources(MAIN_SRC), sources(BENCH_SRC)
    if not main_srcs or not bench_srcs:
        fail("no Scala sources to build")
    res = sources(MAIN_RES, "") if os.path.isdir(MAIN_RES) else []
    jars = spark_jars()
    main_out = os.path.join(BUILD, "main")
    bench_out = os.path.join(BUILD, "bench")
    main_stamp = tree_hash(main_srcs + res)
    bench_stamp = tree_hash(main_srcs + res + bench_srcs)
    built = False
    t0 = time.time()
    if not fresh(main_out, main_stamp):
        shutil.rmtree(BUILD, ignore_errors=True)
        scalac(jars, jars, main_out, main_srcs)
        for r in res:
            dst = os.path.join(main_out, os.path.relpath(r, MAIN_RES))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(r, dst)
        stamp(main_out, main_stamp)
        built = True
    if not fresh(bench_out, bench_stamp):
        shutil.rmtree(bench_out, ignore_errors=True)
        scalac(jars, [main_out] + jars, bench_out, bench_srcs)
        stamp(bench_out, bench_stamp)
        built = True
    if built:
        print(f"[perfbench] built in {time.time() - t0:.1f} s", file=sys.stderr)
    return main_out, bench_out, jars, built


def fresh(out_dir, digest):
    f = out_dir + ".stamp"
    return os.path.isdir(out_dir) and os.path.exists(f) and open(f).read() == digest


def stamp(out_dir, digest):
    with open(out_dir + ".stamp", "w") as f:
        f.write(digest)


def run_jvm(cp, main_class, args, work, heap="2g", limit=JOB_LIMIT_S):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Xmx{heap}", f"-Xms{heap}", "-XX:ReservedCodeCacheSize=512m",
              "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
              f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              "-cp", ":".join(cp), main_class] + args)
    # own process group, so a timeout stops the JVM and anything it forked
    p = subprocess.Popen(cmd, cwd=ROOT, start_new_session=True,
                         stdout=sys.stderr)
    try:
        return p.wait(timeout=limit)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main_class} exceeded {limit} s")
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def show(result):
    for name, m in result["metrics"].items():
        print(f"{name:36s} {m['value']:>16.6g} {m['unit']}")
    for note in result.get("notes", []):
        print(f"# {note}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", default="ingest")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t_start = time.time()

    main_out, bench_out, jars, built = build()
    cp = [bench_out, main_out] + jars
    os.makedirs(WORK, exist_ok=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    try:
        if a.selftest:
            sys.exit(0 if run_jvm(cp, "perfbench.SelfTest", [], work,
                                  heap="512m") == 0 else 1)
        out = os.path.join(work, "result.json")
        # a run that compiled may take longer; otherwise stay within
        # the per-run limit including this script's own start-up
        limit = JOB_LIMIT_S if built else JOB_LIMIT_S - (time.time() - t_start)
        rc = run_jvm(cp, "perfbench.Main",
                     ["--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", str(a.trace),
                      "--work", work, "--out", out]
                     + (["--smoke"] if a.smoke else []),
                     work, limit=limit)
        if rc != 0 or not os.path.exists(out):
            fail(f"benchmark JVM exited with {rc} and no result")
        with open(out) as f:
            result = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    show(result)
    line = {k: result[k] for k in ("correct", "attempted", "failed", "metrics")}
    print(json.dumps(line))
    sys.exit(0 if result["correct"] and result["failed"] == 0 else 1)


if __name__ == "__main__":
    main()
