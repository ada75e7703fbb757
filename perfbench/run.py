#!/usr/bin/env python3
"""Run one workload of the repository benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run compiles the program
(`src/main/scala`) together with the benchmark (`perfbench/src`) into
`.bench_build/classes` with the Scala compiler that ships with Spark
(`$SPARK_HOME/jars`, or the jars of the installed `pyspark`); later runs
reuse that build while the sources are unchanged. The workload then runs
in one JVM. Its standard output ends with one JSON line: `correct`,
`attempted`, `failed` and `metrics`. Per-run artifacts (metrics with
sample counts, run context, spans of traced runs) are written under
`.bench_build/results`.

Workloads and metrics are described in perfbench/METRICS.md.
"""
import argparse
import hashlib
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
PROGRAM_RES = os.path.join(ROOT, "src", "main", "resources")
BENCH_SRC = os.path.join(HERE, "src")
RUN_TIMEOUT_S = 170
HEAP = "2g"

# Spark 4 on JDK 17 outside spark-submit needs these (the launcher's
# default module options).
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
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        import pyspark
        d = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        if os.path.isdir(d):
            return d
    except ImportError:
        pass
    fail("no Spark jars: set SPARK_HOME or install pyspark")


def sources(top):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def build(jars):
    """Compile program and benchmark together; skip when unchanged."""
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"no program sources at {os.path.relpath(PROGRAM_SRC, ROOT)}")
    srcs = sources(PROGRAM_SRC) + sources(BENCH_SRC)
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update(" ".join(sorted(os.listdir(jars))).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    stamp_file = os.path.join(BUILD, "classes.stamp")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                return classes
    tmp = classes + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp,
           "@" + argfile]
    print("perfbench: compiling program and benchmark", file=sys.stderr)
    r = subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        fail("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp + "\n")
    return classes


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", default="0", choices=["0", "1"])
    ap.add_argument("--dump", help="write query results and oracle SQL "
                    "here instead of measuring (see validate_oracle.py)")
    a = ap.parse_args()

    os.makedirs(BUILD, exist_ok=True)
    jars = spark_jars()
    classes = build(jars)
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cp = os.pathsep.join([classes, PROGRAM_RES, os.path.join(jars, "*")])
    # the heap is touched at start, so peak RSS is the heap plus the
    # JVM's native memory instead of however many heap pages GC visited
    cmd = (["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+AlwaysPreTouch",
            "-XX:ReservedCodeCacheSize=512m", "-XX:+UseCodeCacheFlushing",
            "-Djava.io.tmpdir=" + tmp,
            "-Dderby.stream.error.file=" + os.path.join(BUILD, "derby.log"),
            "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", repr(a.seconds), "--trace", a.trace,
              "--work", os.path.join(BUILD, "work"),
              "--out", os.path.join(BUILD, "results"),
              "--data", os.path.join(HERE, "data", "sf0.01"),
              "--fingerprints", os.path.join(HERE, "fingerprints.tsv")]
           + (["--dump", a.dump] if a.dump else []))
    p = subprocess.Popen(cmd, cwd=ROOT)
    try:
        code = p.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s")
    sys.exit(code)


if __name__ == "__main__":
    main()
