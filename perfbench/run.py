#!/usr/bin/env python3
"""Prometheus-on-Parquet benchmark: builds graft and the benchmark from
source, runs one workload in one JVM on local[nproc], and prints one JSON
result line as the last line of standard output.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Builds go to $CARGO_TARGET_DIR (default
.bench_build) and are reused while the sources are unchanged; each run writes
its own directory under <build>/runs/ and never touches an earlier one.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

WORKLOADS = ("ingest", "dashboard", "corpus_dedup")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
HEAP = "2g"
# Spark on JDK 17 outside spark-submit needs these (the list build.sbt uses).
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


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


def compile_scala(jars, srcs, classpath, out, stamp_text):
    """Compiles `srcs` into `out` with the Scala compiler Spark ships,
    unless `out` already holds a build of exactly these inputs."""
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == stamp_text:
        return
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    compiler = ":".join(os.path.join(jars, f"scala-{p}-2.13.17.jar")
                        for p in ("compiler", "library", "reflect"))
    t0 = time.time()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", compiler, "scala.tools.nsc.Main",
           "-nowarn", "-d", out, "-cp", classpath] + srcs
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=800)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"compiling {len(srcs)} files into {out} failed")
    print(f"perfbench: compiled {len(srcs)} files in {time.time() - t0:.0f}s",
          file=sys.stderr)
    with open(stamp, "w") as f:
        f.write(stamp_text)


def spark_jars(root):
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(root, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        return m.group(1) if m else None
    except OSError:
        return None


def digest(paths, extra=""):
    h = hashlib.sha256(extra.encode())
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    program = os.path.join(root, "src", "main", "scala")
    program_srcs = sources(program)
    if not program_srcs:
        fail(f"no program sources under {program}; run from the root of a checkout")
    jars = spark_jars(root)
    if not jars or not os.path.exists(os.path.join(jars, "scala-compiler-2.13.17.jar")):
        fail(f"no Spark/Scala jars found (looked in {jars}); set SPARK_HOME")
    build = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    spark_cp = os.path.join(jars, "*")

    main_out = os.path.join(build, "main-classes")
    main_stamp = digest(program_srcs, "main")
    compile_scala(jars, program_srcs, spark_cp, main_out, main_stamp)
    bench_srcs = sources(os.path.join(HERE, "src"))
    bench_out = os.path.join(build, "bench-classes")
    compile_scala(jars, bench_srcs, f"{main_out}:{spark_cp}", bench_out,
                  digest(bench_srcs, main_stamp))

    cpus = len(os.sched_getaffinity(0))
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(build, "runs",
                       f"{stamp}-{a.workload}-seed{a.seed}-trace{a.trace}-{os.getpid()}")
    os.makedirs(out)  # fails rather than reuse an earlier run's directory
    print(f"perfbench: run record in {out}", file=sys.stderr)
    tmp = os.path.join(out, "work", "tmp")
    os.makedirs(tmp)
    # no -Xms, and the serial collector, which grows the heap by how full
    # it is after a collection rather than by how long collections take:
    # peak RSS then follows what the program allocates, not the heap
    # setting or the host's speed
    cmd = (["java", f"-Xmx{HEAP}", "-XX:+UseSerialGC", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{bench_out}:{main_out}:{spark_cp}", "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", a.trace,
              "--out", out, "--cpus", str(cpus)])
    with open(os.path.join(out, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=out)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"run exceeded {JVM_TIMEOUT_S}s; log in {out}/jvm.log")
    # the scratch inputs are large; the run's record is its JSON files
    shutil.rmtree(os.path.join(out, "work"), ignore_errors=True)
    result = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(os.path.join(out, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"run failed with exit code {code}; log in {out}/jvm.log")
    with open(result) as f:
        line = json.dumps(json.load(f), separators=(",", ":"))
    print(line)


if __name__ == "__main__":
    main()
