#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a checkout:

    python3 perfbench/run.py --workload lookup --seed 1 --seconds 10 --trace 0

It compiles graft (src/main/scala) together with the benchmark
(perfbench/src) with the Scala compiler that ships with Spark, caches the
classes under .bench_build/, runs one workload in a fresh JVM and prints the
result as one JSON object on the last line of standard output. Diagnostics
(per-kind latencies, contamination probes) go to standard error.

    python3 perfbench/run.py --selftest

checks that the timing wrapper forwards every catalog member and runs every
workload briefly in traced mode (traced and untraced plans must agree).
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.getcwd()
BENCH = os.path.join(ROOT, "perfbench")
MAIN_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(BENCH, "src")
BUILD = os.path.join(ROOT, ".bench_build", "graftbench")
RUN_LIMIT_S = 170
HEAP = "2g"
# Derby's page cache, scaled down with the data (default 1000 pages) so the
# lookup catalog is larger than the cache while its set-up stays short
DERBY_PAGE_CACHE = 48
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print("graftbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jars of the first Spark installation whose
    bin/spark-submit is on PATH; they must hold the Scala compiler."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)
        if os.path.isfile(os.path.join(d, "spark-submit"))]
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and os.path.isdir(jars) and any(
                f.startswith("scala-compiler") for f in os.listdir(jars)):
            return os.path.join(jars, "*")
    die("Spark jars not found: set SPARK_HOME or put spark-submit on PATH")


def sources():
    out = []
    for top in (MAIN_SRC, BENCH_SRC):
        if not os.path.isdir(top):
            die("missing source directory %s: run from the root of a graft checkout" % top)
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    if not any(p.startswith(MAIN_SRC) for p in out):
        die("no Scala sources under %s" % MAIN_SRC)
    return sorted(out)


def build():
    """Compiles graft and the benchmark once per source hash; returns the
    class directory and the seconds spent compiling."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(classes, ".complete")):
            return classes, 0.0
        t0 = time.time()
        tmp = classes + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        argfile = os.path.join(BUILD, "sources.txt")
        with open(argfile, "w") as f:
            f.write("\n".join(srcs) + "\n")
        cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", spark_jars(), "scala.tools.nsc.Main",
               "-nowarn", "-Ybackend-parallelism", "4", "-d", tmp,
               "-classpath", spark_jars(), "@" + argfile]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT)
        if r.returncode != 0:
            sys.stderr.write(r.stdout.decode(errors="replace")[-4000:])
            die("compilation failed")
        open(os.path.join(tmp, ".complete"), "w").close()
        shutil.rmtree(classes, ignore_errors=True)
        os.rename(tmp, classes)
        return classes, time.time() - t0


def slots():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 2
    # one core for the benchmark's single client, the rest for Spark tasks
    return max(1, n - 1)


def run_jvm(classes, main_args, limit_s):
    work = os.path.join(BUILD, "work-%d" % os.getpid())
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-XX:+UseG1GC", "-Duser.timezone=UTC",
           "-Dderby.system.home=" + os.path.join(work, "derby"),
           "-Dderby.storage.pageCacheSize=%d" % DERBY_PAGE_CACHE,
           "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + spark_jars()] + main_args + \
        ["--work", work, "--slots", str(slots())]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr,
                            start_new_session=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        die("run exceeded %d s" % limit_s)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.decode(errors="replace").splitlines()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    t0 = time.time()
    classes, built_s = build()
    limit = RUN_LIMIT_S - (time.time() - t0 - built_s)
    if a.selftest:
        code, lines = run_jvm(classes, ["graftbench.SelfTest"], 600)
        print("\n".join(lines))
        sys.exit(code)
    if not a.workload:
        die("--workload is required")
    code, lines = run_jvm(classes, ["graftbench.Main", "--workload", a.workload,
                                    "--seed", str(a.seed), "--seconds", str(a.seconds),
                                    "--trace", str(a.trace)], limit)
    result = diag = None
    for line in lines:
        if line.startswith("GRAFTBENCH_RESULT "):
            result = json.loads(line.split(" ", 1)[1])
        elif line.startswith("GRAFTBENCH_DIAG "):
            diag = line.split(" ", 1)[1]
        else:
            print(line, file=sys.stderr)
    if code != 0 or result is None:
        die("benchmark JVM failed (exit %d)" % code)
    if diag:
        print("graftbench diagnostics: " + diag, file=sys.stderr)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
