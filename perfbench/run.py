#!/usr/bin/env python3
"""Connector workflow benchmark: backfill and trickle sync over FileBus.

Run from the root of a checkout:

    python3 perfbench/run.py --workload backfill_json --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 1
    python3 perfbench/run.py --smoke       # every workload and check, tiny size
    python3 perfbench/run.py --selftest    # the benchmark's own arithmetic

The first run compiles the library (src/main/scala) together with the
benchmark (perfbench/src/main/scala) with scalac against the Spark jars,
into .bench_build/; later runs reuse the build while the sources are
unchanged. Each workload runs in one JVM. The last line of standard output
is the result object; the line before it carries the seed, sample counts,
check results, environment and the trace artifact's path.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

WORKLOADS = ["backfill_json", "trickle_json"]
HEAP = "2g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these when a session starts outside spark-submit
# (org.apache.spark.launcher.JavaModuleOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the repo build's
    unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if m and os.path.isdir(m.group(1)):
        return m.group(1)
    fail("no Spark jars: set SPARK_HOME")


def sources(test=False):
    lib = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(lib):
        fail("library sources src/main/scala not found; run from a checkout root")
    dirs = [lib, os.path.join(HERE, "src", "main", "scala")]
    if test:
        dirs.append(os.path.join(HERE, "src", "test", "scala"))
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def build(test=False):
    """Compile once per source content; returns the class directory."""
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, ".lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        return build_locked(test)


def build_locked(test):
    files = sources(test)
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(BUILD, ("test-" if test else "classes-") + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, ".done")):
        return out
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    jars = os.path.join(spark_jars(), "*")
    t = time.time()
    print(f"perfbench: compiling {len(files)} sources", file=sys.stderr)
    try:
        r = subprocess.run(
            ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
             "scala.tools.nsc.Main",
             "-usejavacp", "-nowarn", "-d", tmp] + files,
            stdout=sys.stderr, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("compile timed out")
    if r.returncode != 0:
        fail("compile failed")
    open(os.path.join(tmp, ".done"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    print(f"perfbench: compiled in {time.time() - t:.0f} s", file=sys.stderr)
    return out


def java_cmd(classes, main, args, tmpdir):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    # no perf-data file, so the JVM writes nothing outside the checkout
    return (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
             f"-Djava.io.tmpdir={tmpdir}",
             "-Dspark.ui.enabled=false"] + opens +
            ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"), main] + args)


def run_workload(classes, workload, seed, seconds, trace, size):
    """One JVM run; returns (info, result) or exits non-zero."""
    work = os.path.join(BUILD, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmpdir = os.path.join(work, "tmp")
    os.makedirs(tmpdir)
    launch_ms = int(time.time() * 1000)
    cmd = java_cmd(classes, "perfbench.Main", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--size", size, "--work", work,
        "--launch-ms", str(launch_ms)], tmpdir)
    log = os.path.join(BUILD, "logs", f"{workload}-{seed}-{trace}.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    try:
        with open(log, "w") as err:
            r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                               timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail(f"{workload} timed out after {RUN_TIMEOUT_S} s (log: {log})")
    info = result = None
    for line in r.stdout.splitlines():
        if line.startswith("PERFBENCH_INFO "):
            info = json.loads(line[len("PERFBENCH_INFO "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if r.returncode != 0 or result is None:
        fail(f"{workload} exited with {r.returncode} and no result (log: {log})")
    if info and info.get("trace_file") and os.path.exists(info["trace_file"]):
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        dest = os.path.join(traces, os.path.basename(info["trace_file"]))
        shutil.move(info["trace_file"], dest)
        info["trace_file"] = os.path.relpath(dest, ROOT)
    shutil.rmtree(work, ignore_errors=True)
    return info, result


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, traced and untraced, at smoke size")
    ap.add_argument("--selftest", action="store_true",
                    help="check the benchmark's own arithmetic")
    a = ap.parse_args()

    if a.selftest:
        classes = build(test=True)
        tmpdir = os.path.join(BUILD, "tmp")
        os.makedirs(tmpdir, exist_ok=True)
        sys.exit(subprocess.run(java_cmd(classes, "perfbench.ArithmeticCheck", [],
                                         tmpdir)).returncode)

    classes = build()
    if a.smoke:
        ok = True
        for w in WORKLOADS:
            for trace in (0, 1):
                info, result = run_workload(classes, w, a.seed, 1, trace, "smoke")
                bad = [c["name"] for c in info["checks_failed"]]
                print(json.dumps({"workload": w, "trace": trace, "correct": result["correct"],
                                  "attempted": result["attempted"], "failed": result["failed"],
                                  "failed_checks": bad}))
                ok = ok and result["correct"] and result["failed"] == 0
        sys.exit(0 if ok else 1)

    for w in (WORKLOADS if a.workload == "all" else [a.workload]):
        info, result = run_workload(classes, w, a.seed, a.seconds, a.trace, "full")
        print(json.dumps(info))
        print(json.dumps(result))


if __name__ == "__main__":
    main()
