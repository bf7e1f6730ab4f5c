#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload analytics|store|live --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run builds the harness (the
repository's main sources plus perfbench/src) with sbt into
perfbench/target and reuses it afterwards. Each run starts one JVM at
local[N], N = the number of cores, and prints one `name value unit` line
per metric followed by the JSON result as the last line. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer ones.
Per-query, per-batch and per-span detail is written under
.bench_build/results/. See perfbench/README.md.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(ROOT, ".bench_build")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
WORKLOADS = ("analytics", "store")
JVM_TIMEOUT_S = 170
SETUP_REPEATS = 3

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def sources():
    pats = [os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "src", "main", "scala", "**", "*.scala"),
            os.path.join(HERE, "*.sbt"), os.path.join(HERE, "project", "*.properties")]
    return [f for p in pats for f in glob.glob(p, recursive=True)]


def build():
    """Compile with sbt (offline) unless the classpath file is newer than
    every source."""
    srcs = sources()
    if not glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"),
                     recursive=True):
        die("no repository sources under src/main/scala; run from the repository root")
    if os.path.exists(CLASSPATH) and \
            os.path.getmtime(CLASSPATH) >= max(os.path.getmtime(f) for f in srcs):
        return
    if shutil.which("sbt") is None:
        die("sbt not found")
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log = os.path.join(BUILD_DIR, "build.log")
    with open(log, "w") as out:
        # sbt's own state (global base, server socket) stays in the checkout
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                              f"-Dsbt.global.base={os.path.join(BUILD_DIR, 'sbt-global')}",
                              "-Dsbt.server.forcestart=false", "writeClasspath"],
                             cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, timeout=600)
    if rc != 0 or not os.path.exists(CLASSPATH):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        die(f"build failed (exit {rc}); see {log}")


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def java_cmd(work, args):
    """The JVM command line for graft.perfbench.Main, temp files under work."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    # the fixed heap is touched up front, so peak RSS does not depend on
    # which heap regions the collector happened to reach in a run
    return (["java", f"-XX:ActiveProcessorCount={cores()}",
             "-Xms2g", "-Xmx2g", "-Xmn512m", "-Xss4m", "-XX:+AlwaysPreTouch",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}", "-Dspark.ui.enabled=false"] +
            [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
            ["-cp", cp, "graft.perfbench.Main"] + args)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(BUILD_DIR, "work", f"{tag}-{os.getpid()}")
    results = os.path.join(BUILD_DIR, "results", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(results, exist_ok=True)
    try:
        pre_setup = 0.0
        extra = []
        if a.workload == "analytics":
            # the fixed tables, generated several times; set-up counts the median
            times = []
            for _ in range(SETUP_REPEATS):
                t0 = time.monotonic()
                subprocess.check_call([sys.executable, os.path.join(HERE, "gen_tables.py"),
                                       os.path.join(work, "tables")])
                times.append(time.monotonic() - t0)
            pre_setup = statistics.median(times)
            extra = ["--tables", os.path.join(work, "tables"),
                     "--pins", os.path.join(HERE, "pins.json")]
        cmd = java_cmd(work, ["--workload", a.workload, "--seed", str(a.seed),
                              "--seconds", str(a.seconds), "--trace", str(a.trace),
                              "--work", work, "--pre-setup-s", repr(pre_setup)] + extra)
        with open(os.path.join(results, "jvm.log"), "w") as err:
            p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                                 stdin=subprocess.DEVNULL, text=True)
            try:
                out, _ = p.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                die(f"run exceeded {JVM_TIMEOUT_S} s")
        lines = [l for l in out.splitlines() if l.strip()]
        if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
            with open(os.path.join(results, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-30:]))
            die(f"run failed (exit {p.returncode})")
        result = json.loads(lines[-1])
        for name in ("detail.json", "spans.jsonl"):
            if os.path.exists(os.path.join(work, name)):
                shutil.copy(os.path.join(work, name), os.path.join(results, name))
        for l in lines[:-1]:
            print(l)
        print(json.dumps(result, separators=(",", ":")))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
