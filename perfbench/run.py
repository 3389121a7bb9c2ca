#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the library together with the
harness (perfbench/build.sbt) on first use, caching the classpath under
.bench_build/ keyed by a hash of the sources; then runs the workload in
one JVM on local[nproc] and prints one JSON object as the last line of
stdout: end-to-end metrics with --trace 0, per-layer metrics with --trace 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import summary  # noqa: E402

WORKLOADS = ("prod2vec_train", "corpus_curate", "event_stream")
LIB_SRC = os.path.join(ROOT, "src", "main", "scala")
BUILD_DIR = os.path.join(ROOT, ".bench_build")  # also build.sbt's target
BUILD_DEADLINE_S = 700  # the first run in a checkout compiles
DEADLINE_S = 170        # every run, after the build
HEAP = "3g"

# Spark on JDK 17 needs these when the session is created outside spark-submit.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (LIB_SRC, os.path.join(HERE, "src", "main")):
        for d, _, names in sorted(os.walk(top)):
            files += [os.path.join(d, n) for n in sorted(names) if n.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def classpath():
    """Compile (once per source state) and return the runtime classpath."""
    stamp = source_stamp()
    cache = os.path.join(BUILD_DIR, "perfbench-classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("stamp") == stamp:
            return c["classpath"]
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    log = os.path.join(BUILD_DIR, "perfbench-build.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
                              "export Runtime/fullClasspath"],
                             cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh,
                             text=True, start_new_session=True)
        try:
            out, _ = p.communicate(timeout=BUILD_DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"build did not finish within {BUILD_DEADLINE_S} s, see {log}")
        fh.write(out)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        fail(f"build failed, see {log}")
    cp = lines[-1].strip()
    with open(cache, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


def run_jvm(cp, args, work):
    raw = os.path.join(work, "raw.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}",
           *ADD_OPENS, "-cp", cp, "perfbench.Main",
           args.workload, str(args.seed), str(args.seconds), str(args.trace),
           str(len(os.sched_getaffinity(0))), work, raw]
    log = os.path.join(work, "jvm.log")
    steal0 = cpu_steal()
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, stdout=fh, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            rc = p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"workload did not finish within {DEADLINE_S} s, see {log}")
    if rc != 0 or not os.path.exists(raw):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"JVM exited with {rc}, see {log}")
    if steal0 is not None:
        # CPU time the host gave to other guests while this run ran: the
        # witness of contention that no median inside the run can remove
        stolen = (cpu_steal() - steal0) / os.sysconf("SC_CLK_TCK")
        print(f"perfbench: {stolen:.1f} s of CPU stolen by the host during the run", file=sys.stderr)
    with open(raw) as fh:
        return json.load(fh)


def cpu_steal():
    """Machine-wide steal jiffies from /proc/stat, or None where absent."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8])
    except (OSError, IndexError, ValueError):
        return None


def units():
    """metric -> unit, from BENCHMARK.json at the checkout root."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(LIB_SRC, "graft")):
        fail(f"library sources not found under {os.path.relpath(LIB_SRC, os.getcwd())}; "
             "run from the root of a full checkout")
    cp = classpath()
    work = os.path.join(BUILD_DIR, "work", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        raw = run_jvm(cp, args, work)
        result = summary.summarize(raw, units(), os.path.join(BUILD_DIR, "traces"))
    finally:
        # keep the run's log and raw record, drop its data
        for d in ("data", "spark-local", "tmp"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
