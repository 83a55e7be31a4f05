#!/usr/bin/env python3
"""Benchmark of the insurance medallion engine: one command per run.

    python3 perfbench/run.py --workload dag_refresh --seed 1 --seconds 1 --trace 0

Run from the repository root. The first run builds the engine and the
benchmark from source with sbt (perfbench/build.sbt depends on the root
project) and records the runtime classpath; later runs reuse it until a
source file changes. Each run then starts one JVM that generates the
seeded inputs, sets up, measures for --seconds, checks the outputs and
prints, as its last stdout line, one JSON object with the keys
correct, attempted, failed and metrics. Every run's full output (context
line included) is also kept under perfbench/results/.

Exit status: 0 when every operation and check passed, 1 when one failed,
2 when the engine sources or the build are missing, 3 on timeout.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "perfbench.stamp")
WORKLOADS = ("dag_refresh", "cdc_trickle")
HEAP = "-Xmx3g"
RUN_TIMEOUT_S = 177
BUILD_TIMEOUT_S = 880
# Spark on JDK 17 outside spark-submit needs the same module openings the
# engine's own build passes to its forked JVMs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(code, msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_digest():
    """Digest of every file the build reads, or None if the engine is absent."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    if not all(os.path.isdir(r) for r in roots) or not all(map(os.path.isfile, files)):
        return None
    for r in roots:
        for d, _, names in sorted(os.walk(r)):
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    digest = source_digest()
    if digest is None:
        fail(2, "engine sources or build files not found; run from the repository root")
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "--batch", "-Dsbt.server.autostart=false", "writeClasspath"]
    try:
        # build chatter goes to stderr: stdout's last line is the result
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(2, f"build failed: {e}")
    if rc != 0 or not os.path.isfile(CLASSPATH):
        fail(2, f"build failed with exit code {rc}")
    with open(STAMP, "w") as fh:
        fh.write(digest)


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "unknown"
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    with open(CLASSPATH) as fh:
        classpath = fh.read().strip()
    work = os.path.join(HERE, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cpus = len(os.sched_getaffinity(0))
    cmd = (["java", HEAP, f"-Djava.io.tmpdir={work}/tmp"] +
           [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS] +
           ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--work", work, "--cpus", str(cpus), "--commit", git_commit()])
    lines = []
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True)
    try:
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(3, f"run exceeded {RUN_TIMEOUT_S} s")
        lines = out.splitlines()
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)

    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    if not isinstance(result, dict) or set(result) != {"correct", "attempted", "failed", "metrics"}:
        sys.stdout.write("\n".join(lines) + "\n")
        fail(proc.returncode or 1, "run printed no result line")
    for line in lines[:-1]:
        print(line)
    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    context = next((json.loads(l[len("context "):]) for l in lines
                    if l.startswith("context ")), {})
    name = f"{a.workload}_seed{a.seed}_trace{a.trace}_{os.getpid()}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump({"context": context, "result": result}, fh, indent=1)
    print(json.dumps(result))
    sys.exit(proc.returncode)


if __name__ == "__main__":
    main()
