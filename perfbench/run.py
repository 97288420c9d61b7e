#!/usr/bin/env python3
"""Benchmark command for the finance warehouse engine.

    python3 perfbench/run.py --workload <warehouse|board> --seed <n> \
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the program and the
benchmark from source with sbt (offline) and caches the runtime
classpath under perfbench/target; later runs start the JVM directly.
Everything a run writes stays under perfbench/work and perfbench/target.

The last line of standard output is one JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. The exit code is nonzero
when the build fails, the run fails, or the correctness gate fails.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
STAMP = os.path.join(TARGET, "classpath.stamp")
WORK = os.path.join(HERE, "work")
DATA = os.path.join(HERE, "data", "sf0.001")
EXPECTED_ROWS = os.path.join(HERE, "expected_rows.tsv")
WORKLOADS = ("warehouse", "board")
BUILD_TIMEOUT_S = 880
RUN_TIMEOUT_S = 170
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    inputs = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
              os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for tree in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, files in sorted(os.walk(tree)):
            inputs += [os.path.join(d, f) for f in sorted(files)]
    for path in inputs:
        if os.path.isfile(path):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, cwd, env, timeout, stdout):
    """Runs cmd in its own process group; kills the group on timeout and
    always waits for it to end."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                            start_new_session=True, text=True)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise
    return proc.returncode, out


def ensure_built():
    stamp = source_stamp()
    if os.path.isfile(CLASSPATH) and os.path.isfile(STAMP):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                return
    if not os.path.isdir(os.path.join(ROOT, "src", "main")):
        raise SystemExit("perfbench: the program's sources (src/main) are missing")
    log("building the program and the benchmark with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    code, _ = run_bounded(["sbt", "-batch", "-Dsbt.server.forcestart=false", "writeClasspath"],
                          HERE, env, BUILD_TIMEOUT_S, sys.stderr)
    if code != 0 or not os.path.isfile(CLASSPATH):
        raise SystemExit(f"perfbench: build failed (sbt exit {code})")
    with open(STAMP, "w") as f:
        f.write(stamp)
    # untraced pass times of an older build are no baseline for this one
    for w in WORKLOADS:
        if os.path.isfile(untraced_history(w)):
            os.remove(untraced_history(w))


def untraced_history(workload):
    return os.path.join(WORK, f"untraced_pass_s_{workload}.txt")


def main():
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, choices=("0", "1"))
    a = p.parse_args()

    ensure_built()
    with open(CLASSPATH) as f:
        classpath = f.read().strip()
    run_dir = os.path.join(WORK, a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    cmd = ["java", "-Xmx3g", "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"]
    for pkg in JVM_OPENS:
        cmd += ["--add-opens", f"{pkg}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", a.trace, "--work-dir", run_dir, "--data-dir", DATA,
            "--expected-rows", EXPECTED_ROWS]
    history = untraced_history(a.workload)
    if a.trace == "1" and os.path.isfile(history):
        with open(history) as f:
            past = [float(x) for x in f.read().split()]
        if past:
            cmd += ["--untraced-pass-s", repr(statistics.median(past))]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    code, out = run_bounded(cmd, run_dir, env, RUN_TIMEOUT_S, subprocess.PIPE)
    lines = out.splitlines()
    for line in lines[:-1]:
        print(line)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            print(lines[-1])
    # keep only the span file and the observed row counts of the run
    for name in os.listdir(run_dir):
        path = os.path.join(run_dir, name)
        if os.path.isdir(path):
            shutil.rmtree(path, ignore_errors=True)
    if result is None:
        raise SystemExit(f"perfbench: the run printed no result (exit {code})")
    if a.trace == "0" and code == 0:
        with open(history, "a") as f:
            f.write(f"{result['metrics']['pass_s']['value']}\n")
    print(lines[-1], flush=True)
    sys.exit(code)


if __name__ == "__main__":
    main()
