#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program from the
checkout's sources together with the benchmark (sbt, in this directory) and
records the runtime classpath; later runs reuse it until a source file
changes. Each run starts one JVM (`perfbench.Main`), which prints the
result JSON as its last stdout line; this script relays the JVM's output,
enforces the time limit and removes the run's scratch files.

Workloads, metrics and bounds are listed in BENCHMARK.json; README.md in this
directory describes the method.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected", "sf0.1.tsv")
WORK = os.path.join(ROOT, ".perfbench_work")
OUT = os.path.join(ROOT, ".perfbench_out")

RUN_LIMIT_S = 175       # a run after the build
BUILD_LIMIT_S = 720     # the build, when a run has to make one
HEAP = "-Xmx4g"


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Every file the build reads, program and benchmark alike."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"),
                os.path.join(HERE, "project"), os.path.join(HERE, "src")):
        for d, subdirs, names in os.walk(top):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return files


def fingerprint():
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, env=None, stdout=None):
    """Runs cmd in its own process group; kills the whole group on timeout
    or interrupt and waits for it. Returns (exit code, stdout text)."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=stdout, stderr=sys.stderr,
                         start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build(deadline):
    """Builds unless the recorded build is of the current sources; returns
    whether it built."""
    stamp = os.path.join(TARGET, "build.stamp")
    fp = fingerprint()
    launch = [os.path.join(TARGET, f) for f in ("classpath.txt", "jvm-options.txt")]
    if all(os.path.exists(f) for f in launch + [stamp]):
        with open(stamp) as fh:
            if fh.read() == fp:
                return False
    print("perfbench: building the program and the benchmark", file=sys.stderr)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    code, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                         "-Dsbt.server.forcestart=false", "writeLaunch"],
                        HERE, max(1, deadline - time.time()), env=env, stdout=sys.stderr)
    if code != 0:
        fail(f"build failed (sbt exit {code})", 1)
    with open(stamp, "w") as fh:
        fh.write(fp)
    return True


def check_data():
    sums = os.path.join(DATA, "SHA256SUMS")
    with open(sums) as fh:
        for line in fh:
            digest, name = line.split()
            with open(os.path.join(DATA, name), "rb") as f:
                if hashlib.sha256(f.read()).hexdigest() != digest:
                    fail(f"input table {name} does not match SHA256SUMS", 1)


def main():
    t0 = time.time()
    # a terminated run still stops its process group (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=("0", "1"), required=True)
    a = ap.parse_args()

    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(HERE, "build.sbt"), os.path.join(DATA, "SHA256SUMS"), EXPECTED):
        if not os.path.exists(need):
            fail(f"{os.path.relpath(need, ROOT)} is missing; run from the root of a full checkout")
    check_data()
    built = build(t0 + BUILD_LIMIT_S)
    deadline = t0 + RUN_LIMIT_S + (BUILD_LIMIT_S if built else 0)

    with open(os.path.join(TARGET, "classpath.txt")) as fh:
        classpath = fh.read().strip()
    with open(os.path.join(TARGET, "jvm-options.txt")) as fh:
        jvm_opts = [l for l in fh.read().splitlines() if l and not l.startswith("-Xmx")]
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + jvm_opts + [HEAP, "-cp", classpath, "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", a.trace, "--cores", str(cores), "--data", DATA,
           "--work", WORK, "--out", OUT, "--expected", EXPECTED])
    os.makedirs(WORK, exist_ok=True)
    try:
        code, out = run_group(cmd, ROOT, max(1, deadline - time.time()), stdout=subprocess.PIPE)
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit", 1)
    finally:
        shutil.rmtree(os.path.join(WORK, f"seed-{a.seed}"), ignore_errors=True)
    lines = out.splitlines()
    if code != 0 or not lines or not lines[-1].startswith('{"correct"'):
        sys.stderr.write(out or "")
        fail(f"benchmark JVM exited with {code} and no result", 1)
    sys.stdout.write(out)
    sys.stdout.flush()


if __name__ == "__main__":
    main()
